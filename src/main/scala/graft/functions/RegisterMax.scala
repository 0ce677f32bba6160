package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.GraftSql
import org.apache.spark.sql.types._

/**
 * Elementwise max over fixed-width `array<tinyint>` register vectors — the
 * HyperLogLog scatter-combine of [[graft.alg.Anf]] as ONE aggregate instead
 * of m per-column `max`es.
 *
 * Why a custom Catalyst aggregate (the TopKStructs precedent): HyperBall's
 * per-superstep scatter merges each vertex's m = 64 registers across all
 * in-edges. As 64 separate INT columns (the previous shape) every exploded
 * edge message occupied 64 eight-byte UnsafeRow slots ≈ 512 B on the
 * shuffle wire; as one byte-array column the same registers serialize to
 * m bytes (+ array header) ≈ 80 B — a ~6× message-width cut at identical
 * semantics (register values are ρ ≤ 33, far inside a byte). The buffer is
 * a plain `Array[Byte](m)` whose zero state IS the max-identity (registers
 * are non-negative), update/merge are branchless elementwise max loops,
 * and serialization is a copy of the raw buffer — the exact bounded-outbox
 * shape the engine's other typed aggregate (TopKStructs) establishes,
 * running inside ObjectHashAggregateExec with map-side partial aggregation.
 *
 * A null or wrong-width input vector is a programming error upstream
 * (state rows always carry exactly m registers); nulls are skipped to keep
 * the aggregate total, width is asserted.
 */
case class RegisterMax(
    child: Expression, m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(m >= 1, s"m must be >= 1, got $m")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "register_max"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == m,
        s"register vector width ${arr.numElements()} != m=$m")
      var i = 0
      while (i < m) {
        val b = arr.getByte(i)
        if (b > buf(i)) buf(i) = b
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(b => b: Any))

  // a copy, as BitmapOr's fresh array: the caller may keep the bytes while
  // this buffer goes on merging
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): RegisterMax =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RegisterMax =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RegisterMax =
    copy(child = newChildren(0))
}

object RegisterMax {
  /** Column-level entry: elementwise max of `array<tinyint>` vectors of
   * exactly `m` elements. */
  def max(regs: Column, m: Int): Column =
    GraftSql.column(RegisterMax(GraftSql.expression(regs), m).toAggregateExpression())
}
