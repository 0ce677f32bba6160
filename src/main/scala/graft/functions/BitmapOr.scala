package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftinternal.GraftSql
import org.apache.spark.sql.types._

/**
 * Fixed-width set bitmap from dense element ids: OR of `1L << (sid % 64)`
 * into word `sid / 64` over a `width`-long buffer — the build side of the
 * PPJoin bitmap verify ([[graft.dedup.Dedup.ngramJaccardPairs]]) and of
 * each document's kept-band mask in [[graft.dedup.MinHash]]'s banding.
 *
 * Why a custom Catalyst aggregate (the TopKStructs/RegisterMax precedent):
 * the declarative form — `collect_list` all ids, then an `aggregate` fold
 * whose lambda `transform`s the whole accumulator array per element —
 * COPIES the width-long array once per set element: O(setSize × width)
 * allocation churn per document, which at bench scale (width ~300 words,
 * ~300 shingles/doc, 50k docs) is tens of GB of garbage and a G1
 * GCLocker storm (observed OOM on the 10× text-scaling leg). This
 * aggregate sets one bit per input row into a single mutable buffer —
 * O(1)/row, O(width)/merge — inside ObjectHashAggregateExec with map-side
 * partial aggregation; the shuffled partial is the packed bitmap itself.
 *
 * Ids outside [0, width·64) are a programming error upstream (ids come
 * from a dense global rank); they fail loudly. Null ids are skipped.
 */
case class BitmapOr(
    child: Expression, width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(width >= 1, s"width must be >= 1, got $width")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bitmap_or"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val sid = v.asInstanceOf[Long]
      require(sid >= 0 && sid < width.toLong * 64,
        s"bitmap id $sid outside [0, ${width.toLong * 64})")
      buf((sid >>> 6).toInt) |= 1L << (sid & 63)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < width) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(x => x: Any))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(width * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](width)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapOr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapOr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapOr =
    copy(child = newChildren(0))
}

object BitmapOr {
  /** Column-level entry: `width`-long bitmap with bit `sid` set for every
   * input id. */
  def agg(sid: Column, width: Int): Column =
    GraftSql.column(BitmapOr(GraftSql.expression(sid), width).toAggregateExpression())
}
