package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TopKStructs

/** Custom Catalyst aggregate: bounded top-k vs the collect-sort-slice
 * formulation it replaces (exact, including in-array order). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def data: DataFrame = {
    val rows = for {
      g <- 0 until 40
      i <- 0 until (g % 7) * 29 + 3
    } yield (g.toLong,
      ((i * 2654435761L + g * 97L) % 13L).toDouble / 7.0, // duplicate np values → tie stress
      (i * 31 + g) % 1000L,
      i.toDouble)
    rows.toDF("vid", "np", "l", "p")
      // l unique within a group (the LabelRank contract: one row per label)
      .groupBy("vid", "l").agg(min("np").as("np"), min("p").as("p"))
  }

  private def viaAgg(df: DataFrame, k: Int) = df.groupBy("vid")
    .agg(TopKStructs.topK(col("np"), col("l"), col("p"), k).as("topk"))

  private def viaSort(df: DataFrame, k: Int) = df.groupBy("vid")
    .agg(collect_list(struct(col("np"), col("l"), col("p"))).as("all"))
    .select(col("vid"), slice(array_sort(col("all")), 1, k).as("topk"))

  private def topkMap(df: DataFrame) = df.collect().map { r =>
    r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getDouble(0), x.getLong(1), x.getDouble(2)))
  }.toMap

  test("bounded top-k equals sort-then-slice, including in-array order") {
    val df = data.cache()
    assert(topkMap(viaAgg(df, 16)) == topkMap(viaSort(df, 16)))
    assert(topkMap(viaAgg(df, 1)) == topkMap(viaSort(df, 1)))
    df.unpersist()
  }

  test("merge + serialize path: partitioning-invariant") {
    val df = data
    val a = topkMap(viaAgg(df.repartition(17), 16))
    val b = topkMap(viaAgg(df.repartition(2), 16))
    assert(a == b && a.nonEmpty)
    // groups smaller than k return everything, sorted
    assert(a.forall { case (_, xs) =>
      xs == xs.sortBy(t => (t._1, t._2)) && xs.size <= 16 })
  }

  test("register max: serialized bytes do not change when the buffer merges on") {
    val agg = graft.functions.RegisterMax(
      org.apache.spark.sql.catalyst.expressions.Literal.create(null,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType)), m = 4)
    val buf = agg.createAggregationBuffer()
    buf(0) = 3; buf(2) = 7
    val bytes = agg.serialize(buf)
    agg.merge(buf, Array[Byte](9, 9, 9, 9))
    assert(bytes.toSeq == Seq[Byte](3, 0, 7, 0))
    assert(agg.deserialize(bytes).toSeq == Seq[Byte](3, 0, 7, 0))
  }

  // ---- Misra-Gries heavy hitters ----

  private def hhRun(df: DataFrame, capacity: Int) = {
    val r = df.agg(graft.functions.HeavyHittersAgg
        .heavyHitters(col("k"), capacity).as("hh"))
      .select(col("hh.items").as("items"), col("hh.max_error").as("e"))
      .collect()(0)
    val items = r.getSeq[org.apache.spark.sql.Row](0)
      .map(x => x.getString(0) -> x.getLong(1))
    (items, r.getLong(1))
  }

  test("heavy hitters: exact regime (capacity > distinct) equals groupBy count") {
    val rows = (0 until 5000).map(i => s"k${(i * 2654435761L % 97L)}")
    val df = rows.toDF("k")
    val want = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .toSeq.sortBy { case (k, c) => (-c, k) }
    val (items, err) = hhRun(df, capacity = 128)
    assert(err == 0L)
    assert(items == want)
    // serialize/merge path: same answer at any partitioning
    assert(hhRun(df.repartition(13), 128) == ((want, 0L)))
  }

  test("heavy hitters: approximate regime honors the MG guarantees") {
    // skewed stream: "hot" 60%, 200 distinct cold keys share the rest
    val rows = (0 until 3000).map(i =>
      if (i % 5 < 3) "hot" else s"cold${i % 200}")
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val (items, err) = hhRun(rows.toDF("k").repartition(7), capacity = 8)
    assert(err > 0L, "capacity 8 << 201 distinct must decrement")
    // every emitted count is a lower bound within max_error of the truth
    items.foreach { case (k, c) =>
      assert(c <= truth(k), s"$k overcounted: $c > ${truth(k)}")
      assert(c >= truth(k) - err, s"$k below the error floor")
    }
    // any key with true count > max_error is guaranteed to survive
    val mustSurvive = truth.filter(_._2 > err).keySet
    assert(mustSurvive.subsetOf(items.map(_._1).toSet))
    assert(items.map(_._1).contains("hot"))
  }

  test("heavy hitters rejects a non-string key at analysis time") {
    val df = Seq(1L, 2L, 2L).toDF("k")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(graft.functions.HeavyHittersAgg.heavyHitters(col("k"), 4)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("string"))
  }
}
