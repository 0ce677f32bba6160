package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed global ordering primitives.
 *
 * A `Window.orderBy` with no `partitionBy` funnels every row through ONE
 * task — fatal at web scale. Both helpers here compute the same result with
 * a range repartition (each task owns one contiguous sort range), a
 * per-partition window, and a broadcast prefix-sum of per-partition totals
 * (a tiny driver array — numBuckets entries). O(n log n) shuffle, no
 * single-task stage; `EdgeExtract.urlDictionary` uses the same prefix-sum
 * trick over hash buckets of urls instead of sort ranges.
 *
 * Range boundaries come from Spark's sampling RangePartitioner; they affect
 * only WHERE a range is computed, never the result, because `order` must be
 * a total order (include a unique tiebreak column such as the vertex id).
 */
object Ranking {

  /** Add `rankName`: dense 0-based global rank of each row under `order`. */
  def globalRank(df: DataFrame, order: Seq[Column], rankName: String,
                 buckets: Int = 256): DataFrame =
    withOffsets(df, order, buckets, count(lit(1)).cast("long")) { (ranged, w) =>
      ranged.withColumn("__v", row_number().over(w).cast("long") - 1L)
    }.withColumnRenamed("__g", rankName)

  /** Add `sumName`: global running sum of `value` under `order` (inclusive
   * of the current row) — the distributed `sum(value).over(orderBy(...))`. */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column,
                       sumName: String, buckets: Int = 256): DataFrame =
    withOffsets(df, order, buckets, sum(value).cast("long")) { (ranged, w) =>
      ranged.withColumn("__v", sum(value).over(w).cast("long"))
    }.withColumnRenamed("__g", sumName)

  /** Shared machinery: range-partition by `order`, compute a per-row value
   * within each partition (rank or running sum), add the prefix-sum offset
   * of the per-partition totals. `total` is the aggregate whose per-partition
   * prefix sums become the offsets. */
  private def withOffsets(df: DataFrame, order: Seq[Column], buckets: Int,
                          total: Column)(
      perPartition: (DataFrame, org.apache.spark.sql.expressions.WindowSpec) => DataFrame)
  : DataFrame = {
    val spark = df.sparkSession
    // FREEZE the range partitioning: pin the exchange to one concrete RDD so
    // the totals job here and the caller's later execution read the SAME
    // shuffle output (Spark skips the map stage on the reused shuffle
    // dependency). Re-planning a repartitionByRange per action would
    // re-SAMPLE the range boundaries (the sampler's seed varies with the
    // physical RDD id): on data large enough for partial sampling the two
    // executions could place rows in different __pid ranges than the
    // offsets were computed from, silently corrupting every rank. A
    // persist-then-unpersist cannot guarantee this (blocks may drop before
    // the caller runs); shuffle-file reuse can, with no cache footprint.
    // Frozen at the InternalRow level (same bridge as Lineage.cut) — a
    // df.rdd round-trip would decode/re-encode every row, which for
    // shufflePositions means the full document text. The defensive copy()
    // is required: the shuffle reader reuses one row buffer per stream.
    val rangedPlan = df.repartitionByRange(buckets, order: _*)
    val internal = rangedPlan.queryExecution.toRdd.map(_.copy())
    val ranged = org.apache.spark.sql.graftinternal.GraftSql
      .fromInternalRdd(spark, internal, rangedPlan.schema)
      .withColumn("__pid", spark_partition_id())
    val totals = ranged.groupBy("__pid").agg(total.as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = if (totals.isEmpty) 0 else totals.keys.max
    val offsets = (0 to maxPid).scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 to maxPid).map(p => org.apache.spark.sql.Row(p, offsets(p))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__off", org.apache.spark.sql.types.LongType))))
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    val out = perPartition(ranged, w)
      .join(broadcast(offDf), "__pid")
      .withColumn("__g", col("__off") + col("__v"))
      .drop("__pid", "__v", "__off")
    out
  }
}
