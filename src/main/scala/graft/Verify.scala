package graft
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter — builder-side
    // fast iteration; the driver always passes exactly two args = run all]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // survive multi-minute hypervisor stalls (heartbeat receiver would
      // otherwise remove the local executor and wedge the dump mid-round)
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // The recursive-CTE oracles cap traversal depth / path cost; these
    // guards size the caps FROM THE DATA so a dataset whose diameter or
    // path cost outgrows a cap fails loudly instead of silently producing
    // a bogus oracle. q_apsp_sample shares graph+roots with q_closeness,
    // q_betweenness and q_stress (Brandes unroll depth 8); q_bfs shares
    // graph+source with q_bfs_tree.
    val guards: Map[String, (String, Long)] = Map(
      "q_bfs" -> ("cost", 15L),          // bfsSql / bfsTreeSql: walk.d < 15
      "q_apsp_sample" -> ("dist", 8L),   // brandesSql depth 8 (also < 15 cap)
      "q_sssp" -> ("dist", 40L))         // ssspSql: walk.d < 40
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        guards.get(name).foreach { case (colName, cap) =>
          val mx = spark.read.parquet(s"$outDir/$name")
            .agg(org.apache.spark.sql.functions.max(
              org.apache.spark.sql.functions.col(colName).cast("double")))
            .collect()(0).getDouble(0)
          require(mx < cap,
            s"$name: max($colName)=$mx breaches the oracle unroll/recursion cap $cap — " +
              "the DuckDB oracle would silently diverge; raise the cap in SparkEntry")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and every control char, so a tab
    // or CR in an oracle's SQL cannot break the file's JSON
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
