package perfbench

import graft.core.StepMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** What one pass over a workload's inputs measured. */
final class Pass(val traced: Boolean, val checked: Boolean = true) {
  /** Wall seconds of each op, in call order. */
  val opWall = mutable.LinkedHashMap[String, Double]()
  /** Supersteps executed by the pass's iterative calls. */
  val steps = ArrayBuffer[StepMetrics]()
  /** Layer metrics derived from the results, by metric name. */
  val layer = mutable.Map[String, Double]()
  var peakTaskMem = 0L
  /** Seconds spent checking results (outside the timed region). */
  var checkS = 0.0
  def wallS: Double = opWall.values.sum
  /** Edges traversed per second of superstep wall, in billions: Totem's
   * exec_rate over the pass's supersteps. */
  def gteps: Double = {
    val stepMs = steps.map(_.wallMs).sum
    if (stepMs == 0) 0.0 else steps.map(_.edgesTraversed).sum / (stepMs / 1e3) / 1e9
  }
}

/**
 * Runs a workload's ops one at a time. Each op starts from an empty cache
 * (cached tables and persisted RDDs left by earlier ops are dropped), is
 * timed until its result is fully materialized, and is then checked
 * against its reference outside the timed region (the warm-up pass's
 * results are not). An exception or a mismatch is recorded as a failure
 * with its class and message.
 */
final class Runner(val spark: SparkSession, val tracer: Tracer, meter: TaskMeter) {
  private val sc = spark.sparkContext
  var attempted = 0
  val failures = ArrayBuffer[String]()
  var pass = new Pass(false)

  private def isolate(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Times `body` as op `name`, then hands its result to `check`, which
   * throws [[Mismatch]] on a wrong result and may record layer metrics. */
  def op[A](name: String)(body: => A)(check: A => Unit): Unit = {
    isolate()
    // the previous op's checks ran jobs too: its peak is not this op's
    meter.takePeak(sc)
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer(name)(body)) catch { case NonFatal(e) => Left(e) }
    pass.opWall(name) = (System.nanoTime() - t0) / 1e9
    pass.layer(s"$name.leaked_rdds") = sc.getPersistentRDDs.size.toDouble
    pass.peakTaskMem = math.max(pass.peakTaskMem, meter.takePeak(sc))
    val c0 = System.nanoTime()
    try res.fold(throw _, r => if (pass.checked) check(r))
    catch {
      case NonFatal(e) =>
        val msg = s"$name: ${e.getClass.getName}: ${e.getMessage}".replaceAll("\\s+", " ")
        failures += msg
        println(s"[perfbench] FAIL $msg")
    }
    pass.checkS += (System.nanoTime() - c0) / 1e9
  }

  /** Fully materializes `df` without keeping it. */
  def sink(df: DataFrame): Unit =
    tracer("sink")(df.write.format("noop").mode("overwrite").save())

  /** Materializes `df` as parquet at `path`, for a later op to read. */
  def sinkTo(df: DataFrame, path: String): Unit =
    tracer("sink")(df.write.mode("overwrite").parquet(path))

  /** Runs `body` and returns its result with its wall seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Records the per-call superstep metrics of an iterative call:
   * init time (call wall minus superstep wall), median and first superstep. */
  def recordSteps(prefix: String, steps: Seq[StepMetrics], callS: Double): Unit = {
    pass.steps ++= steps
    pass.layer(s"$prefix.init_s") = callS - steps.map(_.wallMs).sum / 1e3
    pass.layer(s"$prefix.step_ms_p50") = Stats.median(steps.map(_.wallMs.toDouble))
  }
}
