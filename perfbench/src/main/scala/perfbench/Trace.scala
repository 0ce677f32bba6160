package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Task counters of the tasks attributed to one span. */
final class TaskStats {
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var peakMem = 0L
  /** Task durations (ms) per stage, for the skew of the dominant stage. */
  val taskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]

  def add(o: TaskStats): Unit = {
    shuffleBytes += o.shuffleBytes
    shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes
    gcMs += o.gcMs
    peakMem = math.max(peakMem, o.peakMem)
    o.taskMs.foreach { case (st, ms) => taskMs.getOrElseUpdate(st, ArrayBuffer()) ++= ms }
  }

  /** max / median task time of the stage that took the most task time. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val ms = taskMs.values.maxBy(_.sum).sorted
      val med = Stats.median(ms.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ms.last / med
    }
}

/**
 * Spark listener that attributes every finished task to the span open on
 * the driver thread when the task's job was submitted (carried as a job
 * local property), and tracks the largest task execution memory seen.
 */
final class TaskMeter extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, TaskStats]
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(TaskMeter.SpanKey)))
    span.foreach(s => synchronized(e.stageIds.foreach(stageSpan(_) = s.toInt)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      peak = math.max(peak, m.peakExecutionMemory)
      stageSpan.get(e.stageId).foreach { s =>
        val st = bySpan.getOrElseUpdate(s, new TaskStats)
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        st.spillBytes += m.diskBytesSpilled
        st.gcMs += m.jvmGCTime
        st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
        st.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += e.taskInfo.duration
      }
    }
  }

  /** Largest task peak execution memory since the last call, in bytes. */
  def takePeak(sc: SparkContext): Long = {
    org.apache.spark.ListenerDrain(sc)
    synchronized { val p = peak; peak = 0L; p }
  }

  /** Counters of the tasks attributed to `span` (not its children). */
  def statsOf(span: Int): TaskStats = synchronized(bySpan.getOrElse(span, new TaskStats))
}

object TaskMeter {
  val SpanKey = "perfbench.span"
}

/** One traced interval. `trace` groups the spans of one workload pass. */
final case class Span(id: Int, parent: Int, trace: Int, name: String, startNs: Long) {
  var endNs: Long = startNs
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span recorder. Spans are opened by the benchmark around each
 * call into a module's public function; while `on` is false the body just
 * runs and nothing is recorded.
 */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  var on = false
  var trace = 0

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), trace, name, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(TaskMeter.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(TaskMeter.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the time covered by child spans (children never overlap:
   * spans nest on the single driver thread). */
  def selfNs(s: Span): Long = s.durNs - children(s).map(_.durNs).sum

  /** Counters of `s` and all its descendants. */
  def inclusive(s: Span, meter: TaskMeter): TaskStats = {
    val acc = new TaskStats
    def walk(x: Span): Unit = { acc.add(meter.statsOf(x.id)); children(x).foreach(walk) }
    walk(s)
    acc
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
