package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/**
 * The benchmark of record. For one workload and seed it generates the
 * inputs (set-up, timed as `setup_s`, including one warm-up pass per
 * set-up), then runs passes for `--seconds` and writes one JSON result line
 * to `<out>/results.jsonl`:
 *
 *  - `--trace 0`: the end-to-end metrics, from untraced passes;
 *  - `--trace 1`: the per-layer metrics, from traced passes alternated
 *    with untraced ones, plus the tracing overhead between the two; the spans go to `<out>/trace-<workload>-<seed>.json`.
 *
 * `--smoke` runs small inputs without the warm-up pass and reports both
 * metric sets, for the self-test; `--workload all` runs every workload in
 * one JVM.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        smoke: Boolean, out: String)

  private val json = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args("", 1L, 10, trace = false, smoke = false, ".bench_build/perfbench"))
    val sizes = if (a.smoke) Sizes.Smoke else Sizes.Full
    val names = if (a.workload == "all") Workload.Names else Seq(a.workload)
    require(names.forall(Workload.Names.contains), s"unknown workload ${a.workload}")
    val spark = session(math.min(4, Runtime.getRuntime.availableProcessors), a.out)
    val results = new File(s"${a.out}/results.jsonl")
    Files.deleteIfExists(results.toPath)
    try names.foreach { n =>
      val line = run(Workload(n, spark, sizes), a)
      Files.writeString(results.toPath, line + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    finally spark.stop()
    sys.exit(0)
  }

  @annotation.tailrec
  private def parse(rest: List[String], a: Args): Args = rest match {
    case Nil =>
      require(a.workload.nonEmpty, "--workload is required")
      a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--smoke" :: t => parse(t, a.copy(smoke = true, trace = true))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  /** The engine's own bench session settings, at local[cores], plus a
   * codegen cache that holds every plan of a workload. */
  private def session(cores: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "512")
      // passes re-run the same plans: keep all their generated classes, or
      // the default 100-entry cache evicts and recompiles them every pass
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
    }
  }

  /** Runs one workload and returns its result line. */
  private def run(w: Workload, a: Args): String = {
    val spark = w.spark
    val meter = new TaskMeter
    spark.sparkContext.addSparkListener(meter)
    val tracer = new Tracer(spark.sparkContext)
    val runner = new Runner(spark, tracer, meter)
    val inputs = s"${a.out}/inputs/${w.name}-${w.params}-seed${a.seed}"
    var passNo = 0
    def uptime: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(f"[perfbench] t=$uptime%.1fs ${w.name}: set-up starts")

    def pass(in: String, traced: Boolean, checked: Boolean = true): Pass = {
      runner.pass = new Pass(traced, checked)
      tracer.on = traced
      tracer.trace = passNo
      val work = s"${a.out}/work/${w.name}-pass$passNo"
      delete(work)
      Files.createDirectories(Paths.get(work))
      try tracer(w.name)(w.pass(runner, in, work)) finally delete(work)
      println(f"[perfbench] t=$uptime%.1fs pass $passNo${if (traced) " traced" else ""}: " +
        runner.pass.opWall.map { case (o, s) => f"$o=$s%.3f" }.mkString(" ") +
        f" (checks ${runner.pass.checkS}%.3f)")
      passNo += 1
      runner.pass
    }

    // set-up: the inputs are generated, then get one warm-up pass, whose
    // ops count (an exception fails them) but whose results are not checked
    delete(inputs)
    val (_, genS) = runner.timed(w.generate(inputs, a.seed))
    val warmS = if (a.smoke) 0.0 else pass(inputs, traced = false, checked = false).wallS
    val setupS = genS + warmS

    val passes = ArrayBuffer[Pass]()
    // a pass takes longer than a run's seconds at the default sizes, so a
    // plain run measures one pass and a traced run three (plain, traced,
    // plain: the tracing overhead against the plain passes around it); a
    // smoke run measures one plain and one traced pass
    val minPasses = if (a.smoke) 2 else if (a.trace) 3 else 1
    val t0 = System.nanoTime()
    while (passes.size < minPasses || System.nanoTime() - t0 < a.seconds * 1000000000L)
      passes += pass(inputs, traced = a.trace && passes.size % 2 == 1)

    val probes =
      if (!a.trace) Map.empty[String, Double]
      else {
        val work = s"${a.out}/work/${w.name}-probes"
        delete(work)
        Files.createDirectories(Paths.get(work))
        try w.probes(inputs, work) finally delete(work)
      }
    delete(inputs)
    spark.sparkContext.removeSparkListener(meter)

    val plain = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val failRate = runner.failures.size.toDouble / runner.attempted
    val walls = plain.map(_.wallS)
    println(f"[perfbench] ${w.name} seed=${a.seed} setup_s=$setupS%.3f (generate $genS%.3f, warm-up $warmS%.3f) " +
      f"passes=${plain.size}+${traced.size} traced wall_s p25=${Stats.quantile(walls, 0.25)}%.3f " +
      f"p50=${Stats.median(walls)}%.3f p75=${Stats.quantile(walls, 0.75)}%.3f " +
      f"attempted=${runner.attempted} failed=${runner.failures.size} fail_rate=$failRate%.4f")
    val opNames = passes.head.opWall.keys.toSeq
    println("[perfbench] op wall_s p50: " + opNames.map(o =>
      f"$o=${Stats.median(plain.flatMap(_.opWall.get(o)))}%.3f").mkString(" "))

    val endToEnd = Map(
      "wall_s" -> Stats.median(walls),
      "peak_task_mem_mb" -> Stats.median(plain.map(_.peakTaskMem / 1048576.0)),
      "supersteps" -> Stats.median(plain.map(_.steps.size.toDouble)),
      "setup_s" -> setupS)
    val perLayer =
      if (!a.trace) Map.empty[String, Double]
      else {
        val overhead = Stats.median(traced.map(_.wallS)) - Stats.median(walls)
        val m = layerMetrics(traced, tracer, meter) ++ probes ++
          Map("fail_rate" -> failRate, "trace.overhead_s" -> overhead)
        val traceFile = s"${a.out}/trace-${w.name}-${a.seed}.json"
        writeTrace(traceFile, w, a, tracer, meter)
        println(f"[perfbench] trace: ${tracer.spans.size} spans in $traceFile, overhead_s=$overhead%.3f")
        m
      }
    val declared = (if (a.trace) Metrics.PerLayer else Nil) ++ (if (!a.trace || a.smoke) Metrics.EndToEnd else Nil)
    val unknown = perLayer.keySet -- Metrics.PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: $unknown")

    val res = json.createObjectNode()
    if (a.smoke) res.put("workload", w.name)
    res.put("correct", runner.failures.isEmpty)
    res.put("attempted", runner.attempted)
    res.put("failed", runner.failures.size)
    val metrics = res.putObject("metrics")
    declared.foreach { case (name, unit) =>
      metrics.putObject(name)
        .put("value", endToEnd.getOrElse(name, perLayer.getOrElse(name, 0.0)))
        .put("unit", unit)
    }
    json.writeValueAsString(res)
  }

  /** Medians over the traced passes of every span counter and layer metric.
   * A span that a workload never opens reads 0. */
  private def layerMetrics(traced: Seq[Pass], tracer: Tracer, meter: TaskMeter): Map[String, Double] = {
    val samples = mutable.Map[String, ArrayBuffer[Double]]()
    def add(k: String, v: Double): Unit = samples.getOrElseUpdate(k, ArrayBuffer()) += v
    val roots = tracer.spans.filter(_.parent == -1)
    traced.zip(roots).foreach { case (p, root) =>
      tracer.children(root).foreach { op =>
        val st = tracer.inclusive(op, meter)
        add(s"${op.name}.wall_s", op.durNs / 1e9)
        add(s"${op.name}.self_s", tracer.selfNs(op) / 1e9)
        add(s"${op.name}.shuffle_mb", st.shuffleBytes / 1048576.0)
        add(s"${op.name}.shuffle_records", st.shuffleRecords.toDouble)
        add(s"${op.name}.spill_mb", st.spillBytes / 1048576.0)
        add(s"${op.name}.gc_s", st.gcMs / 1e3)
        add(s"${op.name}.task_skew", st.skew)
        add(s"${op.name}.peak_task_mem_mb", st.peakMem / 1048576.0)
      }
      p.layer.foreach { case (k, v) => add(k, v) }
      add("gteps", p.gteps)
    }
    samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
  }

  /** Spans with parent links, self times and own task counters, as JSON. */
  private def writeTrace(path: String, w: Workload, a: Args, tracer: Tracer, meter: TaskMeter): Unit = {
    val root = json.createObjectNode()
    root.put("workload", w.name).put("seed", a.seed)
    val origin = tracer.spans.headOption.fold(0L)(_.startNs)
    val arr = root.putArray("spans")
    tracer.spans.foreach { s =>
      val st = meter.statsOf(s.id)
      val n: ObjectNode = arr.addObject()
      n.put("id", s.id).put("parent", s.parent).put("trace", s.trace).put("name", s.name)
        .put("start_ms", (s.startNs - origin) / 1e6).put("dur_ms", s.durNs / 1e6)
        .put("self_ms", tracer.selfNs(s) / 1e6)
        .put("shuffle_bytes", st.shuffleBytes).put("shuffle_records", st.shuffleRecords)
        .put("spill_bytes", st.spillBytes).put("gc_ms", st.gcMs).put("peak_task_mem", st.peakMem)
        .put("stages", st.taskMs.size).put("tasks", st.taskMs.values.map(_.size).sum)
        .put("task_ms", st.taskMs.values.map(_.sum).sum)
    }
    Files.writeString(Paths.get(path), json.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}

/** Metric names and units; BENCHMARK.json lists the same. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq("wall_s" -> "s", "supersteps" -> "count",
    "peak_task_mem_mb" -> "MB", "setup_s" -> "s")

  val Spans: Seq[String] = Seq("text.extract", "alg.pagerank", "alg.wcc", "alg.lpa", "alg.triangles",
    "core.ckpt.pagerank", "core.ckpt.wcc", "core.ckpt.resume",
    "dedup.pairs", "dedup.cluster", "dedup.minhash")

  val SpanCounters: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s",
    "shuffle_mb" -> "MB", "shuffle_records" -> "count", "spill_mb" -> "MB", "gc_s" -> "s",
    "task_skew" -> "ratio", "peak_task_mem_mb" -> "MB", "leaked_rdds" -> "count")

  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanCounters.map { case (c, u) => s"$s.$c" -> u }) ++ Seq(
      "text.extract.edges_out" -> "count", "text.extract.urls" -> "count",
      "core.adj.part_skew" -> "ratio", "core.adj.max_row" -> "count", "core.adj.split_rows" -> "count",
      "core.ckpt.mb" -> "MB", "core.ckpt.replayed_steps" -> "count",
      "alg.pagerank.init_s" -> "s", "alg.wcc.init_s" -> "s", "alg.lpa.init_s" -> "s",
      "alg.pagerank.step_ms_p50" -> "ms", "alg.wcc.step_ms_p50" -> "ms", "alg.lpa.step_ms_p50" -> "ms",
      "alg.wcc.step1_ms" -> "ms", "alg.wcc.frontier_ratio" -> "ratio", "alg.triangles.out" -> "count",
      "dedup.pairs.out" -> "count", "dedup.pairs.max_prefix_freq" -> "count",
      "dedup.clusters.out" -> "count", "dedup.minhash.precision" -> "ratio",
      "gteps" -> "GTEPS", "fail_rate" -> "ratio", "trace.overhead_s" -> "s")
}
