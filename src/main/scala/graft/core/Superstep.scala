package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftinternal.GraftSql
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

/** One superstep's ledger row — the analog of Totem's per-phase timers
 * (`/root/reference/src/totem/totem.h:22-37`, `totem_engine.cu:166-186`)
 * plus the north rule's per-partition lineage + edge-traversal metrics. */
final case class StepMetrics(
    superstep: Int,
    wallMs: Long,
    stateRows: Long,
    edgesTraversed: Long,
    converged: Boolean) {
  /** Billion traversed edges / sec, Totem's exec_rate
   * (`totem_benchmark_print.cu:85-104`). */
  def gteps: Double = if (wallMs <= 0) 0.0 else edgesTraversed / (wallMs / 1000.0) / 1e9
}

/** What a superstep returns to the driver loop. */
final case class StepResult(state: DataFrame, edgesTraversed: Long, converged: Boolean)

/**
 * BSP driver loop — the Spark-native `engine_execute`
 * (`/root/reference/src/totem/totem_engine.cu:214-234`). Each superstep is
 * one Spark job: join/aggregate/update, then a lineage barrier. The barrier
 * ([[Lineage.cut]]: materialize, cache, truncate the plan) replaces Totem's
 * `grooves_synchronize` and is MANDATORY for plan-growth control: a
 * 25-iteration loop of joins would otherwise blow up the optimizer.
 *
 * As in Totem, the loop owns its policy: an algorithm supplies only the step.
 * The working state is the in-memory cut in both modes. With a
 * `checkpointDir`, every superstep also writes that cut to
 * `superstep=N/data` — the durable copy a resume reads, not the next
 * superstep's input — plus a `superstep=N/manifest.json` with the fields
 * `superstep`, `status` ("complete"), `fingerprint` ([[Config.fingerprint]]),
 * `wall_ms`, `state_rows`, `edges_traversed`, `gteps`, `converged`,
 * `lineage` (`parent`: superstep N-1's data path or null, `data`) and
 * `partitions` (`partition`, `rows` for each partition of the state, counted
 * by the write's own tasks). A crashed run resumes from the last complete
 * superstep whose fingerprint matches.
 */
object Superstep {

  /** @param fingerprint what the checkpointed state was computed from (the
   *  algorithm, its parameters, the input's identity): written into every
   *  manifest, and a resume refuses a checkpoint whose fingerprint differs. */
  final case class Config(
      maxSupersteps: Int = 100,
      checkpointDir: Option[String] = None,
      resume: Boolean = false,
      fingerprint: String = "")

  final case class Outcome(state: DataFrame, metrics: Seq[StepMetrics]) {
    def supersteps: Int = metrics.size
  }

  /**
   * Run `step(state, superstep)` until it reports convergence or
   * `maxSupersteps`. `superstep` is 1-based, matching the engine counter
   * (`totem_engine.cuh:189-216`).
   */
  def run(initial: DataFrame, cfg: Config)(step: (DataFrame, Int) => StepResult): Outcome = {
    val spark = initial.sparkSession
    val metrics = ArrayBuffer[StepMetrics]()

    var (state, startStep) = cfg.checkpointDir match {
      case Some(dir) if cfg.resume =>
        latestComplete(dir) match {
          case Some((ss, path)) =>
            val found = readManifest(dir, ss).fold("")(_.path("fingerprint").asText())
            if (found != cfg.fingerprint)
              throw new IllegalStateException(s"cannot resume from $dir superstep=$ss: " +
                s"it was written for fingerprint '$found', this run's is '${cfg.fingerprint}'")
            metrics ++= readLedger(dir, ss)
            (graft.sources.TableIO.read(spark, path), ss + 1)
          case None => (materialize(initial), 1)
        }
      case _ => (materialize(initial), 1)
    }

    var superstep = startStep
    var done = false
    while (!done && superstep <= cfg.maxSupersteps) {
      val t0 = System.nanoTime()
      val res = step(state, superstep)
      // steps that probe convergence cut their own state first — don't
      // execute the step plan a second time here
      val newState = if (Lineage.isCut(res.state)) res.state else materialize(res.state)
      // the row count is ledger-only: the checkpoint write counts it for
      // free, while in memory it would cost an extra job per superstep
      val perPart = cfg.checkpointDir.map(writeCheckpoint(newState, _, superstep))
      val wallMs = (System.nanoTime() - t0) / 1000000
      val rows = perPart.fold(-1L)(_.values.sum)
      val m = StepMetrics(superstep, wallMs, rows, res.edgesTraversed, res.converged)
      metrics += m
      for (dir <- cfg.checkpointDir; pp <- perPart) writeManifest(dir, m, pp, cfg.fingerprint)
      // free the previous superstep's blocks (a no-op for a resumed state,
      // which is a plain table read)
      if (state ne newState) Lineage.release(state)
      state = newState
      done = res.converged
      superstep += 1
    }
    Outcome(state, metrics.toSeq)
  }

  /** Force + truncate lineage — the cheap intra-run barrier (localCheckpoint
   * caches at MEMORY_AND_DISK itself; an extra persist would double-cache). */
  private def materialize(df: DataFrame): DataFrame = Lineage.cut(df)

  private def dataPath(dir: String, superstep: Int): String = s"$dir/superstep=$superstep/data"

  private def manifestPath(dir: String, superstep: Int): Path =
    Paths.get(s"$dir/superstep=$superstep/manifest.json")

  /** Write the cut state `df` to superstep `superstep`'s data path — one
   * narrow job over its cached blocks — and return its row count per
   * partition (the manifest's partition lineage), counted by the write's own
   * tasks so that no other job runs and any table format works. */
  private def writeCheckpoint(df: DataFrame, dir: String, superstep: Int): Map[Int, Long] = {
    // (partition, rows) per task; a retried task repeats its pair, which
    // the toMap below collapses
    val rows = df.sparkSession.sparkContext.collectionAccumulator[(Int, Long)]
    val counted = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L
      new Iterator[InternalRow] {
        def hasNext: Boolean = it.hasNext || { rows.add(pid -> n); false }
        def next(): InternalRow = { n += 1; it.next() }
      }
    }
    graft.sources.TableIO.write(
      GraftSql.fromInternalRdd(df.sparkSession, counted, df.schema), dataPath(dir, superstep))
    rows.value.asScala.toMap
  }

  /** The manifest codec: every `manifest.json` is written and read here. */
  private val json = new ObjectMapper()

  /** Write the manifest to a temp file and rename it into place, so a crash
   * mid-write never leaves a partial manifest behind as a resume point. */
  private def writeManifest(dir: String, m: StepMetrics, perPart: Map[Int, Long],
                            fingerprint: String): Unit = {
    val root = json.createObjectNode()
      .put("superstep", m.superstep)
      .put("status", "complete")
      .put("fingerprint", fingerprint)
      .put("wall_ms", m.wallMs)
      .put("state_rows", m.stateRows)
      .put("edges_traversed", m.edgesTraversed)
      .put("gteps", m.gteps)
      .put("converged", m.converged)
    val lineage = root.putObject("lineage")
    if (m.superstep > 1) lineage.put("parent", dataPath(dir, m.superstep - 1))
    else lineage.putNull("parent")
    lineage.put("data", dataPath(dir, m.superstep))
    val parts = root.putArray("partitions")
    perPart.toSeq.sortBy(_._1).foreach { case (p, n) =>
      parts.addObject().put("partition", p).put("rows", n)
    }
    val target = manifestPath(dir, m.superstep)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling("manifest.json.tmp")
    json.writeValue(tmp.toFile, root)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Superstep `superstep`'s manifest, if it parses and says complete. */
  private def readManifest(dir: String, superstep: Int): Option[JsonNode] =
    Try(json.readTree(manifestPath(dir, superstep).toFile)).toOption
      .filter(n => n != null && n.path("status").asText() == "complete")

  /** Latest superstep whose manifest says complete (crash-safe resume point). */
  def latestComplete(dir: String): Option[(Int, String)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return None
    // Files.list holds an open directory stream — close it or leak an fd
    // per resume probe
    val listing = Files.list(root)
    val steps =
      try {
        listing.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("superstep="))
          .flatMap { p =>
            val ss = p.getFileName.toString.stripPrefix("superstep=").toIntOption
            ss.filter(readManifest(dir, _).isDefined)
              .map(s => (s, p.resolve("data").toString))
          }.toSeq
      } finally listing.close()
    steps.sortBy(_._1).lastOption
  }

  private def readLedger(dir: String, upTo: Int): Seq[StepMetrics] =
    (1 to upTo).flatMap { ss =>
      readManifest(dir, ss).map { n =>
        StepMetrics(ss, n.path("wall_ms").asLong(), n.path("state_rows").asLong(),
          n.path("edges_traversed").asLong(), n.path("converged").asBoolean())
      }
    }
}
