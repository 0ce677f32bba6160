package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
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
 * (persist-and-materialize or checkpoint-to-parquet) replaces Totem's
 * `grooves_synchronize` and is MANDATORY for plan-growth control: a
 * 25-iteration loop of joins would otherwise blow up the optimizer.
 *
 * As in Totem, the loop owns its policy: an algorithm supplies only the step.
 * With a `checkpointDir`, every superstep writes its state table to
 * `superstep=N/data` plus a `superstep=N/manifest.json` with the fields
 * `superstep`, `status` ("complete"), `wall_ms`, `state_rows`,
 * `edges_traversed`, `gteps`, `converged`, `lineage` (`parent`: superstep
 * N-1's data path or null, `data`) and `partitions` (`partition`, `rows` per
 * Spark partition). A crashed run resumes from the last complete superstep.
 */
object Superstep {

  final case class Config(
      maxSupersteps: Int = 100,
      checkpointDir: Option[String] = None,
      resume: Boolean = false)

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
      val (newState, perPart) = cfg.checkpointDir match {
        case Some(dir) =>
          val (reread, pp) = writeCheckpoint(res.state, dir, superstep)
          // a step that cut its own state leaves checkpoint blocks behind;
          // the parquet copy supersedes them
          if (res.state ne state) Lineage.release(res.state)
          (reread, Some(pp))
        case None =>
          // steps that probe convergence materialize (Lineage.cut) their own
          // state first — don't execute the step plan a second time here.
          // The row count is ledger-only: in memory it would cost an extra
          // job per superstep, so only checkpointed runs record it.
          (if (Lineage.isCut(res.state)) res.state else materialize(res.state), None)
      }
      val wallMs = (System.nanoTime() - t0) / 1000000
      val rows = perPart.fold(-1L)(_.values.sum)
      val m = StepMetrics(superstep, wallMs, rows, res.edgesTraversed, res.converged)
      metrics += m
      for (dir <- cfg.checkpointDir; pp <- perPart) writeManifest(dir, m, pp)
      // free the previous superstep's cache (unpersist covers cache-manager
      // entries from parquet re-reads; release covers localCheckpoint blocks)
      if (state ne newState) {
        state.unpersist(blocking = false)
        Lineage.release(state)
      }
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

  /** Write the state table, re-read it cached, and count its rows per
   * partition (the manifest's partition lineage). */
  private def writeCheckpoint(df: DataFrame, dir: String,
                              superstep: Int): (DataFrame, Map[Int, Long]) = {
    val path = dataPath(dir, superstep)
    graft.sources.TableIO.write(df, path)
    val re = graft.sources.TableIO.read(df.sparkSession, path).persist(StorageLevel.MEMORY_AND_DISK)
    val perPart = re.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (re, perPart)
  }

  /** The manifest codec: every `manifest.json` is written and read here. */
  private val json = new ObjectMapper()

  /** Write the manifest to a temp file and rename it into place, so a crash
   * mid-write never leaves a partial manifest behind as a resume point. */
  private def writeManifest(dir: String, m: StepMetrics, perPart: Map[Int, Long]): Unit = {
    val root = json.createObjectNode()
      .put("superstep", m.superstep)
      .put("status", "complete")
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
    import scala.jdk.CollectionConverters._
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
