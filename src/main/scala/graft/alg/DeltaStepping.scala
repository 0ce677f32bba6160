package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Graph, StepResult, Superstep}

/**
 * Delta-stepping SSSP (Meyer & Sanders 2003) — the scale path for weighted
 * graphs with a wide weight range, where plain Bellman-Ford delta
 * relaxation ([[Traversals.sssp]], after `totem_sssp.cu:371-420`) wastes
 * work: a vertex reached early through a heavy edge relaxes its whole
 * out-neighborhood, then relaxes it AGAIN when a lighter path arrives.
 * Delta-stepping imposes Dijkstra-like priority order at bucket
 * granularity: only vertices whose tentative distance falls in the current
 * minimum bucket [i·Δ, (i+1)·Δ) scatter; everything farther waits, and by
 * the time it runs its tentative distance is (near-)final.
 *
 * Per superstep (one bucket pass):
 *  1. probe min tentative distance over pending vertices — a 1-row
 *     aggregate on the cached state frame (the same O(1) driver probe class
 *     as the BFS/WCC convergence stats);
 *  2. frontier = pending ∧ dist < (⌊min/Δ⌋+1)·Δ — the current bucket;
 *  3. relax the frontier's out-edges (min-combine scatter, map-side partial
 *     agg), full-join back: improved vertices become pending, frontier
 *     vertices that did not improve settle, vertices beyond the bucket stay
 *     pending untouched.
 *
 * Monotone min-relaxation converges to the exact shortest-path fixpoint
 * under ANY schedule that eventually drains every pending vertex, so the
 * result is byte-identical to [[Traversals.sssp]] — only the relaxation
 * ORDER (and hence the relaxation count) differs. Δ→∞ degenerates to
 * Bellman-Ford (every pending vertex in one bucket); Δ ≤ min weight is
 * Dijkstra order. The classic light/heavy edge split is intentionally
 * fused: on a shuffle engine a second pass per bucket costs one more O(E)
 * join but saves only duplicate O(V) mailbox rows, a bad trade — the
 * bucket-ordered frontier is where the re-relaxation savings live.
 *
 * Plan shape per superstep is exactly `Traversals.sssp`'s (edge table
 * hash-partitioned once, shuffle_hash-hinted state joins, one Exchange per
 * scatter); supersteps ≈ (max dist)/Δ + re-relaxations within buckets.
 */
object DeltaStepping {

  final case class Result(state: DataFrame, metrics: Seq[graft.core.StepMetrics])

  def run(edges: DataFrame, source: Long, delta: Double,
          checkpointDir: Option[String] = None,
          maxSupersteps: Int = 10000): Result = {
    require(delta > 0.0, s"delta must be positive, got $delta")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(Graph.SRC), col(Graph.DST), col("weight").cast("double"))
      .repartition(col(Graph.SRC))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count() // partition build is init-time, not alg_exec

    val init = Seq((source, 0.0, true)).toDF(Graph.VID, "dist", "pending")
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps,
        checkpointDir = checkpointDir)) { (state, _) =>
      // bucket probe: O(1) rows off the materialized state (cut-before-probe)
      val minPending = state.filter(col("pending")).agg(min("dist")).collect()(0)
      val bucketHi =
        if (minPending.isNullAt(0)) Double.MaxValue
        else (math.floor(minPending.getDouble(0) / delta) + 1.0) * delta
      val frontier = state.filter(col("pending") && col("dist") < bucketHi)
      val relax = e.join(frontier.hint("shuffle_hash"), e(Graph.SRC) === frontier(Graph.VID))
        .select(col(Graph.DST).as(Graph.VID), (col("dist") + col("weight")).as("nd"))
        .groupBy(Graph.VID).agg(min("nd").as("nd"))
      val joined = state.select(col(Graph.VID), col("dist"), col("pending"))
        .join(relax.hint("shuffle_hash"), Seq(Graph.VID), "full")
      val improved = col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist"))
      val next = joined.select(
        col(Graph.VID),
        least(coalesce(col("dist"), lit(Double.MaxValue)),
          coalesce(col("nd"), lit(Double.MaxValue))).as("dist"),
        // improved → (re-)pending; selected this round & not improved →
        // settled; beyond the bucket → untouched, still pending
        when(improved, lit(true))
          .otherwise(coalesce(col("pending"), lit(false)) &&
            coalesce(col("dist"), lit(Double.MaxValue)) >= bucketHi)
          .as("pending"))
      val cut = graft.core.Lineage.cut(next)
      StepResult(cut, 0L, converged = cut.filter(col("pending")).isEmpty)
    }
    e.unpersist(blocking = false)
    Result(outcome.state.select(col(Graph.VID), col("dist")), outcome.metrics)
  }
}
