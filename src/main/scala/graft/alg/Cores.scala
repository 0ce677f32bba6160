package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Graph

/**
 * p-core / k-core decomposition — iterative peeling of vertices whose
 * (weighted) degree is below the threshold, reference semantics
 * (`/root/reference/src/alg/totem_pcores.cu:212-304`): p steps from `start`
 * by `step`; a vertex's output is the last p-round it survived. The
 * reference peels on the SUM OF EDGE WEIGHTS (its `pcores` kernel
 * accumulates `weights[e]`, not edge counts); `weighted = true` reproduces
 * that, `weighted = false` is classic k-core on edge counts.
 */
object Cores {

  /** Vertices of the k-core subgraph ((weighted) undirected degree ≥ k
   * after iterated peeling). Returns (vid). */
  def kCore(edges: DataFrame, k: Double, maxRounds: Int = 1000,
            weighted: Boolean = false): DataFrame = {
    val und =
      if (weighted) {
        val w = edges.select(col(Graph.SRC), col(Graph.DST), col("weight").cast("double"))
        w.union(w.select(col(Graph.DST).as(Graph.SRC), col(Graph.SRC).as(Graph.DST), col("weight")))
          .distinct()
      } else Graph.undirected(edges)
    val degExpr = if (weighted) sum("weight") else count(lit(1)).cast("double")
    var e = und.persist(StorageLevel.MEMORY_AND_DISK)
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      val deg = e.groupBy(col(Graph.SRC).as(Graph.VID)).agg(degExpr.as("deg"))
      val keep = deg.filter(col("deg") >= k).select(Graph.VID)
      val pruned = Graph.subgraph(e, keep)
        .transform(graft.core.Lineage.cut)
      changed = pruned.count() != e.count()
      e.unpersist(blocking = false)
      graft.core.Lineage.release(e)
      e = pruned
      round += 1
    }
    e.select(col(Graph.SRC).as(Graph.VID)).distinct()
  }

  final case class CorenessResult(coreness: DataFrame, metrics: Seq[graft.core.StepMetrics])

  /**
   * FULL core decomposition — every vertex's core number in one pass — via
   * the distributed h-operator iteration (Lü et al., "The H-index of a
   * network node and its relation to degree and coreness", Nat. Commun.
   * 2016): c₀(v) = deg(v); each round cₖ(v) = H({cₖ₋₁(u) : u ∈ N(v)}) where
   * H is the h-index; the fixpoint is exactly coreness(v). Complements the
   * reference's fixed-threshold peeling (`totem_pcores.cu:212-304`, our
   * [[kCore]]/[[pCores]]): peeling answers "which vertices survive level k"
   * in O(peel depth) rounds PER THRESHOLD, the h-operator answers ALL
   * thresholds at once in O(rounds-to-fixpoint) BSP supersteps.
   *
   * Scale shape per round: one edge-keyed explode + a (vid, val) hash
   * aggregate (map-side combinable), then the h-index WITHOUT a per-neighbor
   * sort — h = max over DISTINCT neighbor values v of min(v, #neighbors with
   * value ≥ v), so the only window is per-vertex over the distinct-value
   * histogram (bounded by the graph's distinct coreness values, not by hub
   * degree — a 10M-degree hub contributes as many window rows as it has
   * distinct neighbor core values). Values only decrease, so convergence is
   * monotone; probe = one cached-scan per round, same as WCC.
   */
  def coreness(edges: DataFrame, maxRounds: Int = 100,
               checkpointDir: Option[String] = None): CorenessResult = {
    import graft.core.{Adjacency, StepResult, Superstep}
    // cut: adjacency + degree passes share one materialized symmetrization
    val und = graft.core.Lineage.cut(Graph.undirected(edges))
    val adj = Adjacency.build(und).persist(StorageLevel.MEMORY_AND_DISK)
    val degs = Graph.outDegrees(und).persist(StorageLevel.MEMORY_AND_DISK)
    val totalEdges = degs.agg(coalesce(sum("deg"), lit(0L))).collect()(0).getLong(0)

    val init = degs.select(col(Graph.VID), col("deg").as("c"), lit(true).as("changed"))
    def changedCount(df: DataFrame): Long =
      df.filter(col("changed")).agg(count(lit(1))).collect()(0).getLong(0)
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxRounds, checkpointDir = checkpointDir)) { (state, _) =>
      // every round rebroadcasts all values: a vertex's h can change when any
      // neighbor's value drops, so the full-edge scatter is the honest cost
      // (a changed-neighbor frontier needs per-vertex histograms kept hot)
      val msgs = adj.join(state.hint("shuffle_hash"), adj(Graph.SRC) === state(Graph.VID))
        .select(explode(col("nbrs")).as(Graph.VID), col("c").as("val"))
      val hist = msgs.groupBy(Graph.VID, "val").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(Graph.VID).orderBy(col("val").desc)
      // h-index of the neighbor multiset from its distinct-value histogram:
      // cum(v) = #neighbors with value ≥ v; h = max over v of min(v, cum(v))
      val h = hist.withColumn("cum", sum("cnt").over(w))
        .groupBy(Graph.VID).agg(max(least(col("cum"), col("val"))).as("h"))
      val next = state.select(col(Graph.VID), col("c"))
        .join(h.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID),
          coalesce(col("h"), col("c")).as("c"),
          (coalesce(col("h"), col("c")) < col("c")).as("changed"))
      val cut = graft.core.Lineage.cut(next)
      StepResult(cut, totalEdges, converged = changedCount(cut) == 0L)
    }
    adj.unpersist(blocking = false); degs.unpersist(blocking = false)
    graft.core.Lineage.release(und)
    CorenessResult(
      outcome.state.select(col(Graph.VID), col("c").as("coreness")), outcome.metrics)
  }

  /** p-core decomposition: (vid, pcore) where pcore = highest threshold at
   * which the vertex still survived peeling (`totem_pcores.cu:212-304`:
   * thresholds run start, start+step, ... ≤ maxP over weighted degrees). */
  def pCores(edges: DataFrame, start: Double, step: Double, maxP: Double,
             weighted: Boolean = false): DataFrame = {
    var result = Graph.vertices(edges).select(col(Graph.VID), lit(0.0).as("pcore"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var p = start
    while (p <= maxP) {
      val survivors = kCore(edges, p, weighted = weighted)
      if (survivors.isEmpty) { p = maxP + step }
      else {
        val updated = result
          .join(survivors.withColumn("__s", lit(true)), Seq(Graph.VID), "left")
          .select(col(Graph.VID),
            when(col("__s").isNotNull, lit(p)).otherwise(col("pcore")).as("pcore"))
          .transform(graft.core.Lineage.cut)
        result.unpersist(blocking = false)
        graft.core.Lineage.release(result)
        result = updated
      }
      p += step
    }
    result
  }
}
