package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, StepResult, Superstep}

/**
 * Frontier-based traversals: BFS levels, Graph500 BFS parent tree, SSSP,
 * st-connectivity — the reference's level-synchronous family
 * (`/root/reference/src/alg/totem_bfs.cu:292-715`,
 * `totem_graph500.cu:50-110`, `totem_sssp.cu:371-420`,
 * st-con decl `totem_alg.h:281-285`).
 *
 * The frontier is a Dataset of active vertices (the reference's sparse
 * frontier, `totem_alg.h:361-377`); visited-set membership is an anti-join
 * (the reference's bitmap). Unreached vertices are absent from the output —
 * the relational form of the INF_COST sentinel (`totem_alg.h:21-22`).
 */
object Traversals {

  final case class Result(state: DataFrame, metrics: Seq[graft.core.StepMetrics])

  /** BFS levels from `source`: returns (vid, cost) for reached vertices.
   *
   * Direction-optimizing: when the frontier exceeds `denseThreshold`·V the
   * step flips to bottom-up — each UNVISITED vertex scans its in-neighbors
   * for a frontier member — the reference's sparse/dense hybrid switch
   * (`totem_bfs_hybrid.cu:128-145`, threshold `totem_alg.h:37`). Same
   * discovered set by construction (a vertex is discovered at level l iff
   * some in-neighbor is in the level-(l-1) frontier); the reverse adjacency
   * is built lazily on the first dense superstep. `denseThreshold >= 1.0`
   * disables the switch; `denseMinV` gates it to graphs big enough that the
   * one-off reverse-adjacency build (an O(E) shuffle) can amortize — on
   * small graphs top-down always wins. */
  def bfs(edges: DataFrame, source: Long,
          checkpointDir: Option[String] = None,
          denseThreshold: Double = 0.1,
          denseMinV: Long = 1L << 20): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    // one upstream pass (adjacency + degrees + the lazily-built dense-mode
    // reverse adjacency/vertex set all read the same cut table)
    val (e0, ownE) = Graph.ensureCut(edges)
    val adj = Adjacency.build(e0).persist(StorageLevel.MEMORY_AND_DISK)
    val degs = Graph.outDegrees(e0).persist(StorageLevel.MEMORY_AND_DISK)
    // threshold denominator: vertices WITH out-edges (rows of the cached,
    // loop-reused degree table — no extra distinct-vertices job; on the
    // symmetric graphs bottom-up applies to this IS V)
    val totalV = degs.count()
    var verts: DataFrame = null // full vertex set, built on first dense step
    var radj: DataFrame = null  // reverse adjacency, built on first dense step
    // state: (vid, cost, frontier)
    val init = Seq((source, 0, true)).toDF(Graph.VID, "cost", "frontier")
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = 10000, checkpointDir = checkpointDir)) { (state, level) =>
      val frontier = state.filter(col("frontier"))
      // frontier size + edges-to-scan in one tiny job; frontier == 0 IS the
      // convergence check (replaces a per-superstep isEmpty probe of the cut
      // state with one extra cheap superstep at the end)
      val stats = frontier.join(degs, Seq(Graph.VID), "left")
        .agg(sum(coalesce(col("deg"), lit(0L))), count(lit(1))).collect()(0)
      if (stats.getLong(1) == 0L) StepResult(state, 0L, converged = true)
      else {
      val trv = if (stats.isNullAt(0)) 0L else stats.getLong(0)
      val dense = totalV >= denseMinV && stats.getLong(1) > denseThreshold * totalV
      val discovered =
        if (dense) {
          if (radj == null) {
            radj = Adjacency.build(Graph.reverse(e0)).persist(StorageLevel.MEMORY_AND_DISK)
            verts = Graph.vertices(e0).persist(StorageLevel.MEMORY_AND_DISK)
          }
          val unvisited = verts.join(state.select(col(Graph.VID)), Seq(Graph.VID), "left_anti")
          radj.join(unvisited.hint("shuffle_hash"), radj(Graph.SRC) === unvisited(Graph.VID))
            .select(radj(Graph.SRC).as(Graph.VID), explode(col("nbrs")).as("__p"))
            .join(frontier.select(col(Graph.VID).as("__p")), Seq("__p"), "left_semi")
            .select(col(Graph.VID)).distinct()
            .select(col(Graph.VID), lit(level).cast("int").as("cost"), lit(true).as("frontier"))
        } else {
          adj.join(frontier.hint("shuffle_hash"), adj(Graph.SRC) === frontier(Graph.VID))
            .select(explode(col("nbrs")).as(Graph.VID)).distinct()
            .join(state.select(col(Graph.VID)), Seq(Graph.VID), "left_anti")
            .select(col(Graph.VID), lit(level).cast("int").as("cost"), lit(true).as("frontier"))
        }
      val next = state.withColumn("frontier", lit(false)).unionByName(discovered)
      StepResult(graft.core.Lineage.cut(next), trv, converged = false)
      }
    }
    adj.unpersist(blocking = false); degs.unpersist(blocking = false)
    if (verts != null) verts.unpersist(blocking = false)
    if (radj != null) radj.unpersist(blocking = false)
    if (ownE) graft.core.Lineage.release(e0)
    Result(outcome.state.select(col(Graph.VID), col("cost")), outcome.metrics)
  }

  /** Graph500-style BFS parent tree: (vid, parent); the source's parent is
   * itself (`totem_graph500.cu:50-110`). The reference keeps whichever parent
   * wins the atomic race; here min(parent) for determinism. */
  def bfsTree(edges: DataFrame, source: Long,
              checkpointDir: Option[String] = None): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = Adjacency.build(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val init = Seq((source, source, true)).toDF(Graph.VID, "parent", "frontier")
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = 10000, checkpointDir = checkpointDir)) { (state, _) =>
      val frontier = state.filter(col("frontier"))
      val cand = adj.join(frontier.hint("shuffle_hash"), adj(Graph.SRC) === frontier(Graph.VID))
        .select(explode(col("nbrs")).as(Graph.VID), adj(Graph.SRC).as("parent"))
        .groupBy(Graph.VID).agg(min("parent").as("parent"))
      val discovered = cand
        .join(state.select(col(Graph.VID)), Seq(Graph.VID), "left_anti")
        .withColumn("frontier", lit(true))
      val next = state.withColumn("frontier", lit(false)).unionByName(discovered)
      val cut = graft.core.Lineage.cut(next)
      StepResult(cut, 0L, converged = cut.filter(col("frontier")).isEmpty)
    }
    adj.unpersist(blocking = false)
    Result(outcome.state.select(col(Graph.VID), col("parent")), outcome.metrics)
  }

  /**
   * Single-source shortest paths, Bellman-Ford-style delta relaxation —
   * `sssp_cpu` (`totem_sssp.cu:371-420`): relax active vertices' out-edges,
   * keep min(dist), re-activate improved vertices, stop when stable.
   * `edges` needs (src, dst, weight). Returns (vid, dist) for reached.
   */
  def sssp(edges: DataFrame, source: Long,
           checkpointDir: Option[String] = None,
           maxSupersteps: Int = 10000): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(Graph.SRC), col(Graph.DST), col("weight").cast("double"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = Seq((source, 0.0, true)).toDF(Graph.VID, "dist", "changed")
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps,
        checkpointDir = checkpointDir)) { (state, _) =>
      val delta = state.filter(col("changed"))
      val relax = e.join(delta.hint("shuffle_hash"), e(Graph.SRC) === delta(Graph.VID))
        .select(col(Graph.DST).as(Graph.VID), (col("dist") + col("weight")).as("nd"))
        .groupBy(Graph.VID).agg(min("nd").as("nd"))
      val joined = state.select(col(Graph.VID), col("dist"))
        .join(relax.hint("shuffle_hash"), Seq(Graph.VID), "full")
      val next = joined.select(
        col(Graph.VID),
        least(coalesce(col("dist"), lit(Double.MaxValue)),
          coalesce(col("nd"), lit(Double.MaxValue))).as("dist"),
        (col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist"))).as("changed"))
      val cut = graft.core.Lineage.cut(next)
      StepResult(cut, 0L, converged = cut.filter(col("changed")).isEmpty)
    }
    e.unpersist(blocking = false)
    Result(outcome.state.select(col(Graph.VID), col("dist")), outcome.metrics)
  }

  /** st-connectivity: BFS from src with early exit once dst is reached
   * (`totem_alg.h:281-285`). */
  def stConnected(edges: DataFrame, s: Long, t: Long): Boolean = {
    if (s == t) return true
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = Adjacency.build(edges).persist(StorageLevel.MEMORY_AND_DISK)
    var visited = Seq(s).toDF(Graph.VID).persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = visited
    var found = false
    var exhausted = false
    while (!found && !exhausted) {
      val nbrs = adj.join(frontier.hint("shuffle_hash"), adj(Graph.SRC) === frontier(Graph.VID))
        .select(explode(col("nbrs")).as(Graph.VID)).distinct()
      val discovered = nbrs.join(visited, Seq(Graph.VID), "left_anti")
        .transform(graft.core.Lineage.cut)
      found = !discovered.filter(col(Graph.VID) === t).isEmpty
      exhausted = discovered.isEmpty
      visited = visited.unionByName(discovered)
        .transform(graft.core.Lineage.cut)
      frontier = discovered
    }
    adj.unpersist(blocking = false)
    found
  }

  /** Closeness centrality for a set of source vertices, exact per source:
   * closeness(s) = (reached-1) / Σ dist (`totem_closeness.cu:206`; the
   * reference's unweighted variant). All sources run in ONE batched
   * multi-source BFS ([[Centrality.multiSourceBfs]]) — every superstep's
   * join is shared across roots instead of O(roots × diameter) sequential
   * driver round-trips. Returns (vid, closeness) keyed by root. */
  def closeness(edges: DataFrame, sources: Seq[Long]): DataFrame = {
    val levels = Centrality.multiSourceBfs(edges, sources)
    levels.groupBy(col("root").as(Graph.VID))
      .agg(sum("dist").as("sd"), count(lit(1)).as("n"))
      .select(col(Graph.VID),
        when(col("sd") > 0, (col("n") - 1).cast("double") / col("sd"))
          .otherwise(lit(0.0)).as("closeness"))
  }

  /** Harmonic centrality for a set of source vertices, exact per source:
   * harmonic(s) = Σ_{v ≠ s reachable} 1/dist(s,v) — the
   * disconnected-robust variant of closeness (Boldi & Vigna, "Axioms for
   * Centrality": unreachable vertices contribute 0 instead of poisoning
   * the mean). Shares the one batched [[Centrality.multiSourceBfs]] job
   * across all roots like [[closeness]]. Returns (vid, harmonic) keyed by
   * root; roots reaching nothing get 0.0. */
  /** Sampled eccentricity: per root, the max BFS distance reached —
   * max over a landmark sample lower-bounds the diameter (the standard
   * scalable diameter estimate). One batched [[Centrality.multiSourceBfs]]
   * for all roots. Returns (vid, eccentricity). */
  def eccentricity(edges: DataFrame, sources: Seq[Long]): DataFrame =
    Centrality.multiSourceBfs(edges, sources)
      .groupBy(col("root").as(Graph.VID))
      .agg(max("dist").cast("int").as("eccentricity"))

  /** Double-sweep diameter lower bound (Magnien, Latapy & Habib, "Fast
   * computation of empirically tight bounds for the diameter of massive
   * graphs", JEA 2009 — public): BFS from the minimum vertex id, then BFS
   * from the farthest vertex found (ties to the smallest id); the second
   * sweep's eccentricity lower-bounds the diameter, and on real web/social
   * graphs is typically tight or 1 off. Deterministic by the min-id
   * tie-breaks, so an oracle replays it exactly. `edges` should be
   * undirected (both directions present). Two [[bfs]] jobs plus two
   * O(1)-row TakeOrdered probes — no new plan machinery. Returns one row
   * (u, v, diameter_lb): u the first sweep's farthest vertex, v the
   * farthest from u. */
  def doubleSweepDiameter(edges: DataFrame): DataFrame = {
    val row = edges.agg(min(col(Graph.SRC))).collect()(0)
    if (row.isNullAt(0)) // edge-free graph: no sweeps, no diameter
      return edges.sparkSession.emptyDataFrame
        .select(lit(0L).as("u"), lit(0L).as("v"), lit(0L).as("diameter_lb"))
        .limit(0)
    val s0 = row.getLong(0)
    val u = bfs(edges, s0).state
      .orderBy(col("cost").desc, col(Graph.VID).asc).limit(1)
      .collect()(0).getLong(0)
    bfs(edges, u).state
      .orderBy(col("cost").desc, col(Graph.VID).asc).limit(1)
      .select(lit(u).as("u"), col(Graph.VID).as("v"),
        col("cost").cast("long").as("diameter_lb"))
  }

  def harmonic(edges: DataFrame, sources: Seq[Long]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val levels = Centrality.multiSourceBfs(edges, sources)
    val scores = levels.filter(col("dist") > 0)
      .groupBy(col("root"))
      .agg(sum(lit(1.0) / col("dist")).as("h"))
    sources.toDF("root").join(scores, Seq("root"), "left")
      .select(col("root").as(Graph.VID),
        coalesce(col("h"), lit(0.0)).as("harmonic"))
  }
}
