package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, Lineage}
import scala.collection.mutable.ArrayBuffer

/**
 * Brandes-style centrality (unweighted): betweenness and stress —
 * the reference's two-phase forward-BFS / backward-accumulation scheme
 * (`/root/reference/src/alg/totem_betweenness.cu:518-756`,
 * `totem_stress.cu:314`): forward pass counts shortest paths (sigma) level
 * by level; backward pass accumulates dependencies per level descending.
 *
 * Each BFS level is one persisted DataFrame (the per-level frontier list the
 * reference keeps on the GPU), and ALL sources run BATCHED in one loop
 * carrying `root` through both passes (the [[multiSourceBfs]] device): jobs
 * per BFS level are O(1) in the source count, so sampling dozens of sources
 * — the reference's CENTRALITY_APPROX mode (`totem_alg.h:88-90`,
 * `totem_betweenness.cu:518-756`) — costs O(max-diameter × 2) driver
 * round-trips total, not per source; every join stays shuffle-bounded by
 * the (root, vid) level sizes. Exact over the given sources.
 */
object Centrality {

  /** Distinct roots (order-preserving) + per-root multiplicity. Duplicate
   * sources — sampling WITH replacement, the reference's approximate-mode
   * idiom — batch as ONE forward root (the BFS/sigma structure is
   * identical) and scale that root's dependency contributions by
   * multiplicity ([[scaleByRoot]]), preserving the per-source-loop
   * semantics the batching replaced: each duplicate counts in full. */
  private def rootMultiplicity(sources: Seq[Long]): (Seq[Long], Map[Long, Int]) =
    (sources.distinct, sources.groupBy(identity).map { case (k, v) => k -> v.size })

  /** Multiply per-root `score` rows by the root's multiplicity, then drop
   * the root key. All-distinct sources (the common case) skip the join. */
  private def scaleByRoot(scored: DataFrame, mult: Map[Long, Int]): DataFrame =
    if (mult.values.forall(_ == 1)) scored.drop("root")
    else {
      val spark = scored.sparkSession
      import spark.implicits._
      val mdf = mult.toSeq.toDF("root", "__mult")
      scored.join(broadcast(mdf), Seq("root"))
        .withColumn("score", col("score") * col("__mult"))
        .drop("root", "__mult")
    }

  /** Batched forward structure: levels(i) = (root, vid, sigma) at depth i —
   * one frame holds every source's depth-i frontier; roots with smaller
   * eccentricity simply stop contributing rows before the loop ends. */
  private def forward(adj: DataFrame, sources: Seq[Long]): ArrayBuffer[DataFrame] = {
    val spark = adj.sparkSession
    import spark.implicits._
    val levels = ArrayBuffer(Lineage.cut(
      sources.map(s => (s, s, 1L)).toDF("root", Graph.VID, "sigma")))
    var visited = levels.head.select("root", Graph.VID)
    var done = false
    while (!done) {
      val frontier = levels.last
      val next = adj.join(frontier, adj(Graph.SRC) === frontier(Graph.VID))
        .select(col("root"), explode(col("nbrs")).as(Graph.VID), col("sigma"))
        .join(visited.select(col("root").as("__r"), col(Graph.VID).as("__v")),
          col("root") === col("__r") && col(Graph.VID) === col("__v"), "left_anti")
        .groupBy("root", Graph.VID).agg(sum("sigma").as("sigma"))
        .transform(Lineage.cut)
      if (next.isEmpty) { Lineage.release(next); done = true }
      else {
        levels += next
        val old = visited
        visited = Lineage.cut(visited.unionByName(next.select("root", Graph.VID)))
        Lineage.release(old)
      }
    }
    Lineage.release(visited)
    levels
  }

  /**
   * Batched backward accumulation, keyed by root throughout.
   * `stress = false`: betweenness dependencies
   * δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w));
   * `stress = true`: δ(v) = Σ_{w ∈ succ(v)} σ(v) · (1 + δ(w)/σ(w))
   * (path COUNTS through v rather than fractions).
   * A root whose BFS depth m is below the batch maximum sees no delta rows
   * at level m+1, so its deepest vertices coalesce to δ = 0 — the same
   * base case the per-source loop gave its own last level. Returns the cut
   * (vid, score) summed over all roots, excluding each root's own row.
   */
  private def backward(adj: DataFrame, levels: ArrayBuffer[DataFrame],
                       stress: Boolean, mult: Map[Long, Int]): DataFrame = {
    val deltas = ArrayBuffer[DataFrame]() // (root, vid, sigma, delta) per level
    var acc: DataFrame = null             // accumulated per-vertex scores
    for (l <- levels.indices.reverse) {
      val cur = levels(l)
      val withDelta =
        if (deltas.isEmpty) cur.withColumn("delta", lit(0.0))
        else {
          val delta = deltas.last
          // v in level l, w in level l+1 along an edge (v,w), per root
          val contrib = adj.join(cur, adj(Graph.SRC) === cur(Graph.VID))
            .select(col("root"), cur(Graph.VID).as("v"), col("sigma").as("sv"),
              explode(col("nbrs")).as("w"))
            .join(delta.select(col("root"), col(Graph.VID).as("w"),
              col("sigma").as("sw"), col("delta").as("dw")), Seq("root", "w"))
            .groupBy(col("root"), col("v").as(Graph.VID))
            .agg(sum(
              if (stress) col("sv") * (lit(1.0) + col("dw") / col("sw"))
              else (col("sv") / col("sw")) * (lit(1.0) + col("dw"))
            ).as("delta"))
          cur.join(contrib, Seq("root", Graph.VID), "left")
            .select(col("root"), col(Graph.VID), col("sigma"),
              coalesce(col("delta"), lit(0.0)).as("delta"))
        }
      val scored = scaleByRoot(withDelta
        .filter(col(Graph.VID) =!= col("root"))
        .select(col("root"), col(Graph.VID), col("delta").as("score")), mult)
      acc = if (acc == null) scored else acc.unionByName(scored)
      deltas += Lineage.cut(withDelta
        .select(col("root"), col(Graph.VID), col("sigma"), col("delta")))
    }
    // acc reads every delta lazily: release them only once it is cut
    val out = Lineage.cut(acc.groupBy(Graph.VID).agg(sum("score").as("score")))
    deltas.foreach(Lineage.release)
    out
  }

  private def perSource(edges: DataFrame, sources: Seq[Long], stress: Boolean): DataFrame = {
    val (roots, mult) = rootMultiplicity(sources)
    val (e0, ownE) = Graph.ensureCut(edges) // adjacency + vertex passes share it
    val adj = Adjacency.build(e0).persist(StorageLevel.MEMORY_AND_DISK)
    val levels = forward(adj, roots)
    val all = backward(adj, levels, stress, mult)
    val verts = Graph.vertices(e0)
    val res = Lineage.cut(
      verts.join(all, Seq(Graph.VID), "left")
        .select(col(Graph.VID), coalesce(col("score"), lit(0.0)).as("score")))
    (levels :+ all).foreach(Lineage.release)
    adj.unpersist(blocking = false)
    if (ownE) Lineage.release(e0)
    res
  }

  /** Betweenness centrality over the given sources (all vertices = exact;
   * directed semantics: paths follow stored edges). Scores are the raw
   * dependency sums, like the reference's per-source benchmark mode.
   * Duplicate sources (sampling with replacement) each count in full:
   * batched once, scaled by multiplicity ([[rootMultiplicity]]). */
  def betweenness(edges: DataFrame, sources: Seq[Long]): DataFrame =
    perSource(edges, sources, stress = false)
      .withColumnRenamed("score", "betweenness")

  /** Batched per-edge backward accumulation: emits every BFS-DAG edge's
   * dependency c(v→w) = σ(v)/σ(w) · (1 + δ(w)) per root — the same contrib
   * rows [[backward]] aggregates per vertex, kept keyed by the edge and
   * summed over roots at the end into the returned cut. The (root, v, w)
   * frame is persisted per level because it feeds BOTH the edge emission
   * and the vertex-delta rollup the next level up. */
  private def backwardEdges(adj: DataFrame, levels: ArrayBuffer[DataFrame],
                            mult: Map[Long, Int]): DataFrame = {
    val deltas = ArrayBuffer[DataFrame]()
    var acc: DataFrame = null
    val cache = ArrayBuffer[DataFrame]()
    for (l <- levels.indices.reverse) {
      val cur = levels(l)
      if (deltas.isEmpty) deltas += Lineage.cut(cur.withColumn("delta", lit(0.0)))
      else {
        val delta = deltas.last
        val pair = adj.join(cur, adj(Graph.SRC) === cur(Graph.VID))
          .select(col("root"), cur(Graph.VID).as("v"), col("sigma").as("sv"),
            explode(col("nbrs")).as("w"))
          .join(delta.select(col("root"), col(Graph.VID).as("w"),
            col("sigma").as("sw"), col("delta").as("dw")), Seq("root", "w"))
          .select(col("root"), col("v"), col("w"),
            ((col("sv") / col("sw")) * (lit(1.0) + col("dw"))).as("c"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        cache += pair
        val contrib = pair.groupBy(col("root"), col("v").as(Graph.VID))
          .agg(sum("c").as("delta"))
        val withDelta = cur.join(contrib, Seq("root", Graph.VID), "left")
          .select(col("root"), col(Graph.VID), col("sigma"),
            coalesce(col("delta"), lit(0.0)).as("delta"))
        val scored = scaleByRoot(pair.select(col("root"),
          col("v").as(Graph.SRC), col("w").as(Graph.DST),
          col("c").as("score")), mult)
        acc = if (acc == null) scored else acc.unionByName(scored)
        deltas += Lineage.cut(withDelta)
      }
    }
    val out =
      if (acc == null)
        adj.sparkSession.emptyDataFrame
          .select(lit(0L).as(Graph.SRC), lit(0L).as(Graph.DST),
            lit(0.0).as("score")).limit(0)
      else Lineage.cut(acc.groupBy(Graph.SRC, Graph.DST).agg(sum("score").as("score")))
    cache.foreach(_.unpersist(blocking = false))
    deltas.foreach(Lineage.release)
    out
  }

  /**
   * Edge betweenness over the given sources — the Girvan–Newman primitive
   * (iteratively removing the highest-betweenness edge splits communities).
   * A stored edge (v, w) scores Σ_s σ_s(v)/σ_s(w) · (1 + δ_s(w)) over the
   * sources whose BFS DAG it lies on; edges on no sampled shortest path
   * score 0. Same batched per-level join structure (and cost) as
   * [[betweenness]]; the only extra state is the per-level (root, v, w, c)
   * frame, cached for its two readers and released at the end.
   */
  def edgeBetweenness(edges: DataFrame, sources: Seq[Long]): DataFrame = {
    val (roots, mult) = rootMultiplicity(sources)
    val (e0, ownE) = Graph.ensureCut(edges) // adjacency + base-edge passes share it
    val adj = Adjacency.build(e0).persist(StorageLevel.MEMORY_AND_DISK)
    val levels = forward(adj, roots)
    // backwardEdges already aggregated to one row per (src, dst)
    val all = backwardEdges(adj, levels, mult)
    val base = e0.select(col(Graph.SRC), col(Graph.DST))
      .filter(col(Graph.SRC) =!= col(Graph.DST)).distinct()
    val res = Lineage.cut(
      base.join(all, Seq(Graph.SRC, Graph.DST), "left")
        .select(col(Graph.SRC), col(Graph.DST),
          coalesce(col("score"), lit(0.0)).as("edge_betweenness")))
    (levels :+ all).foreach(Lineage.release)
    adj.unpersist(blocking = false)
    if (ownE) Lineage.release(e0)
    res
  }

  /** Stress centrality (shortest-path counts through each vertex). */
  def stress(edges: DataFrame, sources: Seq[Long]): DataFrame =
    perSource(edges, sources, stress = true)
      .select(col(Graph.VID), round(col("score")).cast("long").as("stress"))

  /**
   * Multi-source BFS (batched): one [[Adjacency.reach]] sweep carrying
   * (root, vid, dist) — sources share every superstep's join, the scalable
   * form of looped single-source BFS. With sources = all vertices this is
   * unweighted APSP (the reference's `totem_apsp.cu:193-308`, practical
   * only on small V — output is O(V²); for sampled landmark sets it scales).
   */
  def multiSourceBfs(edges: DataFrame, sources: Seq[Long]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = Adjacency.build(edges).persist(StorageLevel.MEMORY_AND_DISK)
    // a root SET: a duplicated source would seed duplicate state rows
    val out = Adjacency.reach(adj, sources.distinct.map(s => (s, s)).toDF("root", Graph.VID))
    adj.unpersist(blocking = false)
    out
  }
}
