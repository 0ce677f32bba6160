package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, Lineage}

/**
 * Bow-tie decomposition of a directed link graph — the canonical macro
 * structure of the web (Broder et al., "Graph structure in the Web", WWW
 * 2000): every vertex is classified relative to the largest strongly
 * connected component (CORE) as
 *
 *   - CORE — member of the largest SCC (ties broken by min component id),
 *   - IN   — reaches CORE but is not in it,
 *   - OUT  — reachable from CORE but not in it,
 *   - TUBE — on an IN→OUT path that bypasses CORE,
 *   - TENDRIL — hangs off IN (reachable from IN) or into OUT (reaches OUT)
 *     but not both and never touches CORE,
 *   - DISC — everything else (disconnected from the bow tie).
 *
 * A link-graph extension beyond the reference (Totem ships WCC only,
 * `totem_cc_hybrid.cu`); it composes two primitives the engine already
 * owns: [[StronglyConnected]] for the CORE and [[Adjacency.reach]] for the
 * four sweeps. Each sweep is O(diameter) supersteps of vid-keyed
 * shuffle-hash joins over a persisted chunked adjacency — the
 * forward and the reversed adjacency are each built and cached ONCE and
 * shared by their two sweeps; no transitive closure is ever materialized
 * (the DuckDB oracle does build the closure — that is exactly the
 * O(V·reach) blow-up this implementation avoids at scale).
 *
 * Classification needs only set membership, so the sweeps run on the full
 * graph and are intersected with the not-yet-classified remainder
 * afterwards: a remaining vertex reachable from IN necessarily took a
 * CORE-free path (anything a CORE-crossing path reaches is already CORE or
 * OUT), so the intersection IS Broder's "without passage through CORE"
 * semantics without subgraph rebuilds.
 */
object BowTie {

  val Core = "CORE"; val In = "IN"; val Out = "OUT"
  val Tube = "TUBE"; val Tendril = "TENDRIL"; val Disc = "DISC"

  /** (vid, region) for every vertex of the edge table. */
  def decompose(edges: DataFrame): DataFrame = {
    // cut: the simple edge set feeds FOUR independent consumers (the SCC
    // run, the vertex set, both adjacency builds) — uncut, each re-executed
    // the upstream scan+distinct; at 10^12 pages that is four corpus passes
    // for one derived table
    val e = Lineage.cut(edges.select(col(Graph.SRC), col(Graph.DST))
      .filter(col(Graph.SRC) =!= col(Graph.DST)).distinct())
    val allV = Lineage.cut(Graph.vertices(e))

    val scc = Lineage.cut(StronglyConnected.run(e))
    // largest SCC, min-id tie-break — one tiny aggregate row to the driver
    val coreId = scc.groupBy(col("scc")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc").asc).limit(1)
      .collect()(0).getLong(0)
    val coreV = Lineage.cut(scc.filter(col("scc") === coreId).select(col(Graph.VID)))

    val fwd = Adjacency.build(e).persist(StorageLevel.MEMORY_AND_DISK)
    val bwd = Adjacency.build(Graph.reverse(e)).persist(StorageLevel.MEMORY_AND_DISK)

    def sweep(adj: DataFrame, seeds: DataFrame, trim: DataFrame => DataFrame) = {
      val r = Adjacency.reach(adj, seeds)
      val out = Lineage.cut(trim(r.select(col(Graph.VID))))
      Lineage.release(r)
      out
    }
    val outV = sweep(fwd, coreV, _.join(coreV, Seq(Graph.VID), "left_anti"))
    val inV = sweep(bwd, coreV, _.join(coreV, Seq(Graph.VID), "left_anti"))
    val rem = Lineage.cut(allV
      .join(coreV, Seq(Graph.VID), "left_anti")
      .join(inV, Seq(Graph.VID), "left_anti")
      .join(outV, Seq(Graph.VID), "left_anti"))

    val fromIn = sweep(fwd, inV, _.join(rem, Seq(Graph.VID)))
    val toOut = sweep(bwd, outV, _.join(rem, Seq(Graph.VID)))
    fwd.unpersist(blocking = false)
    bwd.unpersist(blocking = false)

    val result = allV
      .join(coreV.withColumn("__core", lit(true)), Seq(Graph.VID), "left")
      .join(inV.withColumn("__in", lit(true)), Seq(Graph.VID), "left")
      .join(outV.withColumn("__out", lit(true)), Seq(Graph.VID), "left")
      .join(fromIn.withColumn("__fi", lit(true)), Seq(Graph.VID), "left")
      .join(toOut.withColumn("__to", lit(true)), Seq(Graph.VID), "left")
      .select(col(Graph.VID),
        when(col("__core"), Core)
          .when(col("__in"), In)
          .when(col("__out"), Out)
          .when(col("__fi") && col("__to"), Tube)
          .when(col("__fi") || col("__to"), Tendril)
          .otherwise(Disc).as("region"))
    val materialized = Lineage.cut(result)
    Seq(e, scc, coreV, outV, inV, rem, fromIn, toOut, allV).foreach(Lineage.release)
    materialized
  }

  /** (region, n_vertices) — the macro-structure census of the graph. */
  def summary(edges: DataFrame): DataFrame =
    decompose(edges).groupBy(col("region"))
      .agg(count(lit(1)).as("n_vertices"))
}
