package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, StepResult, Superstep}

/**
 * SALSA (Lempel & Moran, "The stochastic approach for link-structure
 * analysis", WWW 2000) — the degree-normalized sibling of HITS and the
 * third classic web-link scoring algorithm next to PageRank and HITS.
 * Not in the reference (its centrality family is betweenness/closeness/
 * stress); added because SALSA is what large search stacks actually ran
 * in place of HITS — it fixes HITS's tyranny-of-the-majority (TKC)
 * effect, where one densely linked cluster absorbs ALL authority.
 *
 * Iteration (fixed rounds for oracle-ability), a random walk on the
 * bipartite hub/authority view:
 *   a_raw(v) = Σ_{u→v} hub(u)  / outdeg(u)   (forward scatter)
 *   h_raw(u) = Σ_{u→v} a_raw(v) / indeg(v)   (reverse scatter of the
 *                                             FRESH auth, like Hits.run)
 *   then both vectors are L1-normalized (they are probability
 *   distributions; the stationary authority weight within a connected
 *   authority component is proportional to in-degree).
 *
 * Plan shape is EXACTLY [[Hits.run]] — two scatter-reduces per superstep,
 * each one Exchange with map-side partial agg, single-row norm aggregates
 * broadcast back — because the degree divisions ride on columns the
 * chunked adjacency already carries: `Adjacency.build` rows are
 * (src, deg, nbrs) with deg = the FULL degree (repeated on every hub
 * chunk), so the per-edge message hub(u)/outdeg(u) is a projection, not
 * an extra join, and the reverse adjacency's deg column IS indeg(v).
 */
object Salsa {

  final case class Result(scores: DataFrame, metrics: Seq[graft.core.StepMetrics])

  def run(edges: DataFrame,
          rounds: Int = 5,
          checkpointDir: Option[String] = None,
          resume: Boolean = false): Result = {
    val (e0, ownE) = Graph.ensureCut(edges) // one upstream pass, not four
    val adjF = Adjacency.build(e0).persist(StorageLevel.MEMORY_AND_DISK)
    val adjR = Adjacency.build(Graph.reverse(e0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    adjF.count(); adjR.count()
    val verts = Graph.vertices(e0).persist(StorageLevel.MEMORY_AND_DISK)
    verts.count()
    val e = e0.count()

    val init = verts.select(col(Graph.VID), lit(1.0).as("hub"), lit(1.0).as("auth"))

    // release discipline identical to Hits.run: `raw` outlives its
    // superstep (the returned plan reads it), released on the next call
    var pendingRelease: Option[DataFrame] = None
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = rounds, checkpointDir = checkpointDir,
        resume = resume)) { (state, superstep) =>
      pendingRelease.foreach(graft.core.Lineage.release); pendingRelease = None
      // a_raw(v) = Σ_{u→v} hub(u)/outdeg(u): adjF.deg is outdeg(u)
      val authMsgs = adjF.join(state.hint("shuffle_hash"),
          adjF(Graph.SRC) === state(Graph.VID))
        .select(explode(col("nbrs")).as(Graph.VID),
          (col("hub") / col("deg")).as("m"))
        .groupBy(Graph.VID).agg(sum("m").as("a_raw"))
      val authed = graft.core.Lineage.cut(verts
        .join(authMsgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), coalesce(col("a_raw"), lit(0.0)).as("a_raw")))
      // h_raw(u) = Σ_{u→v} a_raw(v)/indeg(v): adjR.deg is indeg(v)
      val hubMsgs = adjR.join(authed.hint("shuffle_hash"),
          adjR(Graph.SRC) === authed(Graph.VID))
        .select(explode(col("nbrs")).as(Graph.VID),
          (col("a_raw") / col("deg")).as("m"))
        .groupBy(Graph.VID).agg(sum("m").as("h_raw"))
      val raw = graft.core.Lineage.cut(authed
        .join(hubMsgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), coalesce(col("h_raw"), lit(0.0)).as("h_raw"),
          col("a_raw")))
      graft.core.Lineage.release(authed)
      // L1 norms: single-row aggregate, broadcast back
      val norms = raw.agg(sum(col("h_raw")).as("hn"), sum(col("a_raw")).as("an"))
      val next = raw.crossJoin(broadcast(norms))
        .select(col(Graph.VID),
          when(col("hn") > 0, col("h_raw") / col("hn")).otherwise(0.0).as("hub"),
          when(col("an") > 0, col("a_raw") / col("an")).otherwise(0.0).as("auth"))
      pendingRelease = Some(raw)
      StepResult(next, edgesTraversed = 2 * e, converged = superstep == rounds)
    }
    pendingRelease.foreach(graft.core.Lineage.release)

    adjF.unpersist(blocking = false); adjR.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    if (ownE) graft.core.Lineage.release(e0)
    Result(outcome.state.select(col(Graph.VID), col("hub"), col("auth")),
      outcome.metrics)
  }
}
