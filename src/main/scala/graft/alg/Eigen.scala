package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, StepResult, Superstep}

/**
 * Eigenvector centrality — the remaining member of the walk-centrality
 * family ([[PageRank]] is its damped/normalized cousin, [[Katz]] its
 * attenuated cousin, [[Hits]] its bipartite cousin; the reference's own
 * centrality set is betweenness/closeness/stress,
 * `/root/reference/src/alg/totem_betweenness.cu` etc., so this is a
 * link-graph extension like those).
 *
 * Classic power iteration on the in-edge operator:
 *
 *   m_t(v) = Σ_{u→v} x_{t-1}(u),   x_t = m_t / ‖m_t‖₂,   x_0 ≡ 1
 *
 * Fixed `rounds` keeps it DuckDB-unrollable (the 5-round PageRank-quirk
 * contract); the per-round L2 normalization is the textbook guard against
 * overflow/underflow of the dominant-eigenvalue growth. Vertices with no
 * in-edges go to 0 after round 1, like the untelported limit demands.
 *
 * Plan shape per superstep = [[Katz.run]]'s scatter-reduce (state shuffles
 * O(V), the pre-partitioned chunked adjacency never re-shuffles, map-side
 * partial agg = the outbox combine) plus [[Hits.run]]'s O(1)-row norm
 * aggregate re-attached via broadcast cross join — never a vertex collect.
 * Scale behavior is PageRank's, which the scaling legs measure.
 */
object Eigen {

  final case class Result(scores: DataFrame, metrics: Seq[graft.core.StepMetrics])

  def run(edges: DataFrame,
          rounds: Int = 5,
          checkpointDir: Option[String] = None,
          resume: Boolean = false): Result = {
    val (e0, ownE) = Graph.ensureCut(edges) // one upstream pass, not three
    val adj = Adjacency.build(e0).persist(StorageLevel.MEMORY_AND_DISK)
    adj.count() // partition build is init-time, not alg_exec
    val verts = Graph.vertices(e0).persist(StorageLevel.MEMORY_AND_DISK)
    verts.count()
    val e = e0.count()

    val init = verts.select(col(Graph.VID), lit(1.0).as("eigen"))

    // `raw` feeds both the norm aggregate and the output select, so it is
    // cut once per superstep and released at the START of the next closure
    // call (cut-before-probe has materialized `next` by then) — the same
    // single-materialization discipline as Hits.run.
    var pendingRelease: Option[DataFrame] = None
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = rounds, checkpointDir = checkpointDir,
        resume = resume)) { (state, superstep) =>
      pendingRelease.foreach(graft.core.Lineage.release); pendingRelease = None
      val msgs = adj.join(state.hint("shuffle_hash"), adj(Graph.SRC) === state(Graph.VID))
        .select(explode(col("nbrs")).as(Graph.VID), col("eigen"))
        .groupBy(Graph.VID).agg(sum("eigen").as("m"))
      val raw = graft.core.Lineage.cut(verts
        .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), coalesce(col("m"), lit(0.0)).as("m")))
      val norm = raw.agg(sqrt(sum(col("m") * col("m"))).as("nrm"))
      val next = raw.crossJoin(broadcast(norm))
        .select(col(Graph.VID),
          when(col("nrm") > 0, col("m") / col("nrm")).otherwise(0.0).as("eigen"))
      pendingRelease = Some(raw)
      StepResult(next, edgesTraversed = e, converged = superstep == rounds)
    }
    pendingRelease.foreach(graft.core.Lineage.release)
    adj.unpersist(blocking = false); verts.unpersist(blocking = false)
    if (ownE) graft.core.Lineage.release(e0)
    Result(outcome.state, outcome.metrics)
  }
}
