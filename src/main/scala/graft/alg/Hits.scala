package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, StepResult, Superstep}

/**
 * HITS (hubs & authorities) — a link-graph staple the reference does not
 * ship (its centrality family is betweenness/closeness/stress,
 * `/root/reference/src/alg/totem_betweenness.cu` etc.); added here because a
 * web link-graph engine without hub/authority scoring is incomplete.
 *
 * Classic Kleinberg iteration, fixed round count for oracle-ability:
 *   auth'(v) = Σ_{u→v} hub(u)        (scatter along forward edges)
 *   hub'(u)  = Σ_{u→v} auth'(v)      (scatter along reverse edges,
 *                                     using the FRESH auth — the textbook
 *                                     sequential update)
 *   then both vectors are L2-normalized.
 *
 * Plan shape per superstep: two scatter-reduces (each one Exchange with
 * map-side partial agg — same shape as a PageRank superstep, see
 * `PageRank.run`), plus two single-row global aggregates for the norms,
 * re-attached via broadcast cross join (O(1) rows — never a driver
 * collect of vertex data). Forward adjacency is hash-partitioned by src
 * and the reverse adjacency by its own src (= original dst) once, before
 * the loop; only O(V) state frames move per superstep.
 */
object Hits {

  final case class Result(scores: DataFrame, metrics: Seq[graft.core.StepMetrics])

  def run(edges: DataFrame,
          rounds: Int = 5,
          checkpointDir: Option[String] = None,
          resume: Boolean = false): Result = {
    val g = Adjacency.load(edges)
    import g.{adj => adjF, verts, e}
    val adjR = Adjacency.build(Graph.reverse(g.edges))
      .persist(StorageLevel.MEMORY_AND_DISK)
    adjR.count() // partition build is init-time, not alg_exec

    val init = verts.select(col(Graph.VID), lit(1.0).as("hub"), lit(1.0).as("auth"))

    // `raw` below outlives its superstep (the returned `next` plan reads
    // it), so it is released at the START of the following closure call —
    // by then Superstep has materialized `next` (cut-before-probe contract)
    var pendingRelease: Option[DataFrame] = None
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = rounds, checkpointDir = checkpointDir,
        resume = resume)) { (state, superstep) =>
      pendingRelease.foreach(graft.core.Lineage.release); pendingRelease = None
      // auth'(v) = Σ_{u→v} hub(u)
      val authMsgs = Adjacency.scatter(adjF, state, col("hub"), sum(_), "a_raw")
      // materialize ONCE: `authed` feeds both the reverse scatter and the
      // final join — without the cut the forward scatter subtree would
      // execute twice per superstep (the double-execution
      // PageRank.runUntilConverged guards against)
      val authed = graft.core.Lineage.cut(verts
        .join(authMsgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), coalesce(col("a_raw"), lit(0.0)).as("a_raw")))
      // hub'(u) = Σ_{u→v} auth'(v): reverse scatter of the fresh auth
      val hubMsgs = Adjacency.scatter(adjR, authed, col("a_raw"), sum(_), "h_raw")
      // same single-materialization rule: `raw` feeds the norm aggregate
      // AND the output select
      val raw = graft.core.Lineage.cut(authed
        .join(hubMsgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), coalesce(col("h_raw"), lit(0.0)).as("h_raw"),
          col("a_raw")))
      graft.core.Lineage.release(authed) // raw is materialized; safe now
      // L2 norms: single-row aggregate, broadcast back (no vertex collect)
      val norms = raw.agg(
        sqrt(sum(col("h_raw") * col("h_raw"))).as("hn"),
        sqrt(sum(col("a_raw") * col("a_raw"))).as("an"))
      val next = raw.crossJoin(broadcast(norms))
        .select(col(Graph.VID),
          when(col("hn") > 0, col("h_raw") / col("hn")).otherwise(0.0).as("hub"),
          when(col("an") > 0, col("a_raw") / col("an")).otherwise(0.0).as("auth"))
      pendingRelease = Some(raw)
      StepResult(next, edgesTraversed = 2 * e, converged = superstep == rounds)
    }
    pendingRelease.foreach(graft.core.Lineage.release)

    adjR.unpersist(blocking = false)
    g.release()
    Result(outcome.state.select(col(Graph.VID), col("hub"), col("auth")),
      outcome.metrics)
  }
}
