package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Adjacency, Graph, StepResult, Superstep}

/**
 * Katz centrality — a link-graph extension beyond the reference (Totem has
 * PageRank/betweenness/closeness/stress but no attenuation-based walk
 * centrality; same family as `totem_page_rank.cu`'s fixed-round scheme).
 *
 * Definition (textbook): katz(v) = Σ_{k≥1} α^k · |walks of length k ending
 * at v|, truncated at `rounds` terms. The k-truncated prefix satisfies the
 * recurrence
 *
 *   x_t(v) = α · Σ_{u→v} (1 + x_{t-1}(u)),   x_0 = 0
 *
 * (a walk of length ≥1 ending at v is an edge u→v preceded by a walk of
 * length ≥0 ending at u). Fixed `rounds` keeps it DuckDB-unrollable, the
 * same contract as the 5-round PageRank quirk; α must be < 1/λ_max for the
 * untruncated series to converge — callers pick it per graph, the default
 * 0.1 is safe for the bench graphs.
 *
 * Plan shape per superstep = exactly [[PageRank.run]]'s: state (vid, katz —
 * two primitive columns) shuffle-hash-joined against the persisted chunked
 * adjacency, explode + map-side-combined sum (one O(V) Exchange per
 * superstep; the O(E) adjacency side never re-shuffles), left join back to
 * the vertex frame. Scale behavior is therefore identical to PageRank's,
 * which the scaling legs measure.
 */
object Katz {

  final case class Result(scores: DataFrame, metrics: Seq[graft.core.StepMetrics])

  def run(edges: DataFrame,
          rounds: Int = 5,
          alpha: Double = 0.1,
          checkpointDir: Option[String] = None,
          resume: Boolean = false): Result = {
    val g = Adjacency.load(edges)
    import g.{adj, verts, e}

    val init = verts.select(col(Graph.VID), lit(0.0).as("katz"))
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = rounds, checkpointDir = checkpointDir,
        resume = resume)) { (state, superstep) =>
      val msgs = Adjacency.scatter(adj, state, lit(1.0) + col("katz"), sum(_), "m")
      val next = verts
        .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID),
          (lit(alpha) * coalesce(col("m"), lit(0.0))).as("katz"))
      StepResult(next, edgesTraversed = e, converged = superstep == rounds)
    }
    g.release()
    Result(outcome.state, outcome.metrics)
  }
}
