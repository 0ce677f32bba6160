package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Graph

/**
 * Graph-regularized feature smoothing — the GNN mean-aggregation layer
 * (GraphSAGE's mean aggregator / label-spreading over a link graph) as an
 * iterative Dataset job: per round every vertex's feature value becomes
 * `(1−α)·self + α·mean(contributing neighbors)` over the undirected link
 * graph. The mean at each vector POSITION is over the neighbors that carry
 * that position (with ragged vector lengths a short neighbor contributes
 * only to the positions it has); a vertex with no contributors at a
 * position — isolated, featureless neighbors, or no neighbor reaching that
 * position — keeps its own value. On a web corpus this propagates
 * page-level embedding signal along links — the feature analog of the
 * PageRank/label-prop passes, and the input prep for graph-aware semantic
 * dedup (smooth, then [[Ann.semDedup]]).
 *
 * Exactness across engines (the DuckDB oracle unrolls the same rounds):
 * features are quantized to integer MICRO-units at ingest and re-quantized
 * after every round, so the only floating-point expression per round —
 * `(1−α)·self_µ + α·(Σ nbr_µ)/contributors` — is computed from exact
 * integers in one identical shape on both engines (Σ over longs is
 * order-free, unlike a float sum), and `floor(x + 0.5)` pins the half-up
 * tie rule. Same discipline as the DSIR nano-unit weights.
 *
 * Scale shape: state lives EXPLODED as (vid, pos, µ-value) — O(V·dim)
 * rows. Per round: one edge⋈state shuffle-hash join (messages), one
 * map-side-combined (vid, pos) sum+count, one (vid, pos)-keyed blend
 * join — the PageRank superstep plan widened by the dim factor, which is
 * inherent to feature propagation (every round moves E·dim values). No
 * windows, no driver collect; arrays are rebuilt once at the end.
 */
object FeatureProp {

  /** Smooth `vecCol` (array<float/double>) of `feats` over `edges` for
   * `rounds` rounds at blend factor `alpha`. Returns (idCol, vecCol) with
   * the smoothed vector as array<double> — one row per distinct id whose
   * input vector is non-empty (null/empty vectors have no positions to
   * smooth and are dropped; duplicate-id rows are merged). */
  def smooth(edges: DataFrame, feats: DataFrame, idCol: String, vecCol: String,
             alpha: Double, rounds: Int): DataFrame = {
    exploded(edges, feats, idCol, vecCol, alpha, rounds)
      .groupBy(col("vid").as(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("uv")))),
        e => e("uv").cast("double") / 1e6).as(vecCol))
  }

  /** The smoothing loop in exploded micro-unit form: (vid, pos, uv) with
   * pos 1-based and uv = round(value·1e6). Exposed for oracle-exact
   * integer comparison (q_embed_smooth) and for pipelines that keep
   * features columnar. */
  def exploded(edges: DataFrame, feats: DataFrame, idCol: String, vecCol: String,
               alpha: Double, rounds: Int): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1], got $alpha")
    // neighbors = undirected distinct non-self link set, restricted to
    // endpoints that THEMSELVES carry features — a featureless neighbor
    // neither contributes to nor dilutes the mean
    val und = Graph.undirected(edges).filter(col(Graph.SRC) =!= col(Graph.DST))
    val ids = feats.select(col(idCol).as("__fid"))
    val e = und
      .join(ids.withColumnRenamed("__fid", Graph.SRC), Graph.SRC, "left_semi")
      .join(ids.withColumnRenamed("__fid", Graph.DST), Graph.DST, "left_semi")
      .repartition(col(Graph.SRC))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var state = graft.core.Lineage.cut(
      feats.select(col(idCol).as("vid"),
          posexplode(col(vecCol)).as(Seq("p0", "v")))
        .select(col("vid"), (col("p0") + 1).cast("long").as("pos"),
          floor(col("v").cast("double") * 1e6 + 0.5).cast("long").as("uv")))

    for (_ <- 1 to rounds) {
      val cut = graft.core.Lineage.cut(round(e, state, alpha))
      graft.core.Lineage.release(state)
      state = cut
    }
    e.unpersist(blocking = false)
    state
  }

  /** ONE smoothing round over the featured edge set `e` and exploded state
   * (vid, pos, uv): messages = edge⋈state shuffle-hash join, reduce =
   * map-side-combined per-(vid, pos) sum + contributor count, blend =
   * (vid, pos)-keyed left join. One round is one plan: the loop cuts
   * lineage after each, so the plan never grows with the round count. */
  private def round(e: DataFrame, state: DataFrame, alpha: Double): DataFrame = {
    val msgs = e.join(state.hint("shuffle_hash"), e(Graph.SRC) === state("vid"))
      .select(e(Graph.DST).as("vid"), col("pos"), col("uv"))
      .groupBy("vid", "pos")
      .agg(sum("uv").as("s"), count(lit(1)).as("c"))
    state.join(msgs.hint("shuffle_hash"), Seq("vid", "pos"), "left")
      .select(col("vid"), col("pos"),
        when(col("s").isNotNull,
          floor(lit(1.0 - alpha) * col("uv") +
            lit(alpha) * (col("s").cast("double") / col("c")) + 0.5)
            .cast("long"))
          .otherwise(col("uv")).as("uv"))
  }
}
