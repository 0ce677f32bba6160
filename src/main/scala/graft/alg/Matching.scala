package graft.alg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Graph, StepResult, Superstep}

/**
 * Maximal matching by parallel mutual-minimum rounds over a fixed
 * deterministic edge order (the edge analog of [[Independent]]'s Luby MIS;
 * an extension — the reference inventory has no matching kernel). Each
 * round selects every live edge that is the strict minimum, under a global
 * total order on edges, among all live edges incident to either of its
 * endpoints; matched endpoints and their incident edges leave the live set.
 *
 * Because the per-vertex order is the restriction of one global order, the
 * globally smallest live edge is always a mutual minimum — every round
 * makes progress, and the fixpoint equals the sequential greedy matching
 * over the edge order (spec-checked against a driver-side greedy oracle).
 *
 * Determinism / oracle: the edge key packs a multiplicative hash with the
 * canonical endpoint pair as tiebreak into one BIGINT using plain integer
 * arithmetic, so DuckDB computes the identical order. Domain: vid < 2^21
 * (hash * 2^42 + a * 2^21 + b stays under 2^63); beyond that widen to a
 * (hash, a, b) lexicographic min.
 *
 * Scale shape: a round is one union + argmin-aggregate over live edge
 * endpoints (one Exchange, map-side combined), one V-sized self-join of the
 * argmin table (the mutual test), and two live-set joins marking selected/
 * dead edges — no windows, no driver-side loops; the live set shrinks
 * geometrically like a peeling round in [[Cores]]. Matched edges ride the
 * superstep STATE (a `__st` flag column) instead of per-round accumulator
 * frames: one lineage cut per round materializes selected + still-live rows
 * together, where the two-frame shape executed the whole argmin/mutual-test
 * pipeline TWICE per round (once per cut — Spark shares no work across
 * separate actions). Matched rows are final and only O(V) total, so
 * re-materializing them with each shrinking live set keeps per-round output
 * O(V + live).
 */
object Matching {

  final case class Result(matching: DataFrame, mates: DataFrame,
      metrics: Seq[graft.core.StepMetrics])

  /** Global edge order key over canonical endpoints a < b. */
  private[graft] def edgeKey(a: Column, b: Column): Column =
    (a * lit(2654435761L) + b * lit(2097593L) + lit(104729L)) % lit(2097143L) *
      lit(4398046511104L) + a * lit(2097152L) + b

  /**
   * `edges` may be directed or carry duplicates; canonicalized internally
   * (self-loops dropped — a self-loop cannot be matched). Returns the
   * matched pairs `(a, b)` and a per-vertex view `(vid, mate)` with
   * mate = -1 for unmatched vertices.
   */
  def run(edges: DataFrame,
          maxSupersteps: Int = 100): Result = {
    val ce = edges.filter(col(Graph.SRC) =!= col(Graph.DST))
      .select(least(col(Graph.SRC), col(Graph.DST)).as("a"),
        greatest(col(Graph.SRC), col(Graph.DST)).as("b"))
      .distinct()
    val verts = Graph.vertices(edges)

    // state = matched rows (__st = 1, final) + LIVE rows (__st = 0); dead
    // edges (a matched endpoint, not selected) are dropped. One cut per
    // round materializes both views together — see the scaladoc. The
    // per-vertex ARGMIN (pk, partner) makes the mutual-minimum test a join
    // of two V-sized frames.
    val init = ce.select(col("a"), col("b"),
      edgeKey(col("a"), col("b")).as("pk"), lit(0).as("__st"))

    var carriedLive: Option[Long] = None
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps)) { (state, _) =>
      val live = state.filter(col("__st") === 0)
      val liveBefore = carriedLive.getOrElse(live.count())
      // per-vertex argmin live incident edge: (vid, its min pk, partner)
      val vmin = live
        .select(col("a").as(Graph.VID), struct(col("pk"), col("b").as("o")).as("m"))
        .union(live
          .select(col("b").as(Graph.VID), struct(col("pk"), col("a").as("o")).as("m")))
        .groupBy(Graph.VID).agg(min("m").as("m"))
        .select(col(Graph.VID), col("m.pk").as("mpk"), col("m.o").as("mo"))
      // v is matched iff its argmin edge is also its partner's argmin —
      // pk packs (a, b), so equal pk means the SAME edge
      val mv = vmin
        .join(vmin.select(col(Graph.VID).as("__pv"), col("mpk").as("__ppk"))
          .hint("shuffle_hash"), col("mo") === col("__pv"))
        .filter(col("mpk") === col("__ppk"))
        .select(col(Graph.VID).as("__mv"), col("mpk"))
      val joined = live
        .join(mv.select(col("__mv").as("__ma"), col("mpk").as("__pka"))
          .hint("shuffle_hash"), col("a") === col("__ma"), "left")
        .join(mv.select(col("__mv").as("__mb"), col("mpk").as("__pkb"))
          .hint("shuffle_hash"), col("b") === col("__mb"), "left")
      // both endpoints matched via THIS edge -> selected (__st = 1); any
      // matched endpoint -> dead, dropped; neither -> still live (__st = 0)
      val step = joined.select(col("a"), col("b"), col("pk"),
        when(col("__pka") === col("pk") && col("__pkb") === col("pk"), lit(1))
          .when(col("__pka").isNull && col("__pkb").isNull, lit(0))
          .as("__st"))
        .filter(col("__st").isNotNull)
      val next = graft.core.Lineage.cut(
        state.filter(col("__st") === 1).unionByName(step))
      val liveAfter = next.filter(col("__st") === 0).count()
      carriedLive = Some(liveAfter)
      StepResult(next, liveBefore, converged = liveAfter == 0L)
    }

    val matching = outcome.state.filter(col("__st") === 1).select(col("a"), col("b"))
    Result(matching, matesView(verts, matching), outcome.metrics)
  }

  /**
   * 2-approximate minimum vertex cover: the matched endpoints of the
   * maximal matching. Every edge has a matched endpoint (else the matching
   * was not maximal), and any cover must pick ≥1 endpoint per matched edge,
   * so |cover| = 2·|M| ≤ 2·OPT — the textbook guarantee, at the cost of one
   * extra join over [[run]]. Returns (vid, in_cover) for every vertex.
   */
  def vertexCover(edges: DataFrame, maxSupersteps: Int = 100): DataFrame =
    run(edges, maxSupersteps).mates
      .select(col(Graph.VID), (col("mate") =!= lit(-1L)).as("in_cover"))

  private def matesView(verts: DataFrame, matching: DataFrame): DataFrame = {
    verts
      .join(matching.select(col("a").as(Graph.VID), col("b").as("__mate1")),
        Seq(Graph.VID), "left")
      .join(matching.select(col("b").as(Graph.VID), col("a").as("__mate2")),
        Seq(Graph.VID), "left")
      .select(col(Graph.VID),
        coalesce(col("__mate1"), col("__mate2"), lit(-1L)).as("mate"))
  }
}
