package graft.alg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, StepResult, Superstep}

/**
 * Maximal independent set (Luby-style with fixed deterministic priorities)
 * and greedy graph coloring by iterated MIS extraction.
 *
 * Extensions beyond the reference inventory (the reference has no MIS or
 * coloring kernel); both are standard BSP graph primitives with the same
 * scatter-reduce superstep shape as the reference's kernels
 * (`/root/reference/src/alg/totem_cc_hybrid.cu:392-463` for the
 * push-min-to-neighbors pattern this reuses).
 *
 * Determinism: each vertex gets a fixed priority key from a multiplicative
 * hash computed with plain BIGINT arithmetic (no xxhash64), so the exact
 * same key — and therefore the exact same MIS/coloring — is computable in
 * ANSI SQL by the DuckDB oracle. With fixed priorities, the parallel
 * "select local minima, remove their neighbors" rounds compute exactly the
 * sequential greedy MIS over the priority order (the classic Luby/greedy
 * equivalence), which the spec checks against a driver-side greedy oracle.
 *
 * Scale shape: each superstep is one scatter (adjacency join + explode +
 * min-aggregate, map-side combined) plus one small kill-set join — the
 * PageRank/WCC plan shape: a single Exchange per aggregation, shuffle_hash
 * hints keeping the loop joins off sort-merge. The active set shrinks
 * geometrically (dense graphs lose most vertices in the first rounds), so
 * late supersteps touch a vanishing fraction of edges, like the WCC delta
 * frontier.
 */
object Independent {

  final case class MisResult(members: DataFrame, metrics: Seq[graft.core.StepMetrics])
  final case class ColoringResult(colors: DataFrame, numColors: Int,
      metrics: Seq[graft.core.StepMetrics])

  /** Deterministic priority: Knuth multiplicative hash packed with the vid
   * as tiebreak into one BIGINT, yielding a strict total order computable
   * identically in Spark and DuckDB. Domain: 0 <= vid < 2^31 (the hash
   * multiply stays under 2^63) — beyond that, widen to a two-column
   * (hash, vid) lexicographic min. */
  private[graft] def priorityKey(vid: Column): Column =
    (vid * lit(2654435761L) + lit(104729L)) % lit(1000000007L) *
      lit(8589934592L) + vid

  // status codes for the MIS rounds
  private val Active = 0
  private val Member = 1
  private val Removed = 2
  private val Colored = 3 // coloring only: vertex left the process for good

  /**
   * Maximal independent set of the undirected graph. `edges` may be
   * directed; symmetrized internally. Returns (vid, in_mis) for every
   * vertex. Independence and maximality hold at convergence by
   * construction: two adjacent local minima of a strict total order are
   * impossible, and a vertex only leaves the active set into Member or
   * Removed-by-a-Member-neighbor.
   */
  def mis(edges: DataFrame,
          maxSupersteps: Int = 100,
          checkpointDir: Option[String] = None): MisResult = {
    // cut: adjacency + degree passes share one materialized symmetrization
    val und = graft.core.Lineage.cut(Graph.undirected(edges))
    val adj = Adjacency.build(und).persist(StorageLevel.MEMORY_AND_DISK)
    val degs = Graph.outDegrees(und).persist(StorageLevel.MEMORY_AND_DISK)
    val init = degs.select(col(Graph.VID), priorityKey(col(Graph.VID)).as("k"),
      lit(Active).as("status"), col("deg"))

    var carried: Option[(Long, Long)] = None
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps,
        checkpointDir = checkpointDir)) { (state, _) =>
      val (frontEdges, _) = carried.getOrElse(activeStats(state))
      val next = misRound(adj, state)
      val cut = graft.core.Lineage.cut(next)
      val post = activeStats(cut)
      carried = Some(post)
      StepResult(cut, frontEdges, converged = post._2 == 0L)
    }
    adj.unpersist(blocking = false); degs.unpersist(blocking = false)
    graft.core.Lineage.release(und)
    MisResult(
      outcome.state.select(col(Graph.VID), (col("status") === Member).as("in_mis")),
      outcome.metrics)
  }

  /**
   * Greedy coloring by iterated MIS: extract the MIS of the uncolored
   * subgraph, assign it color c, repeat with c+1 — the Jones–Plassmann
   * family's simplest deterministic member. Colors are dense from 0;
   * `numColors` <= degeneracy-bounded greedy chromatic number.
   *
   * `innerRounds`: MIS rounds per color phase. The default (0) runs each
   * phase to its fixpoint (the production path). A positive value caps the
   * phase at exactly that many rounds — any vertex still undecided when the
   * cap hits is deferred to the next color phase. The capped variant is
   * what the driver query runs, because a fixed round budget makes the
   * whole process expressible as unrolled SQL for the DuckDB oracle
   * (variable-depth inner loops are not fixed-depth SQL); with a cap at or
   * above every phase's actual fixpoint depth the two variants coincide.
   */
  def coloring(edges: DataFrame,
               maxColors: Int = 64,
               innerRounds: Int = 0,
               maxSupersteps: Int = 400): ColoringResult = {
    // cut: adjacency + degree passes share one materialized symmetrization
    val und = graft.core.Lineage.cut(Graph.undirected(edges))
    val adj = Adjacency.build(und).persist(StorageLevel.MEMORY_AND_DISK)
    val degs = Graph.outDegrees(und).persist(StorageLevel.MEMORY_AND_DISK)
    val init = degs.select(col(Graph.VID), priorityKey(col(Graph.VID)).as("k"),
      lit(Active).as("status"), lit(-1).as("color"), col("deg"))

    var phaseColor = 0
    var phaseRound = 0
    var carried: Option[(Long, Long)] = None
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps)) { (state, _) =>
      val (frontEdges, _) = carried.getOrElse(activeStats(state))
      val stepped = misRound(adj, state)
      phaseRound += 1
      val cut0 = graft.core.Lineage.cut(stepped)
      val (postEdges, postActive) = activeStats(cut0)
      val phaseDone = postActive == 0L ||
        (innerRounds > 0 && phaseRound >= innerRounds)
      if (!phaseDone) {
        carried = Some((postEdges, postActive))
        StepResult(cut0, frontEdges, converged = false)
      } else {
        // close the phase: members take the phase color and leave; removed
        // (and any still-active vertices under a round cap) re-activate for
        // the next color
        val sealed0 = cut0.select(col(Graph.VID), col("k"),
          when(col("status") === Member, Colored)
            .when(col("status") === Colored, Colored)
            .otherwise(lit(Active)).as("status"),
          when(col("status") === Member, phaseColor)
            .otherwise(col("color")).as("color"),
          col("deg"))
        val cut1 = graft.core.Lineage.cut(sealed0)
        graft.core.Lineage.release(cut0)
        val post = activeStats(cut1)
        carried = Some(post)
        phaseColor += 1
        phaseRound = 0
        StepResult(cut1, frontEdges,
          converged = post._2 == 0L || phaseColor >= maxColors)
      }
    }
    adj.unpersist(blocking = false); degs.unpersist(blocking = false)
    graft.core.Lineage.release(und)
    ColoringResult(
      outcome.state.select(col(Graph.VID), col("color")),
      phaseColor, outcome.metrics)
  }

  /** One Luby round over the Active subset of `state` (columns vid, k,
   * status, ... passthrough): select active vertices whose key is a strict
   * minimum over their active neighbors, then remove the selected set's
   * active neighbors. Non-(vid,k,status,deg) columns pass through. */
  private def misRound(adj: DataFrame, state: DataFrame): DataFrame = {
    val passthrough = state.columns.filterNot(c =>
      c == Graph.VID || c == "status").map(col)
    val active = state.filter(col("status") === Active)
      .select(col(Graph.VID), col("k"))
    // scatter each active vertex's key to its neighbors; min per receiver
    val nbrMin = Adjacency.scatter(adj, active, col("k"), min(_), "__mn")
    val sel = active.join(nbrMin.hint("shuffle_hash"), Seq(Graph.VID), "left")
      .filter(col("__mn").isNull || col("k") < col("__mn"))
      .select(col(Graph.VID))
    // the selected set's neighborhood — the kill set for this round
    val kill = Adjacency.expand(adj, sel)
    state
      .join(sel.select(col(Graph.VID), lit(true).as("__sel"))
        .hint("shuffle_hash"), Seq(Graph.VID), "left")
      .join(kill.select(col(Graph.VID), lit(true).as("__kill"))
        .hint("shuffle_hash"), Seq(Graph.VID), "left")
      .select((col(Graph.VID) +:
        when(col("status") =!= Active, col("status"))
          .when(col("__sel"), Member)
          .when(col("__kill"), Removed)
          .otherwise(Active).as("status") +:
        passthrough): _*)
      .select(state.columns.map(col): _*) // restore original column order
  }

  /** (sum of active degrees, active count) of the current state — one scan
   * of the cached frame, mirroring ConnectedComponents.frontierStats. */
  private def activeStats(df: DataFrame): (Long, Long) = {
    val r = df.filter(col("status") === Active)
      .agg(coalesce(sum("deg"), lit(0L)), count(lit(1))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
