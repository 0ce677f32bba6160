package graft.alg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, StepResult, Superstep}

/**
 * PageRank with the reference's exact semantics
 * (`/root/reference/src/alg/totem_page_rank.cu:351-409`):
 *
 *  - init: stored rank = 1/V for every vertex;
 *  - each round r=1..R: mailbox(v) = Σ_{u→v} stored(u); then
 *    value(v) = (1-d)/V + d·mailbox(v); the STORED rank for the next round
 *    is value/outdeg(v) — except the final round, which stores the
 *    undivided value. Round 1 therefore sums undivided 1/V (the reference's
 *    deliberate quirk). No dangling-mass redistribution.
 *  - damping d = 0.85 (`totem_alg.h:70`), R = 5 (`PAGE_RANK_ROUNDS`,
 *    `totem_alg.h:60`).
 *  - zero-out-degree vertices: the reference divides by 0 (→ inf) but the
 *    value is never read (no out-edges) and the final round overwrites it;
 *    here the division is simply skipped — identical observable results.
 *
 * Plan shape (per superstep, O(V) shuffle — the edge side stays put):
 *   adjacency (chunked, persisted, hash-partitioned by src)
 *     ⋈ state(vid, stored)          — only the small state side shuffles
 *     → explode(nbrs) → groupBy(dst).sum(stored)   — partial agg map-side,
 *       Totem's outbox combiner (`totem_engine_internal.cuh:70-183`) for free
 *     → left join vertices → damping update.
 */
object PageRank {

  final case class Result(ranks: DataFrame, metrics: Seq[graft.core.StepMetrics])

  /**
   * Shared init for the rank family: the loaded graph ([[Adjacency.load]])
   * plus the out-degree frame, persisted and forced (init time, not
   * alg_exec). Composite metrics that run SEVERAL rank loops over the SAME
   * graph ([[spamMass]]: global + personalized) load it once instead of
   * paying the O(E) adjacency build per loop.
   */
  private def withGraph[T](edges: DataFrame, chunkSize: Int = Adjacency.DefaultChunk)
                          (body: (Adjacency.Loaded, DataFrame) => T): T = {
    val g = Adjacency.load(edges, chunkSize)
    // deg per vertex for the pre-division (0 for pure sinks)
    val degs = g.verts.join(Graph.outDegrees(g.edges), Seq(Graph.VID), "left")
      .select(col(Graph.VID), coalesce(col("deg"), lit(0L)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      degs.count() // init-time, not alg_exec
      body(g, degs)
    } finally { degs.unpersist(blocking = false); g.release() }
  }

  /** The stored rank a vertex scatters next round: value/deg, except a
   * sink keeps its value (the reference's division by 0 is never read). */
  private def preDivided(value: Column): Column =
    when(col("deg") > 0, value / col("deg")).otherwise(value)

  def run(edges: DataFrame,
          rounds: Int = 5,
          damping: Double = 0.85,
          checkpointDir: Option[String] = None,
          resume: Boolean = false,
          chunkSize: Int = Adjacency.DefaultChunk): Result =
    withGraph(edges, chunkSize)(runWith(_, _, rounds, damping, checkpointDir, resume))

  private def runWith(g: Adjacency.Loaded, degs: DataFrame,
                      rounds: Int = 5,
                      damping: Double = 0.85,
                      checkpointDir: Option[String] = None,
                      resume: Boolean = false): Result = {
    import g.{adj, verts, v, e}
    val base = (1.0 - damping) / v

    val init = verts.select(col(Graph.VID), lit(1.0 / v).as("stored"))

    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = rounds, checkpointDir = checkpointDir,
        resume = resume,
        fingerprint = s"pagerank rounds=$rounds damping=$damping V=$v E=$e")) {
        (state, superstep) =>
      val msgs = Adjacency.scatter(adj, state, col("stored"), sum(_), "mbox")
      // shuffle_hash on the O(V) mailbox side: without it the planner picks
      // sort-merge and re-sorts two O(V) frames every superstep
      val updated = degs
        .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), col("deg"),
          (lit(base) + lit(damping) * coalesce(col("mbox"), lit(0.0))).as("value"))
      val next =
        if (superstep == rounds)
          updated.select(col(Graph.VID), col("value").as("stored"))
        else
          updated.select(col(Graph.VID), preDivided(col("value")).as("stored"))
      StepResult(next, edgesTraversed = e, converged = superstep == rounds)
    }

    Result(outcome.state.select(col(Graph.VID), col("stored").as("rank")), outcome.metrics)
  }

  /**
   * WEIGHTED PageRank over an edge table carrying a `weight` column — the
   * natural rank for quotient graphs like [[graft.text.EdgeExtract.hostGraph]]
   * output, where an edge's weight is the number of collapsed page links.
   * Semantics generalize [[run]]'s reference-exact rules by replacing
   * out-degree with WEIGHTED out-degree and the mailbox sum with
   * Σ stored(u)·w(u→v): with all weights 1 the two are identical, round
   * for round (the stored-pre-divided quirk included).
   *
   * Scatter goes through the weighted edge table directly (hash-partitioned
   * once by src, persisted) rather than the chunked adjacency — weight
   * rides the edge row; the per-superstep plan is the same single
   * map-side-combined Exchange. Vertex ids may be any equality-comparable
   * type (host strings included).
   */
  def runWeighted(wedges: DataFrame,
                  rounds: Int = 5,
                  damping: Double = 0.85): Result = {
    val w = wedges
      .select(col(Graph.SRC), col(Graph.DST), col("weight").cast("double").as("w"))
      .repartition(col(Graph.SRC))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = Graph.vertices(w).persist(StorageLevel.MEMORY_AND_DISK)
    val v = verts.count()
    val e = w.count()
    val base = (1.0 - damping) / v
    val wdeg = verts
      .join(w.groupBy(col(Graph.SRC).as(Graph.VID)).agg(sum("w").as("wdeg")),
        Seq(Graph.VID), "left")
      .select(col(Graph.VID), coalesce(col("wdeg"), lit(0.0)).as("wdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    wdeg.count()

    val init = verts.select(col(Graph.VID), lit(1.0 / v).as("stored"))
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = rounds)) { (state, superstep) =>
      val msgs = w.join(state.hint("shuffle_hash"), w(Graph.SRC) === state(Graph.VID))
        .select(col(Graph.DST).as(Graph.VID), (col("stored") * col("w")).as("c"))
        .groupBy(Graph.VID)
        .agg(sum("c").as("mbox"))
      val updated = wdeg
        .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), col("wdeg"),
          (lit(base) + lit(damping) * coalesce(col("mbox"), lit(0.0))).as("value"))
      val next =
        if (superstep == rounds)
          updated.select(col(Graph.VID), col("value").as("stored"))
        else
          updated.select(col(Graph.VID),
            when(col("wdeg") > 0, col("value") / col("wdeg"))
              .otherwise(col("value")).as("stored"))
      StepResult(next, edgesTraversed = e, converged = superstep == rounds)
    }
    w.unpersist(blocking = false); wdeg.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    Result(outcome.state.select(col(Graph.VID), col("stored").as("rank")), outcome.metrics)
  }

  /**
   * Personalized PageRank (random walk with restart to a seed set) — a
   * link-graph extension beyond the reference (`totem_page_rank.cu` has only
   * the global variant): textbook semantics
   *   value(v) = (1-d)·seed(v) + d·Σ_{u→v} value(u)/outdeg(u)
   * with seed(v) = 1/|S| for v ∈ S, else 0, iterated a fixed `rounds` times
   * from value = seed. No dangling-mass redistribution (matching the global
   * variant's reference semantics).
   *
   * Same per-superstep plan shape as [[run]]: the state carries the
   * PRE-DIVIDED score (value/outdeg), so the scatter is one adjacency join +
   * map-side-combined sum — one O(V-ish) Exchange per superstep. The seed
   * set is a column on the O(V) state, never a driver-side structure.
   */
  def personalized(edges: DataFrame,
                   seeds: Seq[Long],
                   rounds: Int = 5,
                   damping: Double = 0.85,
                   checkpointDir: Option[String] = None,
                   resume: Boolean = false): Result =
    withGraph(edges)(personalizedWith(_, _, seeds, rounds, damping, checkpointDir, resume))

  private def personalizedWith(g: Adjacency.Loaded, degs0: DataFrame,
                               seeds: Seq[Long],
                               rounds: Int = 5,
                               damping: Double = 0.85,
                               checkpointDir: Option[String] = None,
                               resume: Boolean = false): Result = {
    require(seeds.nonEmpty, "personalized PageRank needs a non-empty seed set")
    import g.{adj, e}
    val seedMass = 1.0 / seeds.size

    // (vid, deg, seed): seed = restart mass — a narrow projection over the
    // shared persisted degree frame (the seed column re-evaluates per read,
    // an O(1) literal-set probe on cached rows)
    val degs = degs0
      .select(col(Graph.VID), col("deg"),
        when(col(Graph.VID).isInCollection(seeds), lit(seedMass))
          .otherwise(lit(0.0)).as("seed"))

    // stored = value/deg; init value = seed(v)
    val init = degs.select(col(Graph.VID),
      preDivided(col("seed")).as("stored"), col("seed").as("value"))

    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = rounds, checkpointDir = checkpointDir,
        resume = resume)) { (state, superstep) =>
      val msgs = Adjacency.scatter(adj, state, col("stored"), sum(_), "mbox")
      val next = degs
        .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), col("deg"),
          (lit(1.0 - damping) * col("seed")
            + lit(damping) * coalesce(col("mbox"), lit(0.0))).as("value"))
        .select(col(Graph.VID), preDivided(col("value")).as("stored"), col("value"))
      StepResult(next, edgesTraversed = e, converged = superstep == rounds)
    }
    Result(outcome.state.select(col(Graph.VID), col("value").as("rank")), outcome.metrics)
  }

  /**
   * TrustRank spam mass (Gyöngyi, Garcia-Molina & Pedersen, "Combating Web
   * Spam with TrustRank", VLDB 2004; relative mass per Gyöngyi et al.,
   * "Link Spam Detection Based on Mass Estimation", VLDB 2006): for each
   * page, `spam_mass = (PR − TR) / PR` where PR is the global rank ([[run]],
   * reference-exact 5-round semantics) and TR the rank personalized on the
   * trusted seed set ([[personalized]]) — the fraction of a page's rank NOT
   * explainable by trusted sources. A page whose mass approaches 1 earns
   * its rank from untrusted (likely spam-farm) links.
   *
   * One shared init: the chunked adjacency, vertex set, and degree frame are
   * built and persisted ONCE ([[withGraph]]) and both superstep loops read
   * them — running the two loops separately pays the O(E) adjacency build
   * and three init passes twice for identical frames. The arithmetic is
   * bit-identical to composing [[run]] and [[personalized]] by hand (same
   * persisted inputs, same operation order).
   *
   * Both ranks are rounded to `roundTo` decimals BEFORE the ratio so a
   * cross-engine oracle dividing the same rounded values sees bit-identical
   * numerators and denominators (the Dsir rounding discipline).
   *
   * @return (vid, pr, tr, spam_mass), ranks rounded to `roundTo`.
   */
  def spamMass(edges: DataFrame,
               seeds: Seq[Long],
               rounds: Int = 5,
               damping: Double = 0.85,
               roundTo: Int = 6): DataFrame =
    withGraph(edges) { (g, degs) =>
      val pr = runWith(g, degs, rounds, damping).ranks
        .select(col(Graph.VID), round(col("rank"), roundTo).as("pr"))
      val tr = personalizedWith(g, degs, seeds, rounds, damping).ranks
        .select(col(Graph.VID), round(col("rank"), roundTo).as("tr"))
      // the two rank frames are already materialized (each loop's last
      // superstep is lineage-cut), so the join runs before the graph release
      val out = pr.join(tr, Seq(Graph.VID))
        .select(col(Graph.VID), col("pr"), col("tr"),
          round((col("pr") - col("tr")) / col("pr"), roundTo).as("spam_mass"))
      // the loops' final cut states stay pinned only until GC (weak-keyed
      // backing map + ContextCleaner), same as every Result-returning run
      graft.core.Lineage.cut(out)
    }

  /**
   * Convergence mode (north rule's "iterations-to-convergence"): same update
   * rule but iterate until L∞(new-old) < tol on the UNDIVIDED values.
   * Returns (ranks, iterations, metrics).
   */
  /** @param warmStart previous `(vid, rank)` fixed point to start from —
   *  the recrawl path: when a new snapshot changes a fraction of the link
   *  graph, the old ranks are already near the new fixed point, so
   *  convergence takes a handful of supersteps instead of a cold start's
   *  dozens. Safe by construction: the damped iteration is a contraction
   *  with a unique fixed point, so ANY starting vector converges to the
   *  same ranks (spec-checked: warm equals cold within tolerance; warm
   *  from the graph's own fixed point converges in one superstep).
   *  Vertices absent from `warmStart` (newly crawled) start at 1/V. */
  def runUntilConverged(edges: DataFrame,
                        tol: Double = 1e-6,
                        damping: Double = 0.85,
                        maxIter: Int = 100,
                        checkpointDir: Option[String] = None,
                        warmStart: Option[DataFrame] = None): Result =
    withGraph(edges) { (g, degs) =>
      import g.{adj, verts, v, e}
      val base = (1.0 - damping) / v

      // state carries both the stored (pre-divided) rank and the display value
      val init = warmStart match {
        case None =>
          verts.select(col(Graph.VID), lit(1.0 / v).as("stored"), lit(1.0 / v).as("value"))
        case Some(prev) =>
          // initialize as if the previous run's last superstep produced this
          // state (stored pre-divided by out-degree), so an unchanged graph
          // passes the L∞ probe immediately
          degs.join(prev.select(col(Graph.VID), col("rank").as("value")),
              Seq(Graph.VID), "left")
            .select(col(Graph.VID), col("deg"),
              coalesce(col("value"), lit(1.0 / v)).as("value"))
            .select(col(Graph.VID), preDivided(col("value")).as("stored"), col("value"))
      }
      val outcome = Superstep.run(init,
        Superstep.Config(maxSupersteps = maxIter,
          checkpointDir = checkpointDir)) { (state, _) =>
        val msgs = Adjacency.scatter(adj, state, col("stored"), sum(_), "mbox")
        val next = degs
          .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
          .select(col(Graph.VID), col("deg"),
            (lit(base) + lit(damping) * coalesce(col("mbox"), lit(0.0))).as("value"))
          .select(col(Graph.VID), preDivided(col("value")).as("stored"), col("value"))
        // materialize once; the L∞ probe joins two CACHED O(V) frames instead
        // of re-executing the O(E) message plan
        val cut = graft.core.Lineage.cut(next)
        val delta = cut.select(col(Graph.VID), col("value"))
          .join(state.select(col(Graph.VID), col("value").as("old")), Seq(Graph.VID))
          .agg(max(abs(col("value") - col("old")))).collect()(0).getDouble(0)
        StepResult(cut, edgesTraversed = e, converged = delta < tol)
      }
      Result(outcome.state.select(col(Graph.VID), col("value").as("rank")), outcome.metrics)
    }
}
