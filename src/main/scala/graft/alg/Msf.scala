package graft.alg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Graph, Lineage, StepResult, Superstep}

/**
 * Minimum spanning forest by parallel Boruvka phases — an extension beyond
 * the reference inventory (Totem has no MST kernel; the closest published
 * GPU relative is its SSSP/BFS scatter machinery, whose superstep shape
 * this reuses: per-phase scatter + min-aggregate, cf.
 * `/root/reference/src/alg/totem_sssp_hybrid.cu:109-156`).
 *
 * Each phase: every component finds its minimum-key outgoing edge (the
 * classic Boruvka step), those edges join the forest, and the touched
 * components contract. With a STRICT total order on edges — integer weight
 * packed with the canonical endpoint pair into one BIGINT — the forest is
 * the unique MSF (Kruskal's result), independent of parallel schedule, so
 * a DuckDB oracle can replay the phases exactly.
 *
 * Contraction runs pointer doubling on the component-level functional
 * graph (each component points at the partner of its own min edge; mutual
 * pairs anchor at the smaller id): O(log chain-depth) tiny self-joins on a
 * frame whose size at phase p is at most V/2^(p-1) — components at least
 * halve per phase, so phases are O(log V) and late phases are near-free.
 *
 * Scale shape: the superstep state is the LIVE inter-component edge list
 * itself, carrying endpoint component labels — an edge internal once is
 * internal forever (components only merge), so each phase's work is one
 * map-side-combined min aggregate over the live set plus a relabel join
 * against the O(#merged)-row roots map, all O(live) with live shrinking
 * phase over phase (the old shape re-joined the full static edge table
 * against a V-sized label frame every phase). The pointer-doubling loop
 * never touches the edge table, and the phase that empties the live set
 * reports convergence directly — no trailing sentinel phase.
 */
object Msf {

  final case class Result(forest: DataFrame, metrics: Seq[graft.core.StepMetrics])

  /** Strict global edge order: weight first, canonical endpoints as the
   * tiebreak, packed into one BIGINT. Domain: 0 <= w < 2^20 and
   * vid < 2^21 (beyond that, widen to a (w, a, b) lexicographic min). */
  private[graft] def edgeKey(w: Column, a: Column, b: Column): Column =
    w * lit(4398046511104L) + a * lit(2097152L) + b

  /**
   * `edges` must carry (src, dst, weight) with non-negative integer
   * weights; direction, duplicates, and self-loops are canonicalized away
   * (parallel edges keep the minimum weight). Returns the MSF edge set
   * (a, b, w) with a < b.
   */
  def run(edges: DataFrame,
          maxSupersteps: Int = 64): Result = {
    val ce = edges.filter(col(Graph.SRC) =!= col(Graph.DST))
      .select(least(col(Graph.SRC), col(Graph.DST)).as("a"),
        greatest(col(Graph.SRC), col(Graph.DST)).as("b"), col("weight").as("w"))
      .groupBy("a", "b").agg(min("w").as("w"))
      .select(col("a"), col("b"), col("w"),
        edgeKey(col("w"), col("a"), col("b")).as("key"))

    // state = LIVE inter-component edges carrying their endpoint component
    // labels (ca, cb). An edge internal once (ca = cb) is internal forever
    // — components only merge — so each phase relabels the SHRINKING live
    // set through the O(#merged)-row roots map instead of re-joining the
    // full static edge table against a V-sized label frame (the old shape:
    // 2 E-sized hash joins per phase regardless of how little was live).
    // The final vertex labels are never needed — [[run]] returns the
    // forest, and selected edges turn internal and drop out on their own.
    val init = ce.select(col("a"), col("b"), col("w"), col("key"),
      col("a").as("ca"), col("b").as("cb"))

    // per-phase selected-edge frames, unioned once at the end: cutting
    // forest ∪ sel each phase re-materialized the whole growing forest
    // O(phases) times (O(V log V) rows total rewritten for nothing)
    val forestFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()

    var carriedLive: Option[Long] = None
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps)) { (live, _) =>
      val liveCount = carriedLive.getOrElse(live.count())
      if (liveCount == 0L) {
        StepResult(live, 0L, converged = true)
      } else {
        // per-component minimum live edge key, and via key-equality join
        // back, the partner component across that edge
        val endp = live.select(col("ca").as("comp"), col("key"), col("cb").as("partner"))
          .unionByName(live.select(col("cb").as("comp"), col("key"), col("ca").as("partner")))
        val cmin = endp.groupBy("comp").agg(min("key").as("mk"))
        val own = endp.join(cmin.hint("shuffle_hash"), Seq("comp"))
          .filter(col("key") === col("mk"))
          .select(col("comp").as("c"), col("partner").as("p"), col("key"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // forest gains every edge that is some component's minimum — cut
        // NOW (live and own unpersist at phase end), unioned at the end
        forestFrames += Lineage.cut(
          live.join(own.select("key").distinct().hint("shuffle_hash"), Seq("key"))
            .select(col("a"), col("b"), col("w")))

        // contraction: functional graph c -> p; a mutual pair (the globally
        // minimal edge of its component, always selected by both sides)
        // anchors at its smaller id, then pointer doubling to the fixpoint.
        // The anchored map and its FIRST doubling ride one cut (`own` is
        // persisted, so the self-joined sub-plan re-reads cache) and carry
        // the change flag, so a phase with chain depth ≤ 2 — the common
        // case — skips the loop entirely
        val par0 = own
          .join(own.select(col("c").as("__p2"), col("p").as("gp")),
            col("p") === col("__p2"))
          .select(col("c"),
            when(col("gp") === col("c") && col("c") < col("p"), col("c"))
              .otherwise(col("p")).as("p"))
        var par = Lineage.cut(par0
          .join(par0.select(col("c").as("__q2"), col("p").as("__qp"))
            .hint("shuffle_hash"), col("p") === col("__q2"))
          .select(col("c"), col("__qp").as("p"),
            (col("p") =!= col("__qp")).as("__ch")))
        var changed = par.filter(col("__ch")).count()
        while (changed > 0L) {
          val next = Lineage.cut(par
            .join(par.select(col("c").as("__p2"), col("p").as("__pp"))
              .hint("shuffle_hash"), col("p") === col("__p2"))
            .select(col("c"), col("__pp").as("p"),
              (col("p") =!= col("__pp")).as("__ch")))
          changed = next.filter(col("__ch")).count()
          Lineage.release(par)
          par = next
        }
        // relabel the live set through the roots map (every component with
        // a live edge has an `own` row, so both lookups always hit) and
        // drop freshly-internal edges — selected ones become internal by
        // construction, so no separate dead-marking join is needed
        val roots = par.select(col("c"), col("p"))
        val relabeled = Lineage.cut(live
          .join(roots.select(col("c").as("ca"), col("p").as("__ra"))
            .hint("shuffle_hash"), Seq("ca"))
          .join(roots.select(col("c").as("cb"), col("p").as("__rb"))
            .hint("shuffle_hash"), Seq("cb"))
          .filter(col("__ra") =!= col("__rb"))
          .select(col("a"), col("b"), col("w"), col("key"),
            col("__ra").as("ca"), col("__rb").as("cb")))
        carriedLive = Some(relabeled.count())
        Lineage.release(par)
        own.unpersist(blocking = false)
        StepResult(relabeled, liveCount, converged = carriedLive.contains(0L))
      }
    }
    val forest = forestFrames.reduceOption(_ unionByName _)
      .getOrElse(Lineage.cut(ce.select("a", "b", "w").limit(0)))
    Result(forest, outcome.metrics)
  }
}
