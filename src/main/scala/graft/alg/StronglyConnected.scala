package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Graph, Lineage}
import scala.collection.mutable.ArrayBuffer

/**
 * Strongly connected components — a link-graph extension beyond the
 * reference (Totem ships only the weak variant, `totem_cc_hybrid.cu`;
 * SCC is the standard companion on web link graphs: the bow-tie core).
 *
 * Algorithm: Trim + forward-coloring + backward sweep (the FW-BW-Trim
 * family used by every distributed SCC implementation; colors as in Orzan's
 * coloring algorithm). Per outer round:
 *
 *  1. TRIM to fixpoint: a remaining vertex with no in-edge or no out-edge
 *     inside the remaining subgraph is its own SCC — peel, repeat. Handles
 *     the trivial-SCC periphery (most of a web graph) in cheap O(V) rounds
 *     without any reachability work.
 *  2. COLOR (HashMax): c(v) ← max(vid(u) : u reaches v, u remaining),
 *     propagated forward along edges to fixpoint — the exact dual of WCC's
 *     HashMin relaxation, same per-superstep plan shape.
 *  3. BACKWARD sweep: for each color root r (c(r) = r), SCC(r) =
 *     {v : c(v) = r and v reaches r} — a backward BFS from all roots at
 *     once, restricted to same-color vertices (batched like
 *     [[Centrality.multiSourceBfs]]: every root shares each superstep's
 *     join). Completed SCCs are labeled min-member-vid (matching the WCC
 *     label convention) and removed; repeat on the remainder.
 *
 * Every inner iteration and the per-round subgraph are lineage-cut; the
 * remaining-subgraph edge set shrinks monotonically. All joins are O(rem)
 * shuffles on (vid)-keys — no transitive closure, no O(V²) anywhere; worst
 * case is O(#SCC-levels) outer rounds (bounded by `maxRounds`), each
 * O(diameter) supersteps, the published behavior of FW-BW-Trim.
 *
 * Returns (vid, scc) for every vertex of the edge table, scc = min vid of
 * the vertex's strongly connected component.
 */
object StronglyConnected {

  def run(edges: DataFrame, maxRounds: Int = 100): DataFrame = {
    var rem = Lineage.cut(
      edges.select(col(Graph.SRC), col(Graph.DST))
        .filter(col(Graph.SRC) =!= col(Graph.DST)).distinct())
    var remV = Lineage.cut(Graph.vertices(edges))
    val done = ArrayBuffer[DataFrame]() // (vid, scc) per completed batch

    def swapRem(e: DataFrame, v: DataFrame): Unit = {
      val (oldE, oldV) = (rem, remV)
      rem = Lineage.cut(e); remV = Lineage.cut(v)
      Lineage.release(oldE); Lineage.release(oldV)
    }

    var rounds = 0
    var nRem = remV.count()
    while (nRem > 0 && rounds < maxRounds) {
      rounds += 1

      // -- 1. trim to fixpoint ------------------------------------------
      var trimming = true
      while (trimming && nRem > 0) {
        val hasOut = rem.select(col(Graph.SRC).as(Graph.VID)).distinct()
        val hasIn = rem.select(col(Graph.DST).as(Graph.VID)).distinct()
        val keep = remV.join(hasOut, Seq(Graph.VID), "left_semi")
          .join(hasIn, Seq(Graph.VID), "left_semi")
        val trivial = remV.join(keep, Seq(Graph.VID), "left_anti")
          .select(col(Graph.VID), col(Graph.VID).as("scc"))
        val cutTrivial = Lineage.cut(trivial)
        val nTrivial = cutTrivial.count()
        if (nTrivial == 0L) { Lineage.release(cutTrivial); trimming = false }
        else {
          done += cutTrivial
          val v2 = remV.join(cutTrivial, Seq(Graph.VID), "left_anti")
          val e2 = rem
            .join(v2.select(col(Graph.VID).as(Graph.SRC)), Seq(Graph.SRC), "left_semi")
            .join(v2.select(col(Graph.VID).as(Graph.DST)), Seq(Graph.DST), "left_semi")
          swapRem(e2, v2)
          nRem -= nTrivial
        }
      }
      if (nRem == 0) { /* all trivial */ }
      else {
        // -- 2. forward max-color propagation to fixpoint ----------------
        var colors = Lineage.cut(remV.select(col(Graph.VID), col(Graph.VID).as("c")))
        var changed = 1L
        while (changed > 0) {
          val cand = rem
            .join(colors.hint("shuffle_hash"), rem(Graph.SRC) === colors(Graph.VID))
            .groupBy(rem(Graph.DST).as(Graph.VID))
            .agg(max(col("c")).as("cand"))
          val next = Lineage.cut(
            colors.join(cand.hint("shuffle_hash"), Seq(Graph.VID), "left")
              .select(col(Graph.VID),
                greatest(col("c"), coalesce(col("cand"), col("c"))).as("c"),
                (coalesce(col("cand"), col("c")) > col("c")).as("chg")))
          changed = next.filter(col("chg")).count()
          Lineage.release(colors)
          colors = next
        }

        // -- 3. backward sweep from the color roots ----------------------
        // reached: (vid, c) — members found so far; frontier likewise
        var reached = Lineage.cut(colors.filter(col(Graph.VID) === col("c"))
          .select(col(Graph.VID), col("c")))
        var frontier = reached
        var more = true
        while (more) {
          val preds = rem
            .join(frontier.hint("shuffle_hash"), rem(Graph.DST) === frontier(Graph.VID))
            .select(rem(Graph.SRC).as(Graph.VID), col("c")).distinct()
            // same-color predecessors only
            .join(colors.withColumnRenamed("c", "__pc"), Seq(Graph.VID))
            .filter(col("c") === col("__pc")).select(col(Graph.VID), col("c"))
            .join(reached, Seq(Graph.VID, "c"), "left_anti")
          val nf = Lineage.cut(preds)
          if (nf.isEmpty) { Lineage.release(nf); more = false }
          else {
            val r2 = Lineage.cut(reached.unionByName(nf))
            Lineage.release(reached); reached = r2
            if (frontier ne reached) Lineage.release(frontier)
            frontier = nf
          }
        }
        Lineage.release(colors)

        // label each completed SCC by its min member vid
        val mins = reached.groupBy("c").agg(min(Graph.VID).as("scc"))
        val labeled = Lineage.cut(
          reached.join(mins.hint("shuffle_hash"), Seq("c"))
            .select(col(Graph.VID), col("scc")))
        done += labeled
        val nDone = labeled.count()
        if (frontier ne reached) Lineage.release(frontier)
        Lineage.release(reached)

        val v2 = remV.join(labeled, Seq(Graph.VID), "left_anti")
        val e2 = rem
          .join(v2.select(col(Graph.VID).as(Graph.SRC)), Seq(Graph.SRC), "left_semi")
          .join(v2.select(col(Graph.VID).as(Graph.DST)), Seq(Graph.DST), "left_semi")
        swapRem(e2, v2)
        nRem -= nDone
      }
    }
    require(nRem == 0, s"SCC did not complete within $maxRounds FW-BW rounds")
    if (done.isEmpty) { // empty input graph
      val empty = remV.select(col(Graph.VID), col(Graph.VID).as("scc"))
      Lineage.release(rem); Lineage.release(remV)
      return empty
    }
    Lineage.release(rem); Lineage.release(remV)
    // the returned union reads the cut frames' block-manager copies lazily —
    // they stay pinned until the caller drops the frame (WeakHashMap +
    // ContextCleaner reclaim them afterwards; a localCheckpoint has no
    // recompute path, so releasing here would break the result plan)
    done.reduce(_ unionByName _)
  }
}
