package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, Lineage, StepResult, Superstep}

/**
 * Weakly connected components — HashMin label propagation with a delta
 * frontier and a union-find inside each partition, reaching the fixpoint
 * of Totem's hybrid CC exactly (`src/alg/totem_cc_hybrid.cu:392-463`):
 * labels init to the vertex's own (global) id; an active vertex pushes its
 * label; a vertex keeps min(old,new) and re-activates on change; converged
 * when nothing changed. Final label = min vertex id in the component
 * (`totem_cc_unittest.cu:103-143`).
 *
 * Per-partition union-find: as a Totem partition finishes its local work
 * before the one communication phase (`engine_execute`), each task first
 * unions the rows `(src, comp, nbrs)` of the active sources it owns into a
 * forest and offers every vertex it touched the minimum, over its tree, of
 * the rows' labels and the member ids — the local-contraction step of
 * MapReduce CC (Kiveris et al., "Connected Components in MapReduce and
 * Beyond"). A candidate is always the label or id of a vertex in the same
 * component, and never higher than the HashMin message the same rows would
 * send, so labels still only decrease and the fixpoint is unchanged: the
 * minimum vertex id per component. A label crosses a whole partition-local
 * tree per superstep instead of one hop (the 1,000-page crawl graph
 * converges in 2 supersteps where HashMin took 5), and the exchange carries
 * one candidate per touched vertex and forest instead of one per edge. The
 * forest lives on the task's heap, outside Spark's task-memory accounting,
 * so it is flushed every [[ForestCap]] vertices; a forest over any subset
 * of the rows still yields valid candidates.
 *
 * The frontier Dataset is the reference's sparse frontier
 * (`totem_alg.h:361-377`); only changed vertices generate messages, so late
 * supersteps touch a vanishing fraction of edges.
 */
object ConnectedComponents {

  final case class Result(components: DataFrame, metrics: Seq[graft.core.StepMetrics])

  /** Vertices a partition's union-find forest holds before it is flushed
   * (its labels emitted, a new forest started): the bound on the heap the
   * forest takes outside Spark's task-memory accounting. */
  final val ForestCap = 1 << 20

  /** `edges` may be directed; WCC symmetrizes internally.
   *
   * `denseThreshold`: the sparse/dense frontier switch of the reference's
   * hybrid kernels (`totem_bfs_hybrid.cu:128-145`, threshold
   * `totem_alg.h:37`) — when the changed set exceeds this fraction of V,
   * messages are pushed from the FULL state instead of filtering the delta:
   * same fixpoint (a vertex whose comp did not change this round offers
   * nothing its neighbors have not already seen), but the plan skips the
   * filter + small-side rebuild that stops paying once the frontier is most
   * of the graph. `denseThreshold >= 1.0` disables the switch. */
  /** `pointerJump`: per superstep, after the HashMin relax, compress paths
   * with comp' ← comp_old(relaxed comp) — the Spark-relational form of the
   * pointer-jumping step in MapReduce-CC (Kiveris et al., "Connected
   * Components in MapReduce and Beyond"). Labels only decrease (comp(x) ≤ x
   * and comp(x) is in x's component), so the fixpoint is unchanged — the
   * min vertex id per component — but min-label distances halve per round:
   * convergence drops from O(label diameter) toward O(log d) supersteps,
   * two extra O(V) shuffles per superstep in exchange for skipped O(E)
   * message rounds. Off by default: on low-diameter web/RMAT graphs HashMin
   * already converges in ~diameter rounds and the jump removes NONE of them
   * (measured on rmat s20 @32 cores before the per-partition union-find:
   * 6 supersteps either way, +5% shuffle bytes with the jump) — enable it
   * for high-diameter inputs (meshes, chains, road networks) where label
   * distance, not graph distance, dominates round count. */
  /** `warmStart`: a previous snapshot's (vid, component) assignment — the
   * recrawl path (mirror of `PageRank.warmStart`): labels initialize to the
   * OLD component minimum instead of the vertex's own id. Any valid snapshot
   * label satisfies comp(x) ≤ x with comp(x) a member of x's component, so
   * the HashMin fixpoint — the minimum vertex id per (new) component — is
   * unchanged, but initial label DISTANCES shrink to the hop count between
   * merged old components: on a graph that mostly kept its structure the
   * loop converges in a couple of supersteps instead of O(label diameter).
   * Vertices absent from the snapshot (newly crawled) start at their own id;
   * snapshot rows for vertices no longer in the graph are ignored.
   *
   * PRECONDITION — edge ADDITIONS only: every edge of the snapshot's graph
   * must still be present (possibly plus new ones). If the recrawl REMOVED
   * edges, an old label can be smaller than the split-off component's true
   * minimum, and HashMin — whose labels only ever decrease — can never
   * raise it back: the output would name a component after a vertex outside
   * it. The least()/coalesce() guards below catch malformed snapshot ROWS
   * (label > vid, missing vertices), not removed EDGES — there is no O(V)
   * check for those without the old edge list. For a removal recrawl run
   * cold (warmStart = None); incremental DELETIONS need a different
   * algorithm class entirely (recompute-affected-region), which is why the
   * published incremental-WCC systems are insert-only too. */
  def run(edges: DataFrame,
          checkpointDir: Option[String] = None,
          resume: Boolean = false,
          maxSupersteps: Int = 200,
          denseThreshold: Double = 0.1,
          pointerJump: Boolean = false,
          warmStart: Option[DataFrame] = None): Result = {
    // cut: the symmetrized edge set feeds the adjacency build AND the degree
    // pass — uncut, each re-ran the union+distinct AND the upstream edge
    // derivation (twice each, both directions): four corpus passes at scale
    val spark = edges.sparkSession
    import spark.implicits._
    val und = Lineage.cut(Graph.undirected(edges))
    val adj = Adjacency.build(und).persist(StorageLevel.MEMORY_AND_DISK)
    val degs = Graph.outDegrees(und).persist(StorageLevel.MEMORY_AND_DISK)
    // V and ΣE from the (cached, loop-reused) degree table in ONE job — on a
    // symmetrized graph every vertex has an out-edge, so rows(degs) = V
    val ve = degs.agg(count(lit(1)), sum("deg")).collect()(0)
    val totalV = ve.getLong(0)
    val totalEdges = if (ve.isNullAt(1)) 0L else ve.getLong(1)

    // state: (vid, comp, changed, deg) — deg rides along so the per-superstep
    // frontier stats are a scan of the cached state, not a join against degs
    val init = warmStart match {
      case Some(prev) =>
        // one vid-keyed hash join before the loop; least() guards against a
        // stale label larger than the vertex id (an invalid snapshot row
        // can delay but never corrupt the fixpoint)
        degs.join(
            prev.select(col(Graph.VID), col("component").as("__pc")).hint("shuffle_hash"),
            Seq(Graph.VID), "left")
          .select(col(Graph.VID),
            least(col(Graph.VID), coalesce(col("__pc"), col(Graph.VID))).as("comp"),
            lit(true).as("changed"), col("deg"))
      case None => degs
        .select(col(Graph.VID), col(Graph.VID).as("comp"), lit(true).as("changed"),
          col("deg"))
    }

    // frontier stats (Σ frontier degrees, frontier size) of the CURRENT
    // state: computed once on the init frame, then re-probed at the END of
    // each superstep on the freshly cut state and carried over — one tiny
    // cached-scan job per superstep, and convergence is reported in the
    // superstep that produced no changes (no trailing zero-edge sentinel
    // step, so superstep counts stay comparable to round-1/reference round
    // counts). This is the metric the reference reports per traversal
    // (`totem_benchmark_binary.cu:133-156`).
    var carried: Option[(Long, Long)] = None
    def frontierStats(df: DataFrame): (Long, Long) = {
      val r = df.filter(col("changed"))
        .agg(coalesce(sum("deg"), lit(0L)), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps, checkpointDir = checkpointDir,
        resume = resume, fingerprint = s"wcc denseThreshold=$denseThreshold " +
          s"pointerJump=$pointerJump V=$totalV E=$totalEdges")) { (state, _) =>
      val (frontEdges, deltaCount) = carried.getOrElse(frontierStats(state))
      val dense = deltaCount > denseThreshold * totalV
      val trv = if (dense) totalEdges else frontEdges
      val pushFrom = if (dense) state else state.filter(col("changed"))
      // the join keeps the adjacency's HashPartitioning(src), so each task
      // closes labels over the edges of the sources it owns before the one
      // message exchange; the map-side min then combines candidates that
      // several forests emitted for the same vertex
      val msgs = adj.join(pushFrom.hint("shuffle_hash"),
          adj(Graph.SRC) === pushFrom(Graph.VID))
        .select(col(Graph.SRC), col("comp"), col("nbrs"))
        .as[(Long, Long, Array[Long])]
        .mapPartitions(localLabels(_))
        .toDF(Graph.VID, "cand")
        .groupBy(Graph.VID).agg(min("cand").as("cand"))
      // shuffle_hash on the O(V) msgs side: SMJ would re-sort two O(V)
      // frames every superstep for no benefit (the output is re-hashed by
      // the next superstep anyway)
      val relaxed = state.select(col(Graph.VID), col("comp"), col("deg"))
        .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID), col("deg"), col("comp").as("old"),
          least(col("comp"), coalesce(col("cand"), col("comp"))).as("m"))
      val next =
        if (pointerJump)
          // NOTE: this join's probe-side key is the relaxed label, which in
          // late supersteps concentrates on each component's minimum id —
          // on skewed graphs the jump relies on AQE skew-join splitting
          // (opt-in, see scaladoc)
          relaxed.join(
              state.select(col(Graph.VID).as("__j"), col("comp").as("__jc"))
                .hint("shuffle_hash"),
              col("m") === col("__j"), "left")
            .select(col(Graph.VID),
              coalesce(col("__jc"), col("m")).as("comp"),
              (coalesce(col("__jc"), col("m")) < col("old")).as("changed"),
              col("deg"))
        else
          relaxed.select(col(Graph.VID), col("m").as("comp"),
            (col("m") < col("old")).as("changed"), col("deg"))
      // materialize ONCE (Superstep skips re-materializing a cut frame)
      val cut = graft.core.Lineage.cut(next)
      val post = frontierStats(cut)
      carried = Some(post)
      StepResult(cut, trv, converged = post._2 == 0L)
    }
    adj.unpersist(blocking = false); degs.unpersist(blocking = false)
    Lineage.release(und)
    Result(outcome.state.select(col(Graph.VID), col("comp").as("component")), outcome.metrics)
  }

  /** The per-partition labeler: unions each row's source with its
   * neighbours and emits one `(vid, cand)` per distinct vertex of the
   * forest, `cand` the minimum over the vertex's tree of the rows' `comp`
   * and the member ids. A forest is flushed between rows once it holds
   * `cap` vertices, so one row never spans two forests and its neighbours'
   * candidates never exceed its `comp`; a vertex seen by several forests is
   * emitted once by each. */
  private[graft] def localLabels(rows: Iterator[(Long, Long, Array[Long])],
                                 cap: Int = ForestCap): Iterator[(Long, Long)] =
    Iterator.continually {
      val f = new Forest
      while (f.size < cap && rows.hasNext) {
        val (src, comp, nbrs) = rows.next()
        f.add(src, comp, nbrs)
      }
      f
    }.takeWhile(_.size > 0).flatMap(_.labels)

  /** Union-find over vertex ids (union by size, path halving); `low(r)` is
   * the least label or id offered to the tree rooted at slot `r`. */
  private final class Forest {
    private val slotOf = scala.collection.mutable.LongMap.empty[Int]
    private var ids = new Array[Long](64)
    private var parent = new Array[Int](64)
    private var sizes = new Array[Int](64)
    private var low = new Array[Long](64)
    var size = 0

    private def slot(v: Long): Int = slotOf.getOrElseUpdate(v, {
      if (size == ids.length) {
        val n = 2 * size
        ids = java.util.Arrays.copyOf(ids, n); parent = java.util.Arrays.copyOf(parent, n)
        sizes = java.util.Arrays.copyOf(sizes, n); low = java.util.Arrays.copyOf(low, n)
      }
      ids(size) = v; parent(size) = size; sizes(size) = 1; low(size) = v
      size += 1
      size - 1
    })

    private def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }

    /** Merge the trees rooted at `a` and `b`; returns the new root. */
    private def link(a: Int, b: Int): Int =
      if (a == b) a
      else {
        val (big, small) = if (sizes(a) >= sizes(b)) (a, b) else (b, a)
        parent(small) = big
        sizes(big) += sizes(small)
        low(big) = math.min(low(big), low(small))
        big
      }

    def add(src: Long, comp: Long, nbrs: Array[Long]): Unit = {
      var root = find(slot(src))
      var i = 0
      while (i < nbrs.length) { root = link(root, find(slot(nbrs(i)))); i += 1 }
      low(root) = math.min(low(root), comp)
    }

    def labels: Iterator[(Long, Long)] =
      Iterator.range(0, size).map(i => (ids(i), low(find(i))))
  }

  /** Per-component vertex counts + biggest component — `component_set_t`
   * analog (`totem_graph.h:175-182`, `totem_components.cu:105-155`). */
  def componentSizes(components: DataFrame): DataFrame =
    components.groupBy("component").agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("n_vertices").desc, col("component"))
}
