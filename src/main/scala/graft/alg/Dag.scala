package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Adjacency, Graph, Lineage, StepResult, Superstep}

/**
 * DAG operators over the SCC condensation — a link-graph extension beyond
 * the reference (Totem has no DAG pass; its closest relative is the
 * forward/backward reachability inside `totem_cc_hybrid.cu`). On a web
 * graph the condensation quotient is the standard macro view (Broder's
 * bow-tie is a 6-region coarsening of it), and a topological layering of
 * that DAG is the classic crawl-scheduling / dependency order: layer 0 =
 * pages no other (unvisited) component links to, layer k = components whose
 * LONGEST chain of inter-component links from any source has k hops.
 *
 * Both operators are single-pass relational jobs plus one BSP loop — no
 * transitive closure, no driver-side graph.
 */
object Dag {

  /** SCC condensation: the quotient digraph whose vertices are component
   * labels. `labels` is (vid, scc) as produced by [[StronglyConnected.run]].
   * Two vid-keyed hash joins + distinct — the condensation of a web graph
   * is edge-dominated by the trivial-SCC periphery, so the output is the
   * same order of magnitude as the input and stays fully distributed.
   * Self-loops (intra-component edges) are dropped; the result is acyclic
   * by construction. */
  def condensation(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col(Graph.VID).as(Graph.SRC), col("scc").as("__cs")), Graph.SRC)
      .join(labels.select(col(Graph.VID).as(Graph.DST), col("scc").as("__cd")), Graph.DST)
      .filter(col("__cs") =!= col("__cd"))
      .select(col("__cs").as(Graph.SRC), col("__cd").as(Graph.DST))
      .distinct()

  final case class Result(layers: DataFrame, metrics: Seq[graft.core.StepMetrics])

  /**
   * Longest-path topological layering of a DAG: layer(v) = length of the
   * longest directed path ending at v (sources sit at layer 0). The BSP
   * relaxation layer(v) ← max(layer(v), 1 + max over in-neighbors) reaches
   * the fixpoint in `depth` supersteps — each superstep is one frontier
   * join + one max scatter-reduce, the exact plan shape of
   * [[ConnectedComponents]]' HashMin with max in place of min.
   *
   * The input MUST be acyclic (feed it [[condensation]] output): on a cycle
   * the relaxation never converges, and the loop throws after
   * `maxSupersteps` instead of returning a wrong answer.
   */
  def layers(dag: DataFrame, maxSupersteps: Int = 200): Result = {
    val adj = Adjacency.build(dag).persist(StorageLevel.MEMORY_AND_DISK)
    val degs = Graph.outDegrees(dag).persist(StorageLevel.MEMORY_AND_DISK)
    // state (vid, layer, changed, deg): deg rides along so the frontier
    // stats probe is a scan of the cached state (the WCC idiom); vertices
    // with no out-edge still need state rows — union them in at deg 0
    val init = Graph.vertices(dag)
      .join(degs.hint("shuffle_hash"), Seq(Graph.VID), "left")
      .select(col(Graph.VID), lit(0L).as("layer"), lit(true).as("changed"),
        coalesce(col("deg"), lit(0L)).as("deg"))

    var carried: Option[(Long, Long)] = None
    def frontierStats(df: DataFrame): (Long, Long) = {
      val r = df.filter(col("changed"))
        .agg(coalesce(sum("deg"), lit(0L)), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val outcome = Superstep.run(init,
      Superstep.Config(maxSupersteps = maxSupersteps)) { (state, _) =>
      val (frontEdges, _) = carried.getOrElse(frontierStats(state))
      val pushFrom = state.filter(col("changed"))
      val msgs = Adjacency.scatter(adj, pushFrom, col("layer") + 1L, max(_), "cand")
      val next = state.select(col(Graph.VID), col("layer"), col("deg"))
        .join(msgs.hint("shuffle_hash"), Seq(Graph.VID), "left")
        .select(col(Graph.VID),
          greatest(col("layer"), coalesce(col("cand"), col("layer"))).as("m"),
          col("layer").as("old"), col("deg"))
        .select(col(Graph.VID), col("m").as("layer"),
          (col("m") > col("old")).as("changed"), col("deg"))
      val cut = Lineage.cut(next)
      val post = frontierStats(cut)
      carried = Some(post)
      StepResult(cut, frontEdges, converged = post._2 == 0L)
    }
    adj.unpersist(blocking = false); degs.unpersist(blocking = false)
    if (outcome.metrics.nonEmpty && !outcome.metrics.last.converged)
      throw new IllegalStateException(
        s"layers did not converge in $maxSupersteps supersteps — " +
          "the input has a cycle (run it through condensation first) or its " +
          "depth exceeds maxSupersteps")
    Result(outcome.state.select(col(Graph.VID), col("layer")), outcome.metrics)
  }

  /** End-to-end: SCC → condensation → layering, reported per COMPONENT
   * label (every label appears, including components isolated in the
   * quotient, at layer 0). The crawl-order view of a raw directed graph. */
  def topoLayers(edges: DataFrame, maxSupersteps: Int = 200): DataFrame = {
    // ensureCut: the edge plan feeds the SCC run AND the condensation joins
    // — a derived plan would otherwise execute twice (two corpus passes at
    // scale); a bare scan passes through (re-reading is cheaper than a
    // block-manager copy)
    val (e, ownE) = Graph.ensureCut(edges)
    val labels = StronglyConnected.run(e)
    // cut the condensation as well: layers() reads it three times
    // (adjacency build, out-degrees, vertex init) and each uncut read
    // re-ran the two label joins + distinct
    val dag = Lineage.cut(condensation(e, labels))
    val l = layers(dag, maxSupersteps).layers
    // labels and l are cut frames, so the returned lazy plan no longer
    // reads e or dag — safe to drop their blocks here
    if (ownE) Lineage.release(e)
    Lineage.release(dag)
    labels.select(col("scc")).distinct()
      .join(l.withColumnRenamed(Graph.VID, "scc").hint("shuffle_hash"),
        Seq("scc"), "left")
      .select(col("scc"), coalesce(col("layer"), lit(0L)).as("layer"))
  }
}
