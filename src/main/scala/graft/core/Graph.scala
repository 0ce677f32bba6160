package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Core graph-table schemas and transformations.
 *
 * The engine's fundamental representation is an edge table
 * `edges(src: Long, dst: Long[, weight: Double])` — the Spark-native analog
 * of the reference CSR (`/root/reference/src/totem/totem_graph.h:127-170`).
 * CSR itself is never materialized as flat arrays; the grouped/chunked
 * adjacency Dataset (see [[Adjacency]]) plays that role where an algorithm
 * benefits from pre-grouped neighbor lists.
 *
 * All ids are Long end-to-end (reference `vid_t` is uint32 —
 * `totem_graph.h:64` — too narrow for the 10^12-document target).
 */
object Graph {

  val SRC = "src"
  val DST = "dst"
  val VID = "vid"

  /** Both edge directions, duplicates removed — the analog of the generator's
   * `alter_undirected_handler` (`totem_generator.cc:631-680`). */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col(SRC), col(DST))
      .union(edges.select(col(DST).as(SRC), col(SRC).as(DST)))
      .distinct()

  /** Both directions, **keeping** multiplicity (for algorithms whose
   * reference semantics count parallel edges, e.g. PageRank/LabelRank over a
   * stored-both-directions CSR). */
  def symmetrized(edges: DataFrame): DataFrame =
    edges.select(col(SRC), col(DST))
      .union(edges.select(col(DST).as(SRC), col(SRC).as(DST)))

  /** Swap src/dst — `alter_reverse_handler` (`totem_generator.cc:594-628`). */
  def reverse(edges: DataFrame): DataFrame =
    edges.select(col(DST).as(SRC), col(SRC).as(DST))

  /**
   * Quotient (contracted) graph: collapse vertices by a partition `mapping
   * (vid, part)` and aggregate parallel edges into weights — the coarsening
   * step of multilevel partitioners and the host-collapse of a url link
   * graph (see `text.EdgeExtract.hostGraph`). Output:
   * `(src: part, dst: part, weight = #collapsed edges)`; self-loops (edges
   * internal to a part) are dropped when `dropSelfLoops`.
   *
   * Scale: two hash joins keyed on vid (the mapping is O(V), never
   * broadcast) + one aggregation keyed on the part pair; no windows.
   */
  def contract(edges: DataFrame, mapping: DataFrame,
               dropSelfLoops: Boolean = true): DataFrame = {
    val m = mapping.select(col(VID), col("part"))
    val g = edges
      .join(m.withColumnRenamed(VID, SRC).withColumnRenamed("part", "sp"), SRC)
      .join(m.withColumnRenamed(VID, DST).withColumnRenamed("part", "dp"), DST)
      .groupBy(col("sp").as(SRC), col("dp").as(DST))
      .agg(count(lit(1)).as("weight"))
    if (dropSelfLoops) g.filter(col(SRC) =!= col(DST)) else g
  }

  /** Materialize a derived edge plan ONCE ahead of a multi-consumer init.
   *
   * Every iterative algorithm here reads its edge input several times
   * before the superstep loop starts (adjacency build, vertex set, degree
   * pass, edge count). Handed a lazy derivation — the usual case: a
   * projection/filter/distinct over a page corpus — each of those reads
   * re-executed the WHOLE upstream plan: k corpus passes to derive one
   * table, the single biggest avoidable cost of a 10^12-document input.
   * `ensureCut` cuts the (src, dst) projection unless the caller already
   * materialized it ([[Lineage.isCut]]). The Boolean says whether the
   * callee owns the blocks (true ⇒ release them in its epilogue, after
   * everything derived is itself persisted or cut). */
  def ensureCut(edges: DataFrame): (DataFrame, Boolean) =
    if (Lineage.isCut(edges) || isCheapRescan(edges)) (edges, false)
    else (Lineage.cut(edges.select(col(SRC), col(DST))), true)

  // A plan that is just scan + project + filter re-reads for the cost of a
  // columnar scan with pushdown — materializing it into the block manager
  // costs MORE than it saves (measured: localCheckpointing a 67M-edge
  // parquet scan OOM'd a 16g heap the direct reads never stressed). Only a
  // plan whose every read re-pays a shuffle, join, aggregate, or generator
  // is worth cutting.
  private def isCheapRescan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    df.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: lp.Aggregate | _: lp.Join | _: lp.Union | _: lp.Window |
                _: lp.Sort | _: lp.Generate | _: lp.Distinct |
                _: lp.Deduplicate | _: lp.RepartitionOperation) => p
    }.isEmpty
  }

  /** Distinct vertex ids appearing at either endpoint. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col(SRC).as(VID)).union(edges.select(col(DST).as(VID))).distinct()

  /** Out-degree per vertex counting edge multiplicity (CSR row length,
   * `vertices[v+1]-vertices[v]`). Vertices with no out-edges are absent —
   * callers left-join and coalesce to 0. */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col(SRC).as(VID)).agg(count(lit(1)).as("deg"))

  def inDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col(DST).as(VID)).agg(count(lit(1)).as("deg"))

  /** Degree distribution histogram — `generator_degree_distribution`
   * (`totem_generator.cc:520-570`). */
  def degreeDistribution(edges: DataFrame): DataFrame =
    outDegrees(edges).groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))

  /** Edge reciprocity of a directed graph (self-loops excluded): the
   * fraction of edges (u,v) whose reverse (v,u) is also present — the
   * link-graph symmetry statistic (web graphs ≈ 0.2–0.3, social ≈ 0.6+).
   * One row: (edges, reciprocated, reciprocity). The probe is a
   * self-left-join on the (dst, src)-swapped table — edge-keyed shuffle,
   * one aggregate, no window. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col(SRC), col(DST)).distinct().filter(col(SRC) =!= col(DST))
    val rev = e.select(col(DST).as(SRC), col(SRC).as(DST)).withColumn("__r", lit(1L))
    e.join(rev, Seq(SRC, DST), "left")
      .agg(count(lit(1)).as("edges"),
        sum(coalesce(col("__r"), lit(0L))).as("reciprocated"),
        round(sum(coalesce(col("__r"), lit(0L))) * lit(1.0) / count(lit(1)), 6)
          .as("reciprocity"))
  }

  /** Crawl-to-crawl edge delta: which links appeared, vanished, or
   * persisted between two snapshots of the link graph — the input signal
   * for incremental recrawl analytics (`PageRank.warmStart`,
   * `ConnectedComponents.run(warmStart=…)` consume the new snapshot; this
   * reports WHAT changed). One co-partitioned (src,dst)-keyed full-outer
   * hash join — both sides shuffle once on the same key, no window, no
   * driver state. Output: (src, dst, status ∈ added|removed|kept). */
  def snapshotDiff(oldEdges: DataFrame, newEdges: DataFrame): DataFrame = {
    val o = oldEdges.select(col(SRC), col(DST)).distinct().withColumn("__o", lit(true))
    val n = newEdges.select(col(SRC), col(DST)).distinct().withColumn("__n", lit(true))
    o.join(n, Seq(SRC, DST), "full_outer")
      .select(col(SRC), col(DST),
        when(col("__o").isNull, lit("added"))
          .when(col("__n").isNull, lit("removed"))
          .otherwise(lit("kept")).as("status"))
  }

  /** MLE fit of the out-degree tail's power-law exponent — the standard
   * web-graph summary statistic (α ≈ 2.1 for the crawled web):
   * Clauset-Shalizi-Newman discrete approximation over degrees ≥ dmin,
   *   α = 1 + n_tail / Σ ln(deg / (dmin − ½)).
   * One row (n_tail, alpha); two map-side-combinable aggregates over the
   * degree table, no window, no collect. */
  def powerLawExponent(edges: DataFrame, dmin: Long = 2L): DataFrame = {
    val tail = outDegrees(edges).filter(col("deg") >= dmin)
    tail.agg(
      count(lit(1)).as("n_tail"),
      round(lit(1.0) +
        count(lit(1)) / sum(log(col("deg").cast("double") / (dmin - 0.5))), 6)
        .as("alpha"))
  }

  /** Drop vertices with no in- and no out-edges — `graph_remove_singletons`
   * (`totem_graph.cu:468-485`). On an edge table every endpoint has degree,
   * so this operates on a vertex table. */
  def removeSingletons(vertexDf: DataFrame, edges: DataFrame): DataFrame = {
    // bind the semi-join side ONCE: a second vertices(edges) call mints new
    // attribute ids, so a condition built from it resolves against neither
    // join side and the analyzer rejects the plan
    val live = vertices(edges).withColumnRenamed(VID, "__live")
    vertexDf.join(live, vertexDf(VID) === live("__live"), "left_semi")
  }

  /** Induced subgraph on a kept-vertex set — `get_subgraph`
   * (`totem_graph.cu:409-466`). `kept` must have a `vid` column. */
  def subgraph(edges: DataFrame, kept: DataFrame): DataFrame = {
    val k = kept.select(col(VID)).distinct()
    edges
      .join(k.withColumnRenamed(VID, "__ks"), col(SRC) === col("__ks"), "left_semi")
      .join(k.withColumnRenamed(VID, "__kd"), col(DST) === col("__kd"), "left_semi")
  }

  /** Deterministic hash position of a value in [0, 2^32) — the same
   * cross-engine md5 family as `text.Curation.hashRank`, inlined here so
   * the graph layer carries no text-package dependency. */
  private def hashPos(v: Column): Column =
    conv(substring(md5(v.cast("string")), 1, 8), 16, 10).cast("long")

  /**
   * Deterministic edge sample: keeps an edge iff the hash of its
   * "src_dst" string form falls under `fraction` of the hash space —
   * reproducible approximate analytics on a fixed subgraph (same rows
   * survive every run, every partitioning, every engine). Pure codegen'd
   * filter, no shuffle.
   */
  def sampleEdges(edges: DataFrame, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    edges.filter(
      hashPos(concat(col(SRC).cast("string"), lit("_"), col(DST).cast("string")))
        < lit((fraction * 4294967296.0).toLong))
  }

  /**
   * Deterministic induced-subgraph sample: keeps each VERTEX with
   * probability `fraction` by vid hash, then the subgraph induced on the
   * kept set (an edge survives iff BOTH endpoints are kept — expected edge
   * retention fraction² on independent endpoints). The standard
   * node-sampling estimator for degree/clustering statistics at scale.
   */
  def sampleVerticesInduced(edges: DataFrame, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    val kept = vertices(edges)
      .filter(hashPos(col(VID)) < lit((fraction * 4294967296.0).toLong))
    subgraph(edges, kept)
  }

  /**
   * GraphSAGE-style deterministic fan-out sampling: at most `k`
   * out-neighbors per vertex, the k smallest per-EDGE hash ranks — the
   * neighbor-sampling primitive of minibatch GNN training (Hamilton et al.
   * 2017, public) and of bounded-fan-out approximate analytics on web
   * graphs. Hashing the EDGE's "src_dst" string (the [[sampleEdges]] id
   * form) rather than the neighbor id decorrelates choices across sources,
   * so low-hash hub neighbors are not globally over-selected.
   *
   * Scale shape: the same salted two-phase top-k as
   * `text.Curation.capPerKey` (inlined — the graph layer carries no text
   * dependency): phase 1 takes per-(src, edge-hash-salt) top-k so the
   * hottest hub never sorts more than 1/salts of its edges in one task;
   * phase 2 ranks the ≤ salts·k survivors per source exactly.
   */
  def sampleNeighbors(edges: DataFrame, k: Int, salts: Int = 64): DataFrame = {
    require(k > 0 && salts > 0, s"k and salts must be positive, got k=$k salts=$salts")
    val e = edges.select(col(SRC), col(DST)).distinct()
    val id = concat(col(SRC).cast("string"), lit("_"), col(DST).cast("string"))
    val h = md5(id)
    val phase1 =
      if (salts == 1) e
      else {
        val w1 = Window.partitionBy(col(SRC), pmod(xxhash64(id), lit(salts.toLong)))
          .orderBy(h.asc, id.asc)
        e.withColumn("__r1", row_number().over(w1))
          .filter(col("__r1") <= k).drop("__r1")
      }
    val w2 = Window.partitionBy(col(SRC)).orderBy(h.asc, id.asc)
    phase1.withColumn("__r2", row_number().over(w2))
      .filter(col("__r2") <= k).drop("__r2")
  }

  /**
   * Multi-hop sampled neighborhood extraction — the GraphSAGE/GNN
   * MINIBATCH sampler: starting from `seeds`, take `fanouts(0)` sampled
   * out-neighbors per seed (hop 1), then `fanouts(1)` per hop-1 vertex,
   * and so on. Returns the sampled message-flow blocks `(hop, src, dst)` —
   * exactly what a layer-wise GNN aggregation consumes.
   *
   * Deterministic: [[sampleNeighbors]]' per-edge md5 rank decides each
   * hop's pick, and because that rank is a pure function of (src, dst),
   * restricting the edge set to the current frontier BEFORE sampling picks
   * the same neighbors as sampling the whole graph — so each hop costs one
   * frontier semi-join plus the salted top-k, never a full-graph pass.
   * Frontiers are all sampled dsts (revisits allowed, as in the standard
   * sampler); dedup happens per hop via the frontier `distinct`.
   */
  def sampleKHop(edges: DataFrame, seeds: DataFrame, fanouts: Seq[Int],
                 salts: Int = 64): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ > 0),
      s"fanouts must be non-empty positive, got $fanouts")
    var frontier = seeds.select(col(VID)).distinct()
    val blocks = Seq.newBuilder[DataFrame]
    for ((k, i) <- fanouts.zipWithIndex) {
      val fe = edges.join(frontier.withColumnRenamed(VID, SRC), Seq(SRC), "left_semi")
      val samp = sampleNeighbors(fe, k, salts)
        .select(lit(i + 1).as("hop"), col(SRC), col(DST))
      blocks += samp
      frontier = samp.select(col(DST).as(VID)).distinct()
    }
    blocks.result().reduce(_.unionByName(_))
  }

  /** Deterministic vertex relabeling (random-looking but seeded) —
   * `permute_edgelist` (`totem_generator.cc:143-159`). New ids are dense
   * 0..V-1 assigned by hash order, via the distributed range-partitioned
   * rank (no single-task global window). */
  def permute(edges: DataFrame, seed: Long): DataFrame = {
    val vs = vertices(edges)
    val mapping = Ranking.globalRank(vs,
      Seq(xxhash64(col(VID), lit(seed)), col(VID)), "nid")
    edges
      .join(mapping.select(col(VID).as("__v1"), col("nid").as("__n1")), col(SRC) === col("__v1"))
      .join(mapping.select(col(VID).as("__v2"), col("nid").as("__n2")), col(DST) === col("__v2"))
      .select(col("__n1").as(SRC), col("__n2").as(DST))
  }

  /** Sorted grouped adjacency — `graph_sort_nbrs` (`totem_graph.cu:923-957`):
   * each vertex's neighbor chunk id-sorted (`sort_array`, codegen'd). */
  def sortedAdjacency(edges: DataFrame, chunkSize: Int = Adjacency.DefaultChunk): DataFrame =
    Adjacency.build(edges, chunkSize)
      .withColumn("nbrs", sort_array(col("nbrs")))

  /** Renumber vertex ids in degree order — `get_sorted_vertices_map`
   * (`totem_generator.cc:682-720`): returns relabeled edges where id 0 is
   * the highest-degree vertex (desc) or lowest (asc). */
  def sortVerticesByDegree(edges: DataFrame, descending: Boolean = true): DataFrame = {
    val deg = vertices(edges).join(outDegrees(edges), Seq(VID), "left")
      .select(col(VID), coalesce(col("deg"), lit(0L)).as("deg"))
    val order = if (descending) Seq(col("deg").desc, col(VID)) else Seq(col("deg").asc, col(VID))
    val mapping = Ranking.globalRank(deg, order, "nid")
    edges
      .join(mapping.select(col(VID).as("__v1"), col("nid").as("__n1")), col(SRC) === col("__v1"))
      .join(mapping.select(col(VID).as("__v2"), col("nid").as("__n2")), col(DST) === col("__v2"))
      .select(col("__n1").as(SRC), col("__n2").as(DST))
  }

  /** Deterministic "random" weights — the generator's weighted branch
   * (`totem_generator.cc:115-121`): weight ~ U[0, vertexCount). */
  def withRandomWeights(edges: DataFrame, seed: Long, vertexCount: Long): DataFrame =
    edges.withColumn("weight",
      (pmod(xxhash64(col(SRC), col(DST), lit(seed)), lit(1000000L)).cast("double")
        / 1000000.0) * vertexCount)

  /** Bidirectional residual graph for flow algorithms —
   * `graph_create_bidirectional` (`totem_graph.cu:486-586`): adds 0-capacity
   * reverse edges and a `reverse_id` linking each edge to its partner. */
  def bidirectional(edges: DataFrame): DataFrame = {
    val w = if (edges.columns.contains("weight")) col("weight") else lit(1.0)
    val fwd = edges.select(col(SRC), col(DST), w.as("capacity"), lit(true).as("forward"))
    val bwd = edges.select(col(DST).as(SRC), col(SRC).as(DST),
      lit(0.0).as("capacity"), lit(false).as("forward"))
    fwd.unionByName(bwd)
      .withColumn("edge_id", xxhash64(col(SRC), col(DST), col("forward").cast("int")))
      .withColumn("reverse_id", xxhash64(col(DST), col(SRC), (!col("forward")).cast("int")))
  }

  /** Analyze-summary analog (`totem_generator.cc:497-518`): one-row DataFrame
   * of structural counts used as sanity assertions. */
  def summary(edges: DataFrame): DataFrame = {
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val v = vertices(e).count()
    val ecnt = e.count()
    val selfLoops = e.filter(col(SRC) === col(DST)).count()
    val dup = ecnt - e.distinct().count()
    // coalesce: max over an empty edge set is null, and an empty snapshot is
    // a legitimate incremental-pipeline input
    val maxDeg = outDegrees(e).agg(coalesce(max("deg"), lit(0L))).collect()(0).getLong(0)
    val spark = edges.sparkSession
    import spark.implicits._
    val out = Seq((v, ecnt, selfLoops, dup, maxDeg))
      .toDF("n_vertices", "n_edges", "self_loops", "duplicate_edges", "max_out_degree")
    e.unpersist()
    out
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of endpoint
   * degrees over the symmetrized edge set — positive on social-style
   * graphs, negative on web/hub-and-spoke graphs. One distributed corr
   * aggregate over und ⋈ deg ⋈ deg; symmetrization makes the edge-endpoint
   * roles exchangeable, so corr(deg_src, deg_dst) IS Newman's r. Returns a
   * one-row (assortativity) frame; null on degree-regular graphs (zero
   * variance). */
  def assortativity(edges: DataFrame): DataFrame = {
    // `und` appears twice in ONE plan (as the edge list and under the degree
    // aggregate); its distinct() exchange is deduped by Catalyst's
    // ReuseExchange, so no persist — a persisted frame on a lazily returned
    // result would leak cached blocks for the session lifetime
    val und = undirected(edges)
    val deg = outDegrees(und) // symmetrized: out-degree = undirected degree
    und
      .join(deg.select(col(VID).as(SRC), col("deg").as("__da")), SRC)
      .join(deg.select(col(VID).as(DST), col("deg").as("__db")), DST)
      .agg(corr(col("__da"), col("__db")).as("assortativity"))
  }

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) for k = 0..maxK,
   * where N_k = vertices of undirected degree > k and E_k = undirected
   * edges with BOTH endpoints of degree > k (Zhou & Mondragón 2004) — do
   * the web's hubs link to each other more than chance. Plan: everything
   * collapses to two tiny histograms (edge min-endpoint-degree and degree
   * counts), range-joined against the (maxK+1)-row k frame — the edge table
   * is scanned once, the k loop never touches it. Returns
   * (k, n_k, e_k, phi) with φ rounded to 6 (0.0 when N_k < 2). */
  def richClub(edges: DataFrame, maxK: Int = 16): DataFrame = {
    val spark = edges.sparkSession
    // no persist: the lazily returned frame would leak the cached blocks;
    // und's distinct() exchange is reused across its two appearances
    val und = undirected(edges).filter(col(SRC) =!= col(DST))
    val deg = outDegrees(und)
    // canonical edge (a<b) with m = min endpoint degree; both histograms
    // are O(distinct degrees) rows — broadcast-sized at any graph scale
    val edgeHist = und.filter(col(SRC) < col(DST))
      .join(deg.select(col(VID).as(SRC), col("deg").as("__da")), SRC)
      .join(deg.select(col(VID).as(DST), col("deg").as("__db")), DST)
      .groupBy(least(col("__da"), col("__db")).as("m"))
      .agg(count(lit(1)).as("cnt"))
    val degHist = deg.groupBy(col("deg").as("d")).agg(count(lit(1)).as("cnt"))
    val ks = spark.range(0, maxK + 1L).select(col("id").as("k"))
    val nk = ks.join(broadcast(degHist), col("d") > col("k"), "left")
      .groupBy("k").agg(coalesce(sum("cnt"), lit(0L)).as("n_k"))
    val ek = ks.join(broadcast(edgeHist), col("m") > col("k"), "left")
      .groupBy("k").agg(coalesce(sum("cnt"), lit(0L)).as("e_k"))
    nk.join(ek, Seq("k"))
      .select(col("k"), col("n_k"), col("e_k"),
        when(col("n_k") < 2L, lit(0.0))
          .otherwise(round(lit(2.0) * col("e_k") / (col("n_k") * (col("n_k") - 1L)), 6))
          .as("phi"))
  }

  /** Gini coefficient of the undirected degree sequence — the standard
   * inequality summary of a crawl graph's attention distribution
   * (0 = uniform, →1 = a few hubs own every link). With degrees sorted
   * ascending and 1-based rank i: G = 2·Σ i·dᵢ / (n·Σd) − (n+1)/n. The
   * rank is [[Ranking.globalRank]] — a range repartition + per-partition
   * window + broadcast prefix sum, never a single-task global window; ties
   * cannot affect Σ i·dᵢ (equal values commute), so the vid tiebreak is for
   * determinism only. Σ i·dᵢ is exact in long up to n·Σd < 2^63. Returns
   * one row (n_vertices, gini) rounded to 6. */
  def degreeGini(edges: DataFrame): DataFrame = {
    val und = undirected(edges).filter(col(SRC) =!= col(DST))
    val deg = outDegrees(und)
    Ranking.globalRank(deg, Seq(col("deg"), col(VID)), "__r")
      .agg(count(lit(1)).as("__n"), sum("deg").as("__s"),
        sum((col("__r") + 1L) * col("deg")).as("__ws"))
      .select(col("__n").as("n_vertices"),
        round(lit(2.0) * col("__ws") / (col("__n") * col("__s"))
          - (col("__n") + 1.0) / col("__n"), 6).as("gini"))
  }
}

/**
 * Chunked grouped adjacency — the Spark-native CSR partition
 * (`partition_set_initialize` building per-partition CSR,
 * `/root/reference/src/totem/totem_partition.cu:492-541`).
 *
 * Rows: (src, deg, nbrs) where `deg` is the vertex's TOTAL out-degree and
 * `nbrs` one chunk of ≤ `chunkSize` neighbors. Hub vertices span multiple
 * rows — this is the degree-aware skew split (the analog of Totem's
 * vwarp/degree-sectioned kernels, `totem_page_rank_incoming_hybrid.cu:316-341`):
 * no single task ever owns a super-hub's full neighbor list, so the
 * state⋈adjacency join and the subsequent explode stay balanced at any skew.
 *
 * [[scatter]] and [[expand]] are the one message path of the superstep
 * loops — Totem's engine-owned communication phase (`engine_execute`,
 * `totem_engine.cu:214-234`), with the algorithm supplying only the message
 * and its combiner; [[reach]] is the one plain reachability sweep built on
 * [[expand]]. The layout they encode: the adjacency stays put
 * (hash-partitioned by src, persisted), only the O(V) sender side shuffles,
 * hash-built per partition (`shuffle_hash`, no driver broadcast, no sort).
 */
object Adjacency {
  final val DefaultChunk = 4096

  /** One message pass: every row of `from` (keyed by `vid`) sends `msg`
   * to each out-neighbour; `agg(msg)` combines per receiver, map-side first
   * (Totem's outbox combiner, `totem_engine_internal.cuh:70-183`). `msg`
   * may read `from`'s columns and the adjacency's `src`/`deg`. Returns
   * (vid, `as`) for every vertex that received a message. */
  def scatter(adj: DataFrame, from: DataFrame, msg: Column,
              agg: Column => Column, as: String): DataFrame =
    adj.join(from.hint("shuffle_hash"), adj(Graph.SRC) === from(Graph.VID))
      .select(explode(col("nbrs")).as(Graph.VID), msg.as("__msg"))
      .groupBy(Graph.VID).agg(agg(col("__msg")).as(as))

  /** The distinct (keys…, vid) out-neighbours of the `frontier` rows' vids,
   * each carrying its sender's `keys` columns. */
  def expand(adj: DataFrame, frontier: DataFrame, keys: String*): DataFrame =
    adj.join(frontier.hint("shuffle_hash"), adj(Graph.SRC) === frontier(Graph.VID))
      .select(keys.map(frontier(_)) :+ explode(col("nbrs")).as(Graph.VID): _*).distinct()

  /** Level-synchronous reachability along `adj`, one [[Superstep]] step per
   * BFS level (Totem's engine loop over the BFS step,
   * `totem_engine.cu:214-234`). `seeds` holds distinct (keys…, vid) rows;
   * every column but `vid` is a key the sweep carries, so one run serves
   * many roots. Returns the cut (keys…, vid, dist), dist 0 at the seeds —
   * the only RDD the call leaves pinned. Stops after a level that is empty
   * or holds `stop`, or after `maxLevels` levels. */
  def reach(adj: DataFrame, seeds: DataFrame, maxLevels: Int = Int.MaxValue,
            stop: Option[Long] = None): DataFrame = {
    val keys = seeds.columns.toSeq.filterNot(_ == Graph.VID)
    val ids = keys :+ Graph.VID
    val init = seeds.select(ids.map(col) :+ lit(0).as("dist"): _*)
    Superstep.run(init, Superstep.Config(maxSupersteps = maxLevels)) { (state, level) =>
      // hint the BUILD (right) side: unhinted, the anti-join against the
      // stats-free cut state falls back to sort-merge every level
      val found = expand(adj, state.filter(col("dist") === level - 1), keys: _*)
        .join(state.select(ids.map(col): _*).hint("shuffle_hash"), ids, "left_anti")
      val cut = Lineage.cut(state.unionByName(found.withColumn("dist", lit(level))))
      // one job: null when the new level is empty, true when it holds `stop`
      val probe = cut.filter(col("dist") === level)
        .agg(max(stop.fold(lit(false))(col(Graph.VID) === _))).head()
      StepResult(cut, 0L, converged = probe.isNullAt(0) || probe.getBoolean(0))
    }.state
  }

  /** A graph loaded for the superstep loops: the edge table cut once
   * ([[Graph.ensureCut]]), its adjacency and vertex set persisted and
   * forced (graph load is init time — Totem's `time_par` — not alg_exec),
   * V and E counted. */
  final case class Loaded(adj: DataFrame, verts: DataFrame, v: Long, e: Long,
                          edges: DataFrame, ownEdges: Boolean) {
    def release(): Unit = {
      adj.unpersist(blocking = false)
      verts.unpersist(blocking = false)
      if (ownEdges) Lineage.release(edges)
    }
  }

  def load(edges: DataFrame, chunkSize: Int = DefaultChunk): Loaded = {
    val (e0, own) = Graph.ensureCut(edges)
    val adj = build(e0, chunkSize).persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()
    val verts = Graph.vertices(e0).persist(StorageLevel.MEMORY_AND_DISK)
    val v = verts.count()
    Loaded(adj, verts, v, e0.count(), e0, own)
  }

  def build(edges: DataFrame, chunkSize: Int = DefaultChunk): DataFrame = {
    // Salt = which chunk a neighbor lands in; deterministic via per-src
    // neighbor sequence would need a window (full sort). Hash-based chunk
    // assignment is order-free and balanced: chunk = xxhash64(src,dst,pos?) —
    // but duplicates must be preserved, so salt on a per-row basis with
    // monotonically varying input: use xxhash64 of (src, dst) which keeps
    // duplicates of the same (src,dst) in the SAME chunk (fine: dup count
    // per pair is tiny) while spreading distinct neighbors uniformly.
    val withDeg = edges
      .join(Graph.outDegrees(edges).withColumnRenamed(Graph.VID, "__dv"),
        col(Graph.SRC) === col("__dv"))
      .drop("__dv")
    val chunked = withDeg.withColumn(
      "chunk",
      when(col("deg") <= chunkSize, lit(0L))
        .otherwise(pmod(xxhash64(col(Graph.SRC), col(Graph.DST)),
          ceil(col("deg") / chunkSize).cast("long"))))
    chunked
      .groupBy(col(Graph.SRC), col("chunk"))
      .agg(first("deg").as("deg"), collect_list(col(Graph.DST)).as("nbrs"))
      .drop("chunk")
      // align layout with the per-superstep state⋈adjacency equi-join on
      // src: HashPartitioning(src) means the (big) adjacency side is never
      // re-exchanged across supersteps — only the O(V) state side shuffles
      .repartition(col(Graph.SRC))
  }
}
