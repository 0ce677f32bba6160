package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Graph
import graft.text.TextAnalysis

/**
 * Driver contract (SURVEY.md §7): every implemented operator gets a
 * `queries` entry over the driver's parquet tables, and — where
 * ANSI-SQL-expressible — an EXACTLY matching DuckDB oracle in `oracleSql`.
 *
 * Graph queries run over edge tables derived deterministically from
 * lineitem (identical arithmetic on both sides):
 *  - E_PS (bipartite, realistic skew): part → 1000000+supplier, distinct;
 *  - E_MOD (unipartite, cyclic, triangle-rich): orderkey%500 → partkey%500.
 *
 * Column names and rounding are part of the contract: the driver hashes
 * values after sorting columns by name, so every computed column is aliased
 * identically in the Spark plan and the SQL text, and floating-point
 * aggregates are rounded to 6 digits on both sides.
 */
object SparkEntry {

  /** Flagship: full north-rule pipeline on a generated Common-Crawl-style
   * corpus — pages → html→text/link extraction → edge table → 5-round
   * PageRank; returns the top pages by rank. The edge cut is released once
   * the rank has run: the result reads only PageRank's final state. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.gen.GraphGen.pages(spark, 2000, seed = 42)
    val edges = graft.text.EdgeExtract.edges(pages)
    val ranks = try graft.alg.PageRank.run(edges).ranks
      finally graft.core.Lineage.release(edges)
    ranks.orderBy(col("rank").desc, col("vid")).limit(20)
  }

  // ---- shared derived tables ----

  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** part→supplier bipartite edges, distinct. */
  private def ePS(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).select(col("l_partkey").as("src"),
      (lit(1000000L) + col("l_suppkey")).as("dst")).distinct()

  /** unipartite modular graph, distinct, no self-loops. */
  private def eMOD(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).select((col("l_orderkey") % 500).as("src"),
      (col("l_partkey") % 500).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()

  /** Shared recall-floor scaffold for the approximate-ANN rows
   * (q_ann_lsh_recall / q_ann_ivf_recall): per query, |approx∩brute|/k ≥
   * floor/k computed IN the plan; the DuckDB oracle asserts every query
   * row comes back recall_ok=true, so a recall regression turns the row
   * red. Floors: LSH 0.9 (multi-table config), IVF 0.6 — rationale at the
   * call sites. */
  private def recallFloor(s: SparkSession, dir: String, floor: Int,
      topk: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val approx = topk(emb, queries).select(col("query_id"), col("vec_id"))
    val brute = graft.ann.Ann.bruteForceTopK(emb, queries, k = 10)
      .select(col("query_id"), col("vec_id"))
    val overlap = approx.join(brute, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n"))
    brute.select("query_id").distinct()
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n"), lit(0L)) >= lit(floor.toLong)).as("recall_ok"))
  }

  /** sparse mostly-acyclic digraph for SCC: forward edges (src < dst)
   * everywhere, back edges only inside blocks of 100 vertices and only from
   * high line numbers — mixed SCC structure: per-block non-trivial SCCs for
   * the FW-BW sweep plus a trivial periphery for the Trim phase. */
  private def eSCC(s: SparkSession, dir: String): DataFrame = {
    val raw = lineitem(s, dir).select((col("l_orderkey") % 997).as("src"),
      (col("l_partkey") % 997).as("dst"), col("l_linenumber"))
    raw.filter(col("src") < col("dst") ||
        (col("src") > col("dst") && col("l_linenumber") >= 6 &&
          floor(col("src") / 100) === floor(col("dst") / 100)))
      .select("src", "dst").distinct()
  }

  /** sparse directed graph for SimRank: first-line items only — in-degrees
   * stay small enough that bounded-s2 expansion (candidates × d²) is cheap
   * at every SF while the co-citation structure stays rich. */
  private def eSIM(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).filter(col("l_linenumber") === 1)
      .select((col("l_orderkey") % 997).as("src"), (col("l_partkey") % 997).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()

  private val SqlESIM =
    "SELECT DISTINCT l_orderkey % 997 AS src, l_partkey % 997 AS dst FROM lineitem " +
      "WHERE l_linenumber = 1 AND l_orderkey % 997 <> l_partkey % 997"

  private val SqlEPS =
    "SELECT DISTINCT l_partkey AS src, 1000000 + l_suppkey AS dst FROM lineitem"
  private val SqlEMOD =
    "SELECT DISTINCT l_orderkey % 500 AS src, l_partkey % 500 AS dst FROM lineitem " +
      "WHERE l_orderkey % 500 <> l_partkey % 500"
  private val SqlESCC =
    "SELECT DISTINCT l_orderkey % 997 AS src, l_partkey % 997 AS dst FROM lineitem " +
      "WHERE (l_orderkey % 997 < l_partkey % 997) " +
      "OR (l_orderkey % 997 > l_partkey % 997 AND l_linenumber >= 6 " +
      "AND FLOOR((l_orderkey % 997) / 100) = FLOOR((l_partkey % 997) / 100))"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- graph structure ops (§2.1) ----
    "q_out_degree" -> ((s, dir) =>
      Graph.outDegrees(ePS(s, dir)).select(col("vid"), col("deg"))),
    "q_degree_dist" -> ((s, dir) =>
      Graph.degreeDistribution(ePS(s, dir))),
    "q_powerlaw" -> ((s, dir) =>
      // CSN discrete MLE of the out-degree tail exponent on the skewed
      // bipartite graph — two aggregates, one row
      Graph.powerLawExponent(ePS(s, dir))),
    "q_summary" -> ((s, dir) => {
      val raw = lineitem(s, dir).select((col("l_orderkey") % 500).as("src"),
        (col("l_partkey") % 500).as("dst"))
      Graph.summary(raw)
    }),
    "q_undirected_count" -> ((s, dir) => {
      import s.implicits._
      Seq(Graph.undirected(eMOD(s, dir)).count()).toDF("n_edges")
    }),
    "q_assortativity" -> ((s, dir) =>
      Graph.assortativity(eMOD(s, dir))
        .select(round(col("assortativity"), 6).as("assortativity"))),
    "q_rich_club" -> ((s, dir) =>
      // do the modular graph's hubs interlink more than chance — two tiny
      // histograms range-joined against the 17-row k frame
      Graph.richClub(eMOD(s, dir), maxK = 16)),
    "q_degree_gini" -> ((s, dir) =>
      // attention inequality of the degree sequence via the distributed
      // global rank (range partition + broadcast prefix sum, no global window)
      Graph.degreeGini(eMOD(s, dir))),

    // ---- algorithms (§2.3) ----
    "q_pagerank" -> ((s, dir) => {
      val r = graft.alg.PageRank.run(eMOD(s, dir))
      graft.core.MetricsLedger.record("q_pagerank", r.metrics.size)
      r.ranks.select(col("vid"), round(col("rank"), 6).as("rank"))
    }),
    "q_pagerank_warm" -> ((s, dir) => {
      // recrawl warm start for PageRank: 5 reference rounds on the 80%-edge
      // snapshot seed the convergence-mode iteration on the full graph for
      // exactly 3 supersteps (tol=0 never fires, delta ≥ 0) — the oracle
      // unrolls the same 5+3 rounds, so the warm path gets a hash check,
      // not just PageRankSpec's contraction argument
      val full = eMOD(s, dir)
      val warm = graft.alg.PageRank.run(
        full.filter((col("src") + col("dst")) % 10 < 8)).ranks
      val r = graft.alg.PageRank.runUntilConverged(full, tol = 0.0,
        maxIter = 3, warmStart = Some(warm))
      graft.core.MetricsLedger.record("q_pagerank_warm", r.metrics.size)
      r.ranks.select(col("vid"), round(col("rank"), 6).as("rank"))
    }),
    "q_ppr" -> ((s, dir) => {
      // personalized PageRank from the 5 smallest vertex ids (deterministic
      // seed choice expressible in the oracle; the collect is O(seeds))
      val e = eMOD(s, dir)
      val seeds = Graph.vertices(e).orderBy(col("vid")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      val r = graft.alg.PageRank.personalized(e, seeds)
      graft.core.MetricsLedger.record("q_ppr", r.metrics.size)
      r.ranks.select(col("vid"), round(col("rank"), 6).as("rank"))
    }),
    "q_spam_mass" -> ((s, dir) => {
      // TrustRank spam mass (Gyöngyi et al., VLDB 2004): relative mass
      // (PR − TR)/PR where TR = PageRank personalized on a trusted seed
      // set (the 5 smallest ids, exactly q_ppr's seeds). PageRank.spamMass
      // runs both oracle-checked rank loops over ONE shared adjacency/degree
      // init; both sides round to 6 BEFORE the ratio so the division sees
      // bit-identical inputs cross-engine.
      val e = eMOD(s, dir)
      val seeds = Graph.vertices(e).orderBy(col("vid")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.PageRank.spamMass(e, seeds)
    }),
    "q_hits" -> ((s, dir) => {
      val r = graft.alg.Hits.run(eMOD(s, dir))
      graft.core.MetricsLedger.record("q_hits", r.metrics.size)
      r.scores.select(col("vid"),
        round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth"))
    }),
    "q_salsa" -> ((s, dir) => {
      val r = graft.alg.Salsa.run(eMOD(s, dir))
      graft.core.MetricsLedger.record("q_salsa", r.metrics.size)
      r.scores.select(col("vid"),
        round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth"))
    }),
    "q_wcc" -> ((s, dir) => {
      val r = graft.alg.ConnectedComponents.run(ePS(s, dir))
      graft.core.MetricsLedger.record("q_wcc", r.metrics.size)
      r.components
    }),
    "q_crawl_diff" -> ((s, dir) => {
      // recrawl edge delta on the same snapshot split q_wcc_incremental
      // warm-starts from: old = 80% of E_PS by edge-hash, new = full E_PS
      // (plus the 20% "removed" direction tested by swapping roles on the
      // modular graph in GraphOpsSpec)
      val full = ePS(s, dir)
      Graph.snapshotDiff(full.filter((col("src") + col("dst")) % 10 < 8), full)
    }),
    "q_wcc_incremental" -> ((s, dir) => {
      // recrawl path: components from an 80%-edge snapshot warm-start HashMin
      // on the full graph — the fixpoint is provably identical (oracle = the
      // same recursive-CTE WCC as q_wcc), the superstep count collapses to
      // the hop distance between merged old components (ledger-recorded)
      val full = ePS(s, dir)
      val prev = graft.alg.ConnectedComponents.run(
        full.filter((col("src") + col("dst")) % 10 < 8)).components
      val r = graft.alg.ConnectedComponents.run(full, warmStart = Some(prev))
      graft.core.MetricsLedger.record("q_wcc_incremental", r.metrics.size)
      r.components
    }),
    "q_component_sizes" -> ((s, dir) =>
      graft.alg.ConnectedComponents.componentSizes(
        graft.alg.ConnectedComponents.run(ePS(s, dir)).components)),
    "q_coreness" -> ((s, dir) => {
      // FULL core decomposition (h-operator iteration) pinned to 3 rounds so
      // the DuckDB oracle unrolls; convergence-to-exact-peeling is
      // spec-tested (CoresSpec h-operator fixpoint tests)
      val r = graft.alg.Cores.coreness(eMOD(s, dir), maxRounds = 3)
      graft.core.MetricsLedger.record("q_coreness", r.metrics.size)
      r.coreness
    }),
    "q_triangles" -> ((s, dir) =>
      graft.alg.TriangleCount.perVertex(eMOD(s, dir))),
    "q_triad_census" -> ((s, dir) =>
      // directed motif profile: the 7 closed Holland–Leinhardt triad
      // classes (feed-forward vs cyclic closure, reciprocity structure)
      graft.alg.TriangleCount.directedCensus(eMOD(s, dir))),
    "q_clustering_coeff" -> ((s, dir) =>
      graft.alg.TriangleCount.clusteringCoefficient(eMOD(s, dir))
        .select(col("vid"), round(col("coefficient"), 6).as("coefficient"))),
    "q_diameter" -> ((s, dir) =>
      // double-sweep diameter lower bound on the undirected part–supplier
      // graph: 2 BFS jobs + two O(1) TakeOrdered probes; min-id tie-breaks
      // make the sweep pair deterministic (oracle replays both sweeps)
      graft.alg.Traversals.doubleSweepDiameter(Graph.undirected(ePS(s, dir)))),
    "q_bfs" -> ((s, dir) => {
      val e = Graph.undirected(ePS(s, dir))
      val source = lineitem(s, dir).agg(min("l_partkey")).collect()(0).getLong(0)
      val r = graft.alg.Traversals.bfs(e, source)
      graft.core.MetricsLedger.record("q_bfs", r.metrics.size)
      r.state
    }),
    "q_sssp" -> ((s, dir) => {
      val e = eMOD(s, dir).withColumn("weight",
        ((col("src") + col("dst")) % 7 + 1).cast("double"))
      val source = e.agg(min("src")).collect()(0).getLong(0)
      val r = graft.alg.Traversals.sssp(e, source)
      graft.core.MetricsLedger.record("q_sssp", r.metrics.size)
      r.state
    }),
    "q_sssp_delta" -> ((s, dir) => {
      // delta-stepping on the same weighted graph: the bucket-ordered
      // frontier converges to the SAME exact distances as q_sssp (monotone
      // min-relaxation is schedule-independent), so it shares the oracle —
      // only the relaxation order/count differs (the scale story)
      val e = eMOD(s, dir).withColumn("weight",
        ((col("src") + col("dst")) % 7 + 1).cast("double"))
      val source = e.agg(min("src")).collect()(0).getLong(0)
      val r = graft.alg.DeltaStepping.run(e, source, delta = 4.0)
      graft.core.MetricsLedger.record("q_sssp_delta", r.metrics.size)
      r.state
    }),
    "q_label_prop" -> ((s, dir) =>
      // fixed 4 iterations (stable-count can't reach 5, so exactly 4 run):
      // same per-iteration LabelRank semantics as the reference, made
      // DuckDB-unrollable (labelRankSql); the 25-max/5-stable termination
      // rule is exact-parity-tested vs the Scala dense oracle in ScalaTest.
      graft.alg.LabelPropagation.labelRank(Graph.undirected(eMOD(s, dir)),
        maxIterations = 4).labels),
    "q_majority_lpa" -> ((s, dir) =>
      graft.alg.LabelPropagation.majorityLpa(eMOD(s, dir), iterations = 5).labels),
    "q_label_prop_pruned" -> ((s, dir) =>
      // the web-scale configuration: per-vertex label support capped at 16
      // (LabelRank-paper pruning, comparator on round(p,12) — see
      // labelRank). Fixed 4 iterations so the per-round top-16 prune is
      // DuckDB-unrollable (labelRankPrunedSql) — the pruned code path gets
      // a hard rows+schema+hash oracle; the 25-max/5-stable termination
      // rule runs in q_label_prop_pruned_full and is exact-parity-tested vs
      // the Scala dense oracle in ScalaTest.
      graft.alg.LabelPropagation.labelRank(Graph.undirected(eMOD(s, dir)),
        maxIterations = 4, pruneTopK = 16).labels),
    "q_label_prop_pruned_full" -> ((s, dir) => {
      // full-convergence run of the same pruned scale path (25-max/5-stable
      // stop rule) — the production configuration and the bench headline.
      // The oracle is the SQL unroll PINNED to the recorded verify-scale
      // convergence depth (8 supersteps, stable at every sf0.01 run),
      // and the ACTUAL superstep count rides the output as a column: if
      // convergence ever drifts from the pinned depth the hash mismatches
      // and this row turns red instead of silently diverging.
      val r = graft.alg.LabelPropagation.labelRank(Graph.undirected(eMOD(s, dir)),
        pruneTopK = 16)
      graft.core.MetricsLedger.record("q_label_prop_pruned_full", r.metrics.size)
      r.labels.withColumn("supersteps", lit(r.metrics.size.toLong))
    }),
    "q_katz" -> ((s, dir) => {
      val r = graft.alg.Katz.run(eMOD(s, dir), rounds = 5, alpha = 0.1)
      graft.core.MetricsLedger.record("q_katz", r.metrics.size)
      r.scores.select(col("vid"), round(col("katz"), 6).as("katz"))
    }),
    "q_eigenvector" -> ((s, dir) => {
      // power iteration with per-round L2 normalization — the last member
      // of the walk-centrality family (PageRank/Katz/HITS/SALSA are here)
      val r = graft.alg.Eigen.run(eMOD(s, dir), rounds = 5)
      graft.core.MetricsLedger.record("q_eigenvector", r.metrics.size)
      r.scores.select(col("vid"), round(col("eigen"), 6).as("eigen"))
    }),
    "q_scc" -> ((s, dir) =>
      // FW-BW-Trim over the block-structured sparse digraph: trivial
      // periphery exercises Trim, the per-block cycles the coloring+sweep
      graft.alg.StronglyConnected.run(eSCC(s, dir))),
    "q_topo_layers" -> ((s, dir) =>
      // crawl-order view of the mixed-SCC digraph: SCC → condensation →
      // longest-path layering; layer k = components whose longest chain of
      // inter-component links from any source has k hops (DagSpec holds
      // closed forms + a driver-side transitive-closure reference)
      graft.alg.Dag.topoLayers(eSCC(s, dir))),
    "q_bowtie" -> ((s, dir) =>
      // Broder macro-structure census (CORE/IN/OUT/TUBE/TENDRIL/DISC) of
      // the same mixed-SCC digraph: SCC + four batched reachability sweeps
      graft.alg.BowTie.summary(eSCC(s, dir))),
    "q_adamic_adar" -> ((s, dir) =>
      // link prediction on the bipartite part–supplier graph: top pairs =
      // parts sharing suppliers / suppliers sharing parts
      graft.alg.LinkPrediction.adamicAdarTopK(ePS(s, dir), k = 50)),
    "q_cocitation" -> ((s, dir) =>
      // related pages by shared citers (Small 1973 / Dean–Henzinger):
      // top pairs co-linked by the most common sources, Jaccard-normalized
      graft.alg.LinkPrediction.cocitationTopK(eMOD(s, dir), k = 50)),
    "q_coupling" -> ((s, dir) =>
      // bibliographic coupling (Kessler 1963): top pairs citing the most
      // common targets — the same wedge pass on the reversed graph
      graft.alg.LinkPrediction.couplingTopK(eMOD(s, dir), k = 50)),
    "q_simrank" -> ((s, dir) =>
      // bounded two-iteration SimRank (Jeh-Widom 2002) on the sparse
      // mixed digraph: s1 exact for every co-cited pair, s2 exact on the
      // top-2000 s1 candidates (nano-unit floor arithmetic keeps the cut,
      // the BIGINT sum, and the final double bit-identical cross-engine)
      graft.alg.SimRank.simrank2TopK(eSIM(s, dir), k = 50)),
    "q_butterflies" -> ((s, dir) =>
      // bipartite 4-cycle census per part: exact (uncapped) for the oracle;
      // the maxPivotDegree hub valve is the scale path (ButterflySpec)
      graft.alg.Butterfly.perVertex(ePS(s, dir))),
    "q_kcore" -> ((s, dir) =>
      graft.alg.Cores.kCore(eMOD(s, dir), k = 8)),
    "q_ktruss" -> ((s, dir) =>
      // k=50 sits just under the eMOD support phase transition (median
      // support 73 at sf0.01): real peeling happens (4 rounds to fixpoint)
      // and the truss stays non-empty — both regimes exercised
      graft.alg.Truss.kTruss(eMOD(s, dir), k = 50)),
    "q_mis" -> ((s, dir) => {
      // Luby MIS with deterministic multiplicative-hash priorities — the
      // fixpoint equals sequential greedy over the priority order, so the
      // oracle is the round-unrolled simulation (4 rounds probed; 6 gives
      // margin, extra rounds are no-ops; too few mismatches LOUDLY)
      val r = graft.alg.Independent.mis(eMOD(s, dir))
      graft.core.MetricsLedger.record("q_mis", r.metrics.size)
      r.members
    }),
    "q_coloring" -> ((s, dir) => {
      // iterated-MIS greedy coloring on the bipartite part–supplier graph;
      // innerRounds = 3 ≥ the probed per-phase fixpoint depth (2), so the
      // capped run coincides with the fixpoint run (IndependentSpec) while
      // being fixed-depth and hence DuckDB-unrollable
      val r = graft.alg.Independent.coloring(ePS(s, dir), innerRounds = 3)
      graft.core.MetricsLedger.record("q_coloring", r.metrics.size)
      r.colors.select(col("vid"), col("color").cast("long").as("color"))
    }),
    "q_matching" -> ((s, dir) => {
      // maximal matching by mutual-minimum rounds over a deterministic
      // global edge order (20 rounds probed at sf0.01; oracle unrolls 24)
      val r = graft.alg.Matching.run(eMOD(s, dir))
      graft.core.MetricsLedger.record("q_matching", r.metrics.size)
      r.mates
    }),
    "q_vertex_cover" -> ((s, dir) =>
      // 2-approx minimum vertex cover = matched endpoints of the maximal
      // matching — same rounds as q_matching, different final view
      graft.alg.Matching.vertexCover(eMOD(s, dir))),
    "q_link_predict" -> ((s, dir) =>
      // the full neighborhood-overlap measure family (common/Jaccard/AA/RA/
      // preferential attachment) in ONE wedge-join pass; top-50 by Jaccard.
      // maxPivotDegree=100 is the production hub cap (drops supplier-side
      // pivots whose deg² wedge fan-out dominates — the standard
      // approximation; measured 257 s → ~15 s at sf0.1); the oracle applies
      // the identical cap, with UNCAPPED endpoint degrees in jaccard/PA.
      // The exact uncapped wedge pass stays oracle-checked as q_adamic_adar.
      graft.alg.LinkPrediction.overlapTopK(ePS(s, dir), k = 50,
        maxPivotDegree = 100)),
    "q_msf" -> ((s, dir) => {
      // Boruvka minimum spanning forest over E_MOD with deterministic
      // integer weights; the strict (w, a, b) edge order makes the MSF
      // unique, so the oracle replays the phases (4 probed; 6 unrolled —
      // extra phases are no-ops, too few mismatches loudly)
      val a = least(col("src"), col("dst"))
      val b = greatest(col("src"), col("dst"))
      val e = eMOD(s, dir).select(col("src"), col("dst"),
        ((a * 7 + b * 13) % 1000).as("weight"))
      val r = graft.alg.Msf.run(e)
      graft.core.MetricsLedger.record("q_msf", r.metrics.size)
      r.forest.select(col("a"), col("b"), col("w"))
    }),
    "q_maxflow" -> ((s, dir) => {
      import s.implicits._
      // small derived DAG: region->nation->supplier capacities from keys
      val e = s.read.parquet(s"$dir/supplier.parquet")
        .select((col("s_nationkey") + 1000).cast("long").as("src"),
          (col("s_suppkey") + 2000).as("dst"),
          lit(1.0).as("weight"))
        .union(s.read.parquet(s"$dir/nation.parquet")
          .select(lit(0L).as("src"), (col("n_nationkey") + 1000).cast("long").as("dst"),
            lit(3.0).as("weight")))
        .union(s.read.parquet(s"$dir/supplier.parquet")
          .select((col("s_suppkey") + 2000).as("src"), lit(999999L).as("dst"),
            lit(1.0).as("weight")))
      val r = graft.alg.MaxFlow.maxFlow(e, 0L, 999999L)
      Seq(r.value).toDF("max_flow")
    }),
    "q_bfs_tree" -> ((s, dir) => {
      val e = Graph.undirected(ePS(s, dir))
      val source = lineitem(s, dir).agg(min("l_partkey")).collect()(0).getLong(0)
      graft.alg.Traversals.bfsTree(e, source).state
    }),

    "q_apsp_sample" -> ((s, dir) => {
      val e = Graph.undirected(eMOD(s, dir))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.Centrality.multiSourceBfs(e, roots)
        .select(col("root"), col(Graph.VID), col("dist").cast("int").as("dist"))
    }),
    "q_closeness" -> ((s, dir) => {
      val e = Graph.undirected(eMOD(s, dir))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.Traversals.closeness(e, roots)
    }),
    "q_harmonic" -> ((s, dir) => {
      val e = Graph.undirected(eMOD(s, dir))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.Traversals.harmonic(e, roots)
        .select(col("vid"), round(col("harmonic"), 6).as("harmonic"))
    }),
    "q_ecc_sample" -> ((s, dir) => {
      val e = Graph.undirected(eMOD(s, dir))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.Traversals.eccentricity(e, roots)
    }),
    "q_anf" -> ((s, dir) => {
      // HyperANF neighborhood function vs the exact one: the oracle checks
      // n_reach exactly (unrolled reachability CTE) and anf_ok asserts the
      // estimator's per-h relative error in-plan (same floor-row pattern as
      // q_ann_lsh_recall). Fixed depth 3 (the 500-vertex mod graph's balls
      // saturate at h=2) so both engines compare identical hops; m=64,
      // deterministic hashes ⇒ the measured relerr is a constant of the
      // data, floor 0.15.
      // cut: the estimator and the exact expansion both multi-read g
      val g = graft.core.Lineage.cut(Graph.undirected(eMOD(s, dir)))
      val est = graft.alg.Anf.run(g, m = 64, maxH = 3, relTol = 0.0).neighborhood
      graft.alg.Anf.exactNeighborhood(g, maxH = 3)
        .join(est, Seq("h"))
        .select(col("h").cast("int").as("h"),
          col("n_reach").cast("long").as("n_reach"),
          (abs(col("est") - col("n_reach")) / col("n_reach") <= 0.15).as("anf_ok"))
    }),
    "q_hyperball" -> ((s, dir) => {
      // HyperBall harmonic centrality (Boldi–Vigna 2013) vs the exact
      // sampled harmonic: exact values are hash-checked, hb_ok asserts the
      // estimator's per-root relative error in-plan (same floor-row pattern
      // as q_anf; deterministic hashes ⇒ the measured relerr is a constant
      // of the data). m=64, depth 3 — the mod graph's balls saturate at 2.
      // cut: the undirected edge table feeds the exact multi-source BFS AND
      // the HyperBall loop (adjacency build + edge count + vertex init) —
      // uncut, the lineitem scan + distinct + both-directions union re-ran
      // per consumer. Not released: the returned lazy join reads only cut
      // descendants, and the weak-keyed backing map reclaims after GC (the
      // LinkPrediction.scores precedent).
      val g = graft.core.Lineage.cut(Graph.undirected(eMOD(s, dir)))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      val exact = graft.alg.Traversals.harmonic(g, roots)
      val est = graft.alg.Anf.harmonicApprox(g, m = 64, maxH = 3)
      exact.join(est, Seq("vid"))
        // roots with exact harmonic 0 (nothing reaches them) are dropped on
        // BOTH sides: the oracle's `WHERE d > 0 GROUP BY root` never emits
        // them, and the relative-error ratio is undefined there
        .filter(col("harmonic") > 0)
        .select(col("vid"), round(col("harmonic"), 6).as("harmonic"),
          (abs(col("harmonic_est") - col("harmonic")) / col("harmonic") <= 0.25)
            .as("hb_ok"))
    }),
    "q_betweenness" -> ((s, dir) => {
      val e = Graph.undirected(eMOD(s, dir))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.Centrality.betweenness(e, roots)
        .select(col(Graph.VID), round(col("betweenness"), 6).as("betweenness"))
    }),
    "q_stress" -> ((s, dir) => {
      val e = Graph.undirected(eMOD(s, dir))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.Centrality.stress(e, roots)
    }),
    "q_edge_betweenness" -> ((s, dir) => {
      // Girvan–Newman primitive: per-edge Brandes dependency over the same
      // 3 sampled roots as q_betweenness — community cuts carry the mass
      val e = Graph.undirected(eMOD(s, dir))
      val roots = eMOD(s, dir).select("src").distinct().orderBy("src").limit(3)
        .collect().map(_.getLong(0)).toSeq
      graft.alg.Centrality.edgeBetweenness(e, roots)
        .select(col("src"), col("dst"),
          round(col("edge_betweenness"), 6).as("edge_betweenness"))
    }),

    "q_random_walk" -> ((s, dir) =>
      // deterministic md5-argmin walks of length 8 from EVERY vertex — the
      // reproducible DeepWalk-style corpus sampler; all 500 walks advance
      // in lockstep supersteps
      graft.alg.RandomWalk.walksFromAll(eMOD(s, dir), length = 8, seed = 42L)),
    "q_node2vec" -> ((s, dir) =>
      // second-order biased walks (p=2 return-averse, q=0.5 local) from
      // every vertex — the node2vec corpus sampler; the oracle unrolls the
      // exact inverse-CDF draw with dyadic weights per step
      {
        // cut: the walk join table and the every-vertex start set share it
        val g = graft.core.Lineage.cut(eMOD(s, dir))
        graft.alg.RandomWalk.biasedWalks(g,
          graft.core.Graph.vertices(g), length = 6,
          p = 2.0, q = 0.5, seed = 42L)
      }),
    "q_walk_pairs" -> ((s, dir) => {
      // skip-gram (center, context) pair counts within a ±3 window over the
      // q_random_walk corpus — the walks→training-pairs step of a DeepWalk
      // embedding pipeline; one walk-keyed agg + codegen'd pair expansion
      val walks = graft.alg.RandomWalk.walksFromAll(eMOD(s, dir), length = 8, seed = 42L)
      graft.alg.RandomWalk.contextPairs(walks, window = 3)
        .groupBy("center", "context")
        .agg(count(lit(1)).cast("long").as("pairs"))
    }),
    "q_neg_sample" -> ((s, dir) => {
      // word2vec negative sampling over the same walk corpus: 2 noise
      // vertices per walk position ∝ corpusFreq^0.75 via the exact integer
      // inverse-CDF (bucketed interval join); the oracle replays the draw
      // with a plain range join over the identical micro-unit table
      val walks = graft.alg.RandomWalk.walksFromAll(eMOD(s, dir), length = 8, seed = 42L)
      graft.alg.RandomWalk.negativeSamples(walks, k = 2, power = 0.75, seed = 7L)
    }),

    // ---- event stream (batch = streaming plan, driver-checkable) ----
    "q_event_windows" -> ((s, dir) =>
      graft.streaming.EventStream.windowedCounts(events(s, dir))),
    "q_event_sliding" -> ((s, dir) =>
      // hopping rate view: 1-hour windows advancing every 30 minutes —
      // every event lands in exactly two windows
      graft.streaming.EventStream.slidingCounts(events(s, dir))),
    "q_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.EventStream.Event]
      graft.streaming.EventStream.sessionize(ev, gapMs = 30L * 60 * 1000).toDF()
        .select(col("user_id"), col("start").as("session_start"),
          col("end").as("session_end"), col("n_events"),
          round(col("total_value"), 6).as("total_value"))
    }),

    "q_interval_join" -> ((s, dir) => {
      // click attribution: every click pairs with ALL of the same user's
      // views in the preceding 30 minutes — the stream-stream interval
      // join run on batch frames (key hash join + range predicate; the
      // identical expression bounds state when both sides are streams)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
          col("user_id"))
      graft.streaming.EventStream.intervalJoin(clicks, views, "user_id",
          "click_ts", "view_ts", lookback = "30 minutes")
        .select(col("click_id"), col("view_id"), col("user_id"),
          // testdata timestamps read as TIMESTAMP_NTZ; the cast pins a tz
          // interpretation but the DIFFERENCE is tz-independent
          (unix_micros(col("click_ts").cast("timestamp"))
            - unix_micros(col("view_ts").cast("timestamp"))).as("gap_us"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // enrich every non-purchase event with the user's most recent
      // purchase value at that instant — window-strategy as-of join (one
      // key shuffle, no join node); oracle = DuckDB's native ASOF LEFT JOIN
      val ev = events(s, dir)
      val l = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      graft.operators.AsOfJoin.asof(l, r, key = "user_id", ts = "ts",
          payload = Seq("purchase_value"))
        .select(col("event_id"), col("user_id"),
          // no-match sentinel: the driver hash gate compares floats exactly
          // and NaN != NaN would mask a real mismatch
          coalesce(col("purchase_value"), lit(-1.0)).as("purchase_value"))
    }),
    "q_asof_bucketed" -> ((s, dir) => {
      // same enrichment bounded to a 24h lookback via the bucketed-join
      // strategy (hot keys split across time buckets; bucket = tolerance →
      // right replication 2×); ms granularity on both engines
      // events.ts is TIMESTAMP_NTZ; the session timezone is pinned UTC, so
      // the cast-then-unix_millis equals DuckDB's epoch_ms(ntz)
      val ev = events(s, dir)
      val ems = unix_millis(col("ts").cast("timestamp")).as("tms")
      val l = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), ems)
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), ems, col("value").as("purchase_value"))
      val day = 24L * 3600 * 1000
      graft.operators.AsOfJoin.asofBucketed(l, r, key = "user_id", ts = "tms",
          leftId = "event_id", payload = Seq("purchase_value"),
          toleranceMs = day, bucketMs = day)
        .select(col("event_id"), col("user_id"),
          coalesce(col("purchase_value"), lit(-1.0)).as("purchase_value"))
    }),

    // ---- text analysis ----
    "q_bpe_pairs" -> ((s, dir) =>
      // BPE-training inner loop statistics: top-100 adjacent character
      // pairs weighted by corpus word frequency — one corpus scan into the
      // compact (word, freq) table, then a pair explode + hash aggregate
      graft.text.Tokenize.charPairCounts(
        graft.text.Tokenize.wordFreq(documents(s, dir), "text"), k = 100)),
    "q_bpe_encode" -> ((s, dir) => {
      // the ENCODE side of BPE: apply a FIXED merge table (deployment
      // reality — merges ship as a tokenizer artifact, e.g. merges.txt)
      // over the corpus and report per-doc word/token counts. The merge
      // chain folds over the distinct-word VOCABULARY, never the corpus;
      // the oracle mirrors the greedy left-to-right fold as a sentinel-char
      // replace() chain (both are non-overlapping left-to-right scans)
      val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r",
        "a" -> "n", "an" -> "d").zipWithIndex.map { case ((a, b), i) =>
        graft.text.Tokenize.Merge(i, a, b, 0L) }
      graft.text.Tokenize.encode(documents(s, dir), "doc_id", "text", merges)
        .select(col("id").as("doc_id"), col("n_words"), col("n_tokens"))
    }),
    "q_entropy" -> ((s, dir) =>
      // character-entropy quality band: the compression-style signal next
      // to q_quality/q_gopher_rules; pure codegen'd array fold, no shuffle
      documents(s, dir).select(col("doc_id"),
        round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"))),
    "q_token_stats" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("subwords"))),
    "q_lang_id" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),
    "q_quality" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),
    "q_fingerprint" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q_reciprocity" -> ((s, dir) =>
      // link-graph symmetry statistic on the directed mod graph
      graft.core.Graph.reciprocity(eMOD(s, dir))),
    "q_c4_filter" -> ((s, dir) => {
      // C4 line+document cleaning. The documents table carries no newlines,
      // so line structure is synthesized ARITHMETICALLY (the q_host_graph
      // pattern — the oracle rebuilds the same text): tokens chunked into
      // 8-word lines, line i terminated by (doc_id+i)%4 → . ! ∅ ? ; every
      // 17th doc gains a lorem-ipsum line, every 23rd a code line. The REAL
      // operator (Curation.c4Stats) then runs identically in both engines.
      val toks = regexp_extract_all(col("text"), lit(TOK), lit(0))
      def term(i: Column): Column = {
        val m = (col("doc_id") + i) % 4
        when(m === 0, ".").when(m === 1, "!").when(m === 2, "").otherwise("?")
      }
      // tokenize once (TextAnalysis.bindOnce): slicing the tokenizer
      // EXPRESSION inside the line lambda would re-run the regex per
      // synthesized line
      val lines = graft.text.TextAnalysis.bindOnce(toks)(ts =>
        transform(sequence(lit(0), ceil(size(ts) / lit(8.0)).cast("int") - 1), i =>
          concat(concat_ws(" ", slice(ts, i * 8 + 1, lit(8))), term(i))))
      val lorem = when(col("doc_id") % 17 === 0,
        array(lit("lorem ipsum dolor sit amet qui minim veniam culpa.")))
        .otherwise(array().cast("array<string>"))
      val brace = when(col("doc_id") % 23 === 0,
        array(lit("function f() { return 1; }")))
        .otherwise(array().cast("array<string>"))
      val text2 = array_join(concat(lines, lorem, brace), "\n")
      documents(s, dir)
        .select(col("doc_id"), graft.text.Curation.c4Stats(text2).as("c"))
        .select(col("doc_id"), col("c.n_lines").as("n_lines"),
          col("c.n_kept").as("n_kept"), col("c.has_lorem").as("has_lorem"),
          col("c.has_brace").as("has_brace"), col("c.keep").as("keep"),
          md5(col("c.clean")).as("clean_md5"))
    }),
    "q_lm_score" -> ((s, dir) =>
      // CCNet-style unigram-LM scoring: model trained on the corpus itself,
      // per-doc mean token log-prob + head/middle/tail bucket (thresholds
      // pinned at this corpus's terciles; production derives them from an
      // approxQuantile sketch of a prior run)
      TextAnalysis.unigramLogProb(documents(s, dir), "doc_id", "text",
        headThreshold = -3.401, middleThreshold = -3.42)),
    "q_lm_terciles" -> ((s, dir) =>
      // CCNet tercile cuts derived IN-PLAN (nearest-rank order statistics
      // via two TakeOrdered passes — see unigramLogProbTerciles): the
      // tested form of the "thresholds come from quantiles of a prior
      // run" production claim that q_lm_score pins as constants;
      // exact=false swaps in the approx_percentile sketch for the 10^12
      // path
      TextAnalysis.unigramLogProbTerciles(documents(s, dir), "doc_id", "text")),
    "q_dsir" -> ((s, dir) =>
      // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
      // bucket models, target = the English subset, raw = whole corpus;
      // logweight = ln p_target(doc) − ln p_raw(doc)
      graft.text.Dsir.importanceWeights(documents(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 4096, lambda = 0.5)),
    "q_dsir_select" -> ((s, dir) =>
      // the resampling step: Gumbel top-100 on the weights — sampling
      // without replacement ∝ exp(weight), deterministic hash Gumbel draw
      graft.text.Dsir.resample(
        graft.text.Dsir.importanceWeights(documents(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 4096, lambda = 0.5),
        "doc_id", "logweight", k = 100)
        .select(col("doc_id"), col("gumbel_key"))),
    "q_semdedup" -> ((s, dir) => {
      // SemDeDup: k-means buckets (same k=4/3-iteration model the oracle
      // unrolls for q_kmeans) + within-cluster cosine ≥ 0.3 pair mining,
      // min-id keeper — the clustered form of embedding dedup that avoids
      // the O(n²) all-pairs scan at corpus scale
      val emb = embeddings(s, dir)
      val m = graft.ann.KMeans.run(emb, k = 4, iters = 3)
      graft.ann.Ann.semDedup(emb, m.assignments, threshold = 0.3)
        .select(col("vec_id"), col("cid").cast("long").as("cid"), col("keep"))
    }),
    "q_embed_smooth" -> ((s, dir) =>
      // GNN mean-aggregation feature smoothing over the mod link graph
      // (2 rounds, alpha=0.5) — graph-regularized embeddings in exact
      // integer micro-units, so the unrolled DuckDB rounds match hash-exact
      graft.ann.FeatureProp.exploded(eMOD(s, dir), embeddings(s, dir),
          "vec_id", "embedding", alpha = 0.5, rounds = 2)
        .select(col("vid").as("vec_id"), col("pos"), col("uv").as("micro"))),
    "q_tfidf" -> ((s, dir) =>
      // top-5 keywords per document by smoothed TF-IDF — two map-side-
      // combinable aggregates + a term-keyed join + per-doc window
      TextAnalysis.tfidfTopTerms(documents(s, dir), "doc_id", "text", k = 5)
        .select(col("doc_id"), col("term"), col("tfidf"),
          col("rnk").cast("long").as("rnk"))),
    "q_pca_cov" -> ((s, dir) =>
      // PCA step 1 at scale: upper-triangle covariance of the embedding
      // corpus from exact micro-unit BIGINT moment sums — one pass,
      // shuffle O(partitions·d²); the d×d eigen step is driver-side
      graft.ann.Pca.covariance(embeddings(s, dir))),
    "q_quantize" -> ((s, dir) =>
      // int8 scalar quantization: per-dim min/max codebook (broadcast) +
      // one narrow affine-code pass — the 4× index-compression step
      graft.ann.Quantize.codes(embeddings(s, dir))),
    "q_pq" -> ((s, dir) =>
      // product quantization: 4 independent deterministic k-means runs
      // over 16-dim slices — per-subspace centroid codes, the PQ index
      graft.ann.Pq.codes(embeddings(s, dir), m = 4, k = 8, iters = 2)),

    // ---- corpus curation ----
    "q_domain_cap" -> ((s, dir) =>
      // at most 5 docs per source, the k smallest (md5(doc_id), doc_id) —
      // two-phase salted cap; the oracle's single row_number window selects
      // the same rows (CurationSpec proves phase equivalence)
      graft.text.Curation.capPerKey(
        documents(s, dir), col("source"), col("doc_id"), k = 5)
        .select(col("doc_id"), col("source"))),
    "q_group_split" -> ((s, dir) =>
      // leakage-safe train/holdout split keyed on the SOURCE hash (stand-in
      // for host/domain): same-source docs — the likeliest near-duplicates
      // — can never straddle the split
      graft.text.Curation.groupSplit(documents(s, dir), col("source"), 0.25)
        .select(col("doc_id"), col("source"), col("split"))),
    "q_chunk" -> ((s, dir) =>
      // context-window chunking: 64-token windows every 48 tokens (16-token
      // overlap) — sequence+explode fan-out, no shuffle
      graft.text.Curation.chunkWindows(
        documents(s, dir), col("doc_id"), col("text"), window = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_id"), col("start_tok"), col("len"))),
    "q_pack" -> ((s, dir) =>
      // sequence packing: whitespace-token counts folded contiguous-greedy
      // into ≤512-token training sequences within 8 deterministic hash
      // buckets — the one order-dependent per-bucket scan in the library
      graft.text.Curation.packSequences(
        documents(s, dir), col("doc_id"),
        TextAnalysis.tokenCount(col("text")), capTokens = 512, buckets = 8)
        .select(col("id").as("doc_id"), col("bucket"), col("bin"))),
    "q_pipeline" -> ((s, dir) => {
      // the END-TO-END curation chain as ONE declarative plan: exact dedup
      // → language filter → quality floor → per-source cap → leakage-safe
      // group split → per-(source, split) corpus accounting. Every stage is
      // the same operator verified on its own row; Catalyst fuses the
      // scan-side stages (dedup hash, lang-id, quality and token counts all
      // compute in one scan) and the only shuffles are the dedup groupBy,
      // the bounded two-phase cap, and the final aggregate.
      val d = documents(s, dir)
      val deduped = graft.dedup.Dedup.dedupExact(d)
      val en = deduped.filter(TextAnalysis.langId(col("text")) === "en")
      val good = en.filter(TextAnalysis.qualityScore(col("text")) >= 0.7)
      val capped = graft.text.Curation.capPerKey(
        good, col("source"), col("doc_id"), k = 30)
      graft.text.Curation.groupSplit(capped, col("source"), 0.25)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
    }),
    "q_hash_sample" -> ((s, dir) =>
      // deterministic 25% Bernoulli by md5 prefix; 0.25 * 2^32 = 0x40000000
      // exactly, so the oracle's lexicographic hex compare is equivalent
      graft.text.Curation.hashSample(documents(s, dir), col("doc_id"), 0.25)
        .select(col("doc_id"))),
    "q_top_ngram" -> ((s, dir) =>
      // most frequent word 2-gram per doc + its character mass (Gopher-style
      // repetition signal); ties break (cnt desc, gram asc) in both engines
      graft.text.Repetition.topNgram(documents(s, dir), "doc_id", "text", n = 2)
        .withColumnRenamed("id", "doc_id")),
    "q_corpus_ngrams" -> ((s, dir) =>
      // corpus-level boilerplate mining: global top-50 word 3-grams with
      // total count + document frequency; (cnt desc, gram asc) total order
      // keeps the top-k cut deterministic cross-engine
      graft.text.Repetition.corpusTopNgrams(documents(s, dir), "doc_id", "text",
        n = 3, k = 50)),
    "q_dup_ngrams" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        round(graft.text.Repetition.dupNgramFraction(col("text"), 3), 6).as("dup3_frac"),
        size(graft.text.Repetition.wordGrams(col("text"), 3)).cast("long").as("n_grams"))
        .filter(col("n_grams") > 0)),
    "q_dup_lines" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        round(graft.text.Repetition.dupLineFraction(col("text")), 6).as("dup_line_frac"),
        round(graft.text.Repetition.dupLineCharFraction(col("text")), 6).as("dup_char_frac"))),
    "q_gopher_rules" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), graft.text.Repetition.gopherStats(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.alpha_frac").as("alpha_frac"),
          col("g.stop_hits").as("stop_hits"), col("g.keep").as("keep"))),
    "q_host_graph" -> ((s, dir) => {
      // deterministic synthetic crawl derived from documents: doc k's page
      // at https://src{k%20}.example.org/d/{k} links to 3 arithmetic targets
      // t = (31k + 17j + 7) mod n. The REAL pipeline (href regex → host
      // regex → weighted aggregate) runs here; the oracle recomputes the
      // hosts arithmetically, so a green row proves the extraction path.
      val d = documents(s, dir)
      val n = d.count()
      def link(j: Int): Column = {
        val t = (col("doc_id") * 31 + lit(17 * j + 7)) % n
        concat(lit("<a href=\"https://src"), (t % 20).cast("string"),
          lit(".example.org/d/"), t.cast("string"), lit("\">x</a>"))
      }
      val pages = d.select(
        concat(lit("https://"), col("source"), lit(".example.org/d/"),
          col("doc_id")).as("url"),
        concat(link(0), link(1), link(2)).cast("binary").as("html"))
      graft.text.EdgeExtract.hostGraph(pages)
    }),
    "q_anchor_text" -> ((s, dir) => {
      // synthetic crawl with DESCRIPTIVE anchors: doc k's link j points to
      // t = (31k+17j+7) mod n carrying anchor text kw{(k+j)%7}. The REAL
      // pipeline runs here (two-group regex zip extraction + salted top-3
      // per-target aggregation); the oracle rebuilds the triples
      // arithmetically, so a green row proves the anchor path end to end.
      val d = documents(s, dir)
      val n = d.count()
      def link(j: Int): Column = {
        val t = (col("doc_id") * 31 + lit(17 * j + 7)) % n
        concat(lit("<a href=\"https://src"), (t % 20).cast("string"),
          lit(".example.org/d/"), t.cast("string"),
          lit("\">kw"), ((col("doc_id") + lit(j)) % 7).cast("string"),
          lit("</a>"))
      }
      val pages = d.select(
        concat(lit("https://"), col("source"), lit(".example.org/d/"),
          col("doc_id")).as("url"),
        concat(link(0), link(1), link(2)).cast("binary").as("html"))
      graft.text.EdgeExtract.topAnchors(pages, k = 3)
    }),
    "q_contract" -> ((s, dir) => {
      // quotient graph: collapse the modular graph by part = vid % 25
      val e = eMOD(s, dir)
      val m = graft.core.Graph.vertices(e)
        .select(col("vid"), (col("vid") % 25).as("part"))
      graft.core.Graph.contract(e, m)
    }),
    "q_host_rank" -> ((s, dir) => {
      // the north-star pipeline end to end: synthetic crawl → href
      // extraction → weighted host graph → WEIGHTED PageRank over host
      // strings (no integer relabeling needed)
      val d = documents(s, dir)
      val n = d.count()
      def link(j: Int): Column = {
        val t = (col("doc_id") * 31 + lit(17 * j + 7)) % n
        concat(lit("<a href=\"https://src"), (t % 20).cast("string"),
          lit(".example.org/d/"), t.cast("string"), lit("\">x</a>"))
      }
      val pages = d.select(
        concat(lit("https://"), col("source"), lit(".example.org/d/"),
          col("doc_id")).as("url"),
        concat(link(0), link(1), link(2)).cast("binary").as("html"))
      val hg = graft.text.EdgeExtract.hostGraph(pages)
        .select(col("src_host").as("src"), col("dst_host").as("dst"), col("weight"))
      graft.alg.PageRank.runWeighted(hg).ranks
        .select(col("vid").as("host"), round(col("rank"), 6).as("rank"))
    }),
    "q_louvain" -> ((s, dir) =>
      // synchronous parity-gated Louvain local moves, 3 rounds (the full
      // multilevel run with contraction is exact-parity-tested in
      // LouvainSpec against a driver-side reference)
      graft.alg.Louvain.localMoves(
        graft.alg.Louvain.symmetrize(eMOD(s, dir)), rounds = 3)),
    "q_spinner" -> ((s, dir) =>
      // Spinner balanced k-way LPA partitioning, 3 parity-gated rounds at
      // k = 4 — edge-cut-aware partition assignment (SpinnerSpec holds the
      // exact driver-side-reference parity and the clique-separation test)
      graft.core.Spinner.partition(eMOD(s, dir), k = 4, rounds = 3)),
    "q_conductance" -> ((s, dir) =>
      // partition-quality audit of the Spinner assignment: per-part cut /
      // min-side volume (the objective Cheeger bounds) — composes the two
      // operators the way a user scores a partitioning
      graft.core.Partitioning.conductance(eMOD(s, dir),
        graft.core.Spinner.partition(eMOD(s, dir), k = 4, rounds = 3))),
    "q_sample_edges" -> ((s, dir) =>
      graft.core.Graph.sampleEdges(eMOD(s, dir), 0.3)),
    "q_neighbor_sample" -> ((s, dir) =>
      // GraphSAGE-style bounded fan-out: 3 deterministically-chosen
      // out-neighbors per vertex by per-edge hash rank
      graft.core.Graph.sampleNeighbors(eMOD(s, dir), k = 3)),
    "q_sample_vertices" -> ((s, dir) =>
      // induced node sample: an edge survives iff BOTH endpoint hashes pass
      graft.core.Graph.sampleVerticesInduced(eMOD(s, dir), 0.5)),
    "q_khop_sample" -> ((s, dir) => {
      // GNN minibatch sampler: 2-hop sampled neighborhood blocks (fanouts
      // 3 then 2) from the seed set vid < 50 — per hop one frontier
      // semi-join + the salted deterministic top-k
      // cut (not released: the returned block plan is lazy over e): the
      // per-hop semi-joins and the seed set otherwise re-derive the graph
      val e = graft.core.Lineage.cut(eMOD(s, dir))
      graft.core.Graph.sampleKHop(e,
        graft.core.Graph.vertices(e).filter(col("vid") < 50),
        fanouts = Seq(3, 2))
    }),
    "q_stratified_sample" -> ((s, dir) =>
      // training-mix re-weighting: keep-all src0, half src1, quarter src2,
      // 10% everything else — deterministic hash thresholds per stratum
      graft.text.Curation.stratifiedSample(documents(s, dir), col("source"),
          col("doc_id"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), default = 0.1)
        .select(col("doc_id"))),
    "q_lang_mix" -> ((s, dir) =>
      // temperature-τ=0.3 language mixture (mT5 rule): per-language keep
      // rate computed FROM the corpus — (n_l/n_min)^(τ−1), 1 for the
      // rarest — then the same deterministic weighted Bernoulli filter as
      // q_stratified_sample; rates broadcast-joined (k rows)
      graft.text.Curation.temperatureMix(documents(s, dir), col("lang"),
          col("doc_id"), tau = 0.3)
        .select(col("doc_id"), col("lang"), col("mix_rate"))),
    "q_priority_sample" -> ((s, dir) =>
      // exact-k weighted sample without replacement (Efraimidis-Spirakis
      // A-Res), weight = document length: longer docs proportionally more
      // likely, row budget exact — the fixed-size counterpart of
      // q_stratified_sample's Bernoulli thresholds
      graft.text.Curation.prioritySample(documents(s, dir), col("doc_id"),
          length(col("text")) + lit(1), k = 100)
        .select(col("doc_id"))),
    "q_shuffle" -> ((s, dir) =>
      // reproducible global permutation of the corpus (training-data
      // ordering): global rank under (md5(doc_id), doc_id) via the
      // distributed range-repartition + prefix-sum rank — no global window
      graft.text.Curation.shufflePositions(documents(s, dir), col("doc_id"))
        .select(col("doc_id"), col("shuffle_pos"))),
    "q_heavy_hitters" -> ((s, dir) => {
      // top-20 users by event count through the bounded-memory Misra-Gries
      // aggregate; capacity 4096 > distinct users at every verify/bench SF,
      // so the sketch is in its exact regime (max_error = 0) and the plain
      // GROUP BY oracle pins it; the approximate regime is spec-tested
      val hh = events(s, dir).agg(graft.functions.HeavyHittersAgg
        .heavyHitters(col("user_id").cast("string"), capacity = 4096).as("hh"))
      hh.select(explode(col("hh.items")).as("it"))
        .select(col("it.key").as("user_key"), col("it.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("user_key").asc).limit(20)
    }),
    "q_pii" -> ((s, dir) => {
      // deterministic PII injection (email, IPv4, phone, arithmetic per
      // doc); BOTH engines then run their real regex engine over the same
      // string, so the md5 of the redacted text checks match positions and
      // replacement order, not just counts
      val id = col("doc_id")
      val injected = concat(col("text"),
        lit(" contact u"), id.cast("string"), lit("@ex"),
        (id % 7).cast("string"), lit(".net call 555-123-"),
        lpad((id % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (id % 256).cast("string"), lit(".0."),
        (id % 100).cast("string"),
        when(id % 3 === 0, lit(" or admin@example.org")).otherwise(lit("")))
      documents(s, dir).select(id,
          graft.text.Privacy.piiStats(injected).as("p"),
          md5(graft.text.Privacy.redactPii(injected)).as("red_md5"))
        .select(id, col("p.n_email").as("n_email"),
          col("p.n_ipv4").as("n_ipv4"), col("p.n_phone").as("n_phone"),
          col("red_md5"))
    }),
    "q_decontaminate" -> ((s, dir) => {
      // benchmark set = every 50th doc; flag any doc sharing a word 3-gram
      val d = documents(s, dir)
      graft.text.Decontaminate.flagContaminated(
          d, d.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 3)
        .select(col("doc_id"), col("contaminated"))
    }),
    "q_url_norm" -> ((s, dir) => {
      // messy urls built arithmetically (mixed-case authority, default and
      // non-default ports, fragments, bare root slash); the REAL
      // normalization chain runs here, the oracle recomputes the canonical
      // form arithmetically
      val id = col("doc_id")
      val m = (id % 20).cast("string")
      val host = when(id % 3 === 0, concat(lit("SRC"), m, lit(".Example.ORG")))
        .when(id % 3 === 1, concat(lit("src"), m, lit(".example.org")))
        .otherwise(concat(lit("Src"), m, lit(".EXAMPLE.org")))
      val port = when(id % 5 === 0, lit(":443"))
        .when(id % 5 === 1, lit(":8443")).otherwise(lit(""))
      val path = when(id % 7 === 0, lit("/"))
        .otherwise(concat(lit("/D/"), id.cast("string")))
      val frag = when(id % 2 === 0, concat(lit("#Sec"), id.cast("string")))
        .otherwise(lit(""))
      documents(s, dir).select(id, graft.text.UrlOps.normalizeUrl(
        concat(lit("https://"), host, port, path, frag)).as("url_norm"))
    }),
    "q_redirect_resolve" -> ((s, dir) => {
      // redirect-chain canonicalization by pointer doubling: chains built
      // arithmetically along doc_id blocks of 4 (u0→u1→u2→u3), plus a
      // planted 2-cycle u3↔u7 — so blocks 0 and 1 feed a crawler trap
      // (resolved=false, canonical (url, url, -1)) while every other
      // block terminates at its u{4k+3}. The REAL operator runs here; the
      // oracle walks the same chains with a bounded recursive CTE.
      val spark = s
      import spark.implicits._
      val ids = documents(s, dir).select(col("doc_id"))
      val urls = ids.select(concat(lit("u"), col("doc_id")).as("url"))
      val chain = ids.filter(col("doc_id") % 4 < 3)
        .select(concat(lit("u"), col("doc_id")).as("src_url"),
          concat(lit("u"), col("doc_id") + 1).as("dst_url"))
      val cyc = Seq(("u3", "u7"), ("u7", "u3")).toDF("src_url", "dst_url")
      graft.text.UrlOps.resolveRedirects(chain.unionByName(cyc), urls,
          doublings = 5)
        .select(col("url"), col("final_url"),
          col("hops").cast("long").as("hops"), col("resolved"))
    }),
    "q_length_profile" -> ((s, dir) =>
      // per-source token-length distribution: the diagnostic behind every
      // length-filter threshold; exact interpolated quantiles (DuckDB
      // quantile_cont parity), approx_percentile is the 100 TB path
      graft.text.Curation.profile(documents(s, dir), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("double"))
        .select(col("key").as("source"), col("n").as("n_docs"),
          col("p50"), col("p90"), col("p99"))),
    "q_blocklist" -> ((s, dir) => {
      // crawl-pipeline suffix blocklist: hosts (some with a deeper label)
      // explode into their dot-suffix chains and hash-join the blocklist;
      // 'srcN.example.org' entries block the deep subdomains too
      import s.implicits._
      val id = col("doc_id")
      val m = (id % 20).cast("string")
      val host = when(id % 4 === 0, concat(lit("deep.src"), m, lit(".example.org")))
        .otherwise(concat(lit("src"), m, lit(".example.org")))
      val bl = Seq("src3.example.org", "src11.example.org", "deep.src8.example.org")
        .toDF("suffix")
      graft.text.UrlOps.suffixBlock(documents(s, dir), id, host, bl)
        .select(col("id").as("doc_id"), col("host"), col("blocked"),
          col("block_suffix"))
    }),
    "q_latest_snapshot" -> ((s, dir) => {
      // 5 crawl snapshots per page (doc_id % 100 keys the page; case/port/
      // fragment noise collapses under normalization); keep the latest
      val id = col("doc_id")
      val mm = id % 100
      val m = (mm % 20).cast("string")
      val host = when(id % 3 === 0, concat(lit("SRC"), m, lit(".Example.ORG")))
        .when(id % 3 === 1, concat(lit("src"), m, lit(".example.org")))
        .otherwise(concat(lit("Src"), m, lit(".EXAMPLE.org")))
      val port = when(id % 5 === 0, lit(":443")).otherwise(lit(""))
      val frag = when(id % 2 === 0, concat(lit("#v"), id.cast("string")))
        .otherwise(lit(""))
      val pages = documents(s, dir).select(id,
        concat(lit("https://"), host, port, lit("/d/"), mm.cast("string"),
          frag).as("url"),
        ((id * 13) % 500).as("warc_ts"))
      graft.text.UrlOps.latestSnapshot(pages, "url", "warc_ts", "doc_id")
        .select(col("url_norm"), col("doc_id"), col("warc_ts"))
    }),
    "q_dedup_paragraphs" -> ((s, dir) => {
      // corpus with heavy cross-doc paragraph reuse: doc k's 3 paragraphs
      // are the texts of docs (7k+j) % 150 — CCNet-style global first-
      // occurrence dedup then reassembly, md5-checked
      val d = documents(s, dir)
      val pool = d.select(col("doc_id").as("pid"), col("text").as("ptext"))
      val paras = d.select(col("doc_id"),
          explode(array(lit(0), lit(1), lit(2))).as("j"))
        .withColumn("pid", (col("doc_id") * 7 + col("j")) % 150)
        .join(pool, "pid")
      val docs2 = paras.groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("j"), col("ptext")))),
          p => p("ptext")), "\n").as("text"))
      graft.dedup.Dedup.dedupParagraphs(docs2)
        .select(col("doc_id"), md5(col("text_kept")).as("kept_md5"),
          col("n_kept"))
    }),

    // ---- dedup ----
    "q_dedup_exact" -> ((s, dir) =>
      graft.dedup.Dedup.exactGroups(documents(s, dir))),
    "q_substring_dedup" -> ((s, dir) =>
      // Lee-et-al-style exact substring dedup at 8-token windows: every
      // duplicated window occurrence except the globally first is removed;
      // the cleaned text is md5-checked cross-engine
      graft.dedup.Dedup.dedupSubstrings(documents(s, dir), n = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("text_kept")).as("kept_md5"))),
    "q_ngram_jaccard" -> ((s, dir) =>
      // cap binds only above the verify scale (sf0.01 has 500 docs), so the
      // DuckDB oracle (no cap) still matches exactly there while bench-scale
      // runs prune stopword-shingles that would pair quadratically
      graft.dedup.Dedup.ngramJaccardPairs(documents(s, dir), n = 5,
        threshold = 0.5, maxShingleFreq = 1000)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    "q_dedup_cluster" -> ((s, dir) => {
      // canonicalization stage of the fuzzy-dedup pipeline: ngram-Jaccard
      // pairs (threshold 0.5, same config as q_ngram_jaccard) → WCC over
      // the pair graph → cluster = min doc_id (the keeper), singletons
      // keep themselves
      val docs = documents(s, dir)
      val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, n = 5,
        threshold = 0.5, maxShingleFreq = 1000)
      graft.dedup.Dedup.nearDupClusters(docs, pairs)
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // recrawl dedup: the 20%-of-doc_ids "new batch" checks against the
      // persisted signature store of the other 80% plus itself — old×old
      // pairs never regenerate. md5 family (k=8, 4 bands × 2 rows),
      // est_jaccard ≥ 0.5; maxBucket high so banding is complete and the
      // brute-force band-equality oracle is exact
      val docs = documents(s, dir)
      val isNew = col("doc_id") % 5 === 0
      val oldSigs = graft.dedup.MinHash.md5Signatures(docs.filter(!isNew), k = 8, n = 5)
      val newSigs = graft.dedup.MinHash.md5Signatures(docs.filter(isNew), k = 8, n = 5)
      // k passed explicitly: the store here is an unmaterialized signing
      // plan, and the probe-derived width would cost a full extra
      // signature pass (see incrementalNearDupPairs scaladoc)
      graft.dedup.MinHash.incrementalNearDupPairs(oldSigs, newSigs, bands = 4,
          threshold = 0.5, maxBucket = 1000000, k = 8)
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
    }),
    "q_minhash_sig" -> ((s, dir) => {
      val sig = graft.dedup.MinHash.md5Signatures(documents(s, dir), k = 8, n = 5)
      sig.select(col("doc_id") +: (0 until 8).map(i => col("sig")(i).as(s"h$i")): _*)
    }),
    "q_winnow" -> ((s, dir) =>
      // winnowing fingerprints (MOSS, Schleimer et al. 2003): per-window
      // rightmost-min of md5 k-gram hashes — one narrow per-doc pass, zero
      // exchange; any shared substring of length ≥ w+k−1 = 11 shares a
      // fingerprint (locality spec-checked in WinnowSpec)
      graft.dedup.Winnow.fingerprints(documents(s, dir), k = 8, w = 4)),
    "q_simhash" -> ((s, dir) =>
      // md5 hash family (same statistics as the production xxhash64 family,
      // reproducible in DuckDB); fingerprint rendered as its 64-bit string
      graft.dedup.SimHash.md5Fingerprints(documents(s, dir))
        .select(col("doc_id"),
          graft.dedup.SimHash.toBitString(col("simhash")).as("simhash"))),
    "q_simhash_pairs" -> ((s, dir) =>
      // maxDistance=3 matches the 4-band pigeonhole guarantee exactly, so
      // the banded join is COMPLETE and the brute-force oracle must agree
      graft.dedup.SimHash.md5NearDupPairs(documents(s, dir), maxDistance = 3)),

    // ---- similarity search ----
    "q_ann_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ann.Ann.bruteForceTopK(emb, queries, k = 10)
        .select(col("query_id"), col("vec_id"), col("sim"), col("rank").cast("long").as("rank"))
    }),
    "q_coreset" -> ((s, dir) => {
      // diversity-preserving pruning: 8 Gonzalez k-center representatives
      // (max-spread, not density modes) + the one-pass nearest assignment
      val emb = embeddings(s, dir)
      val cs = graft.ann.Coreset.centers(emb, k = 8)
      graft.ann.Coreset.assign(emb, cs)
    }),
    "q_margin_mine" -> ((s, dir) => {
      // LASER-style margin mining: cosine normalized by both sides' k-NN
      // averages suppresses hub vectors; exact nano-unit arithmetic
      val emb = embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ann.Ann.marginTopK(emb, queries, k = 10, m = 5)
        .select(col("query_id"), col("vec_id"), col("sim"), col("margin"),
          col("rank").cast("long").as("rank"))
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      // rank cast long: DuckDB ROW_NUMBER is BIGINT (the q_ann_topk/
      // q_margin_mine discipline for every oracle-checked rank column)
      graft.ann.Ann.lshTopK(emb, queries, k = 10, planes = 8)
        .select(col("query_id"), col("vec_id"), col("sim"),
          col("rank").cast("long").as("rank"))
    }),
    "q_ann_lsh_recall" -> ((s, dir) => {
      // recorded recall floor for the LSH path: per query, |LSH∩brute|/k
      // computed IN the plan and compared against the floor — the DuckDB
      // oracle asserts every query row comes back with recall_ok=true, so a
      // recall regression turns this row red. Config is scale-parameterized
      // for the 500-vector verify corpus: planes = 4 ≈ log2(N/32), probe
      // radius 2, tables = 3 (the Indyk–Motwani amplification knob — the
      // round-2 ask for a 0.9 floor is met by TABLES, not by widening the
      // probe radius to near-exhaustive). The corpus has weak cosine
      // structure (brute top-10 sims ≈ 0.25–0.4 ⇒ per-plane collision
      // p ≈ 0.6), so per-table capture P₁ = Σ_{r≤2} C(4,r)·p^(4-r)(1-p)^r
      // ≈ 0.82 and 3-table capture 1-(1-P₁)³ ≈ 0.994 — measured 10/10 on
      // every query against brute-force top-10 (tables=1 measured min
      // 0.6, tables=2 min 0.9). FLOOR 0.9. At production scale the same
      // knobs stay sublinear: planes = 20, radius 2, 3 tables probes 633 of
      // 1M buckets per query. Deterministic: hash-seeded plane families,
      // fixed data.
      recallFloor(s, dir, floor = 9, (emb, q) =>
        graft.ann.Ann.lshTopK(emb, q, k = 10, planes = 4, probeRadius = 2,
          tables = 3))
    }),
    "q_ann_ivf_recall" -> ((s, dir) =>
      // same recall-floor scaffold for the IVF coarse-quantizer path
      // (Ivf.ivfTopK): nlist = 16 lists, nprobe = 4 (25% probed) on the
      // 500-vector verify corpus — measured 0.7–1.0 recall per query
      // (nprobe sweep against brute-force top-10; nprobe = 6 still
      // bottoms at 0.7), floor 0.6: IVF has no amplification analog of
      // LSH's tables — recall at fixed nprobe is a property of how the
      // k-means partition cuts the weak-structure corpus, and the
      // production recall knob is nprobe growing with nlist.
      // Deterministic: id-ordered sample, stride init, struct tie-breaks.
      recallFloor(s, dir, floor = 6, (emb, q) =>
        graft.ann.Ivf.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 4))),
    "q_embed_top_pairs" -> ((s, dir) => {
      val pairs = graft.ann.Ann.bruteForceNearDupPairs(embeddings(s, dir), threshold = -2.0)
      pairs.orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(50)
    }),
    "q_semantic_decontaminate" -> ((s, dir) => {
      // embedding-space eval-leakage filter: vec_ids < 25 act as the
      // held-out benchmark (broadcast), the rest as corpus — flagged iff
      // max cosine vs any benchmark vector reaches 0.33 (≈ the top few
      // percent of the verify corpus, so both outcomes are exercised)
      val emb = embeddings(s, dir)
      graft.ann.Ann.semanticContaminated(
        emb.filter(col("vec_id") >= 25),
        emb.filter(col("vec_id") < 25).select(col("embedding").as("b_embedding")),
        threshold = 0.33)
    }),
    "q_kmeans" -> ((s, dir) => {
      // Lloyd k-means over the embedding corpus (k=4, 3 fixed iterations,
      // deterministic lowest-id init); the DuckDB oracle unrolls the exact
      // rounded float path (dist2 @9 with cid tiebreak, centroids @6)
      val m = graft.ann.KMeans.run(embeddings(s, dir), k = 4, iters = 3)
      m.assignments.select(col("vec_id"), col("cid").cast("long").as("cid"), col("dist2"))
    }),
    "q_cluster_sample" -> ((s, dir) => {
      // cluster-balanced curation sample: 25 hash-ranked points per k-means
      // cluster — the anti-mode-collapse sampling move for a training mix
      val m = graft.ann.KMeans.run(embeddings(s, dir), k = 4, iters = 3)
      graft.ann.KMeans.clusterSample(m.assignments, perCluster = 25)
        .select(col("vec_id"), col("cid").cast("long").as("cid"),
          col("rank").cast("long").as("rnk"))
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles. Every expression mirrors the Spark plan exactly —
  // same arithmetic, same aliases, same rounding.
  // ---------------------------------------------------------------------

  private val TOK = "[^ \\t\\n\\r]+"

  private def pagerankSql: String = {
    val init = s"""
      WITH e AS ($SqlEMOD),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      nv AS (SELECT COUNT(*) AS n FROM v),
      dg AS (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
      vd AS (SELECT v.vid, COALESCE(dg.deg, 0) AS deg FROM v LEFT JOIN dg ON v.vid = dg.vid),
      r0 AS (SELECT vid, deg, 1.0 / (SELECT n FROM nv) AS stored FROM vd)"""
    val rounds = (1 to 5).map { k =>
      val divide = if (k < 5) "CASE WHEN t$K.deg > 0 THEN t$K.value / t$K.deg ELSE t$K.value END"
      else "t$K.value"
      s"""
      , t$k AS (
        SELECT vd.vid, vd.deg,
          (1.0 - 0.85) / (SELECT n FROM nv) + 0.85 * COALESCE(s.m, 0.0) AS value
        FROM vd LEFT JOIN (
          SELECT e.dst AS vid, SUM(p.stored) AS m FROM e JOIN r${k - 1} p ON e.src = p.vid GROUP BY e.dst
        ) s ON vd.vid = s.vid)
      , r$k AS (SELECT vid, deg, ${divide.replace("t$K", s"t$k")} AS stored FROM t$k)"""
    }.mkString
    init + rounds + "\n      SELECT vid, ROUND(stored, 6) AS rank FROM r5"
  }

  /** Warm-start PageRank unrolled: 5 reference rounds ([[pagerankSql]]
   * structure) on the 80%-edge snapshot produce the warm vector; then
   * `warmRounds` convergence-mode updates on the full graph — init stored =
   * warm/deg (full-graph out-degree; vertices absent from the snapshot
   * start at 1/V_full), each round value = (1-d)/V + d·Σ stored, stored =
   * value/deg. Mirrors q_pagerank_warm's 5+3 arithmetic exactly. */
  private def pagerankWarmSql(warmRounds: Int): String = {
    val init = s"""
      WITH e AS ($SqlEMOD),
      eo AS (SELECT src, dst FROM e WHERE (src + dst) % 10 < 8),
      vo AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM eo UNION ALL SELECT dst AS vid FROM eo)),
      nvo AS (SELECT COUNT(*) AS n FROM vo),
      dgo AS (SELECT src AS vid, COUNT(*) AS deg FROM eo GROUP BY src),
      vdo AS (SELECT vo.vid, COALESCE(dgo.deg, 0) AS deg FROM vo LEFT JOIN dgo ON vo.vid = dgo.vid),
      s0 AS (SELECT vid, deg, 1.0 / (SELECT n FROM nvo) AS stored FROM vdo)"""
    val warm = (1 to 5).map { k =>
      val divide =
        if (k < 5) s"CASE WHEN u$k.deg > 0 THEN u$k.value / u$k.deg ELSE u$k.value END"
        else s"u$k.value"
      s"""
      , u$k AS (
        SELECT vdo.vid, vdo.deg,
          (1.0 - 0.85) / (SELECT n FROM nvo) + 0.85 * COALESCE(s.m, 0.0) AS value
        FROM vdo LEFT JOIN (
          SELECT eo.dst AS vid, SUM(p.stored) AS m FROM eo JOIN s${k - 1} p ON eo.src = p.vid GROUP BY eo.dst
        ) s ON vdo.vid = s.vid)
      , s$k AS (SELECT vid, deg, $divide AS stored FROM u$k)"""
    }.mkString
    val fullInit = s"""
      , v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      nv AS (SELECT COUNT(*) AS n FROM v),
      dg AS (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
      vd AS (SELECT v.vid, COALESCE(dg.deg, 0) AS deg FROM v LEFT JOIN dg ON v.vid = dg.vid),
      w0 AS (SELECT vd.vid, vd.deg,
        CASE WHEN vd.deg > 0
             THEN COALESCE(s5.stored, 1.0 / (SELECT n FROM nv)) / vd.deg
             ELSE COALESCE(s5.stored, 1.0 / (SELECT n FROM nv)) END AS stored
        FROM vd LEFT JOIN s5 ON vd.vid = s5.vid)"""
    val rounds = (1 to warmRounds).map { k =>
      s"""
      , x$k AS (
        SELECT vd.vid, vd.deg,
          (1.0 - 0.85) / (SELECT n FROM nv) + 0.85 * COALESCE(s.m, 0.0) AS value
        FROM vd LEFT JOIN (
          SELECT e.dst AS vid, SUM(p.stored) AS m FROM e JOIN w${k - 1} p ON e.src = p.vid GROUP BY e.dst
        ) s ON vd.vid = s.vid)
      , w$k AS (SELECT vid, deg,
          CASE WHEN deg > 0 THEN value / deg ELSE value END AS stored, value FROM x$k)"""
    }.mkString
    init + warm + fullInit + rounds +
      s"\n      SELECT vid, ROUND(value, 6) AS rank FROM w$warmRounds"
  }

  /** Katz centrality unrolled: x_k(v) = α·Σ_{u→v}(1 + x_{k-1}(u)), x_0 = 0 —
   * same round-by-round CTE structure as [[pagerankSql]]. */
  private def katzSql(rounds: Int, alpha: Double): String = {
    val init = s"""
      WITH e AS ($SqlEMOD),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      r0 AS (SELECT vid, 0.0 AS katz FROM v)"""
    val body = (1 to rounds).map { k =>
      s"""
      , r$k AS (SELECT v.vid, $alpha * COALESCE(s.m, 0.0) AS katz FROM v LEFT JOIN (
          SELECT e.dst AS vid, SUM(1.0 + p.katz) AS m FROM e JOIN r${k - 1} p ON e.src = p.vid GROUP BY e.dst
        ) s ON v.vid = s.vid)"""
    }.mkString
    init + body + s"\n      SELECT vid, ROUND(katz, 6) AS katz FROM r$rounds"
  }

  /** Personalized PageRank unrolled: restart mass on the `nSeeds` smallest
   * vids, same pre-divided-stored structure as [[pagerankSql]]. */
  private def pprSql(rounds: Int, nSeeds: Int): String = {
    val init = s"""
      WITH e AS ($SqlEMOD),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      sd AS (SELECT vid FROM v ORDER BY vid LIMIT $nSeeds),
      ns AS (SELECT COUNT(*) AS n FROM sd),
      dg AS (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
      vd AS (SELECT v.vid, COALESCE(dg.deg, 0) AS deg,
        CASE WHEN v.vid IN (SELECT vid FROM sd) THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS seed
        FROM v LEFT JOIN dg ON v.vid = dg.vid),
      r0 AS (SELECT vid, deg, seed,
        CASE WHEN deg > 0 THEN seed / deg ELSE seed END AS stored, seed AS value FROM vd)"""
    val body = (1 to rounds).map { k =>
      s"""
      , t$k AS (
        SELECT vd.vid, vd.deg, vd.seed,
          (1.0 - 0.85) * vd.seed + 0.85 * COALESCE(s.m, 0.0) AS value
        FROM vd LEFT JOIN (
          SELECT e.dst AS vid, SUM(p.stored) AS m FROM e JOIN r${k - 1} p ON e.src = p.vid GROUP BY e.dst
        ) s ON vd.vid = s.vid)
      , r$k AS (SELECT vid, deg, seed,
        CASE WHEN deg > 0 THEN value / deg ELSE value END AS stored, value FROM t$k)"""
    }.mkString
    init + body + s"\n      SELECT vid, ROUND(value, 6) AS rank FROM r$rounds"
  }

  /** HITS unrolled: per round, auth from previous hubs, hub from the FRESH
   * auths (textbook sequential update), both L2-normalized. */
  private def eigenSql(rounds: Int): String = {
    val init = s"""
      WITH e AS ($SqlEMOD),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      s0 AS (SELECT vid, 1.0 AS x FROM v)"""
    val body = (1 to rounds).map { k =>
      s"""
      , m$k AS MATERIALIZED (SELECT v.vid, COALESCE(x.m, 0.0) AS m FROM v LEFT JOIN (
          SELECT e.dst AS vid, SUM(p.x) AS m FROM e JOIN s${k - 1} p ON e.src = p.vid GROUP BY e.dst
        ) x ON v.vid = x.vid)
      , s$k AS MATERIALIZED (SELECT vid,
          CASE WHEN (SELECT SQRT(SUM(m * m)) FROM m$k) > 0
            THEN m / (SELECT SQRT(SUM(m * m)) FROM m$k) ELSE 0.0 END AS x
        FROM m$k)"""
    }.mkString
    init + body + s"\n      SELECT vid, ROUND(x, 6) AS eigen FROM s$rounds"
  }

  private def hitsSql(rounds: Int): String = {
    val init = s"""
      WITH e AS ($SqlEMOD),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      s0 AS (SELECT vid, 1.0 AS hub, 1.0 AS auth FROM v)"""
    val body = (1 to rounds).map { k =>
      s"""
      , ar$k AS MATERIALIZED (SELECT v.vid, COALESCE(x.m, 0.0) AS a_raw FROM v LEFT JOIN (
          SELECT e.dst AS vid, SUM(p.hub) AS m FROM e JOIN s${k - 1} p ON e.src = p.vid GROUP BY e.dst
        ) x ON v.vid = x.vid)
      , hr$k AS MATERIALIZED (SELECT v.vid, COALESCE(x.m, 0.0) AS h_raw FROM v LEFT JOIN (
          SELECT e.src AS vid, SUM(a.a_raw) AS m FROM e JOIN ar$k a ON e.dst = a.vid GROUP BY e.src
        ) x ON v.vid = x.vid)
      , s$k AS MATERIALIZED (SELECT hr.vid,
          CASE WHEN (SELECT SQRT(SUM(h_raw * h_raw)) FROM hr$k) > 0
            THEN hr.h_raw / (SELECT SQRT(SUM(h_raw * h_raw)) FROM hr$k) ELSE 0.0 END AS hub,
          CASE WHEN (SELECT SQRT(SUM(a_raw * a_raw)) FROM ar$k) > 0
            THEN ar.a_raw / (SELECT SQRT(SUM(a_raw * a_raw)) FROM ar$k) ELSE 0.0 END AS auth
        FROM hr$k hr JOIN ar$k ar ON hr.vid = ar.vid)"""
    }.mkString
    init + body +
      s"\n      SELECT vid, ROUND(hub, 6) AS hub, ROUND(auth, 6) AS auth FROM s$rounds"
  }

  private def salsaSql(rounds: Int): String = {
    val init = s"""
      WITH e AS ($SqlEMOD),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      od AS (SELECT src AS vid, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY src),
      ind AS (SELECT dst AS vid, CAST(COUNT(*) AS DOUBLE) AS d FROM e GROUP BY dst),
      s0 AS (SELECT vid, CAST(1.0 AS DOUBLE) AS hub, CAST(1.0 AS DOUBLE) AS auth FROM v)"""
    val body = (1 to rounds).map { k =>
      s"""
      , ar$k AS MATERIALIZED (SELECT v.vid, COALESCE(x.m, 0.0) AS a_raw FROM v LEFT JOIN (
          SELECT e.dst AS vid, SUM(p.hub / od.d) AS m FROM e JOIN s${k - 1} p ON e.src = p.vid
          JOIN od ON e.src = od.vid GROUP BY e.dst
        ) x ON v.vid = x.vid)
      , hr$k AS MATERIALIZED (SELECT v.vid, COALESCE(x.m, 0.0) AS h_raw FROM v LEFT JOIN (
          SELECT e.src AS vid, SUM(a.a_raw / ind.d) AS m FROM e JOIN ar$k a ON e.dst = a.vid
          JOIN ind ON e.dst = ind.vid GROUP BY e.src
        ) x ON v.vid = x.vid)
      , s$k AS MATERIALIZED (SELECT hr.vid,
          CASE WHEN (SELECT SUM(h_raw) FROM hr$k) > 0
            THEN hr.h_raw / (SELECT SUM(h_raw) FROM hr$k) ELSE 0.0 END AS hub,
          CASE WHEN (SELECT SUM(a_raw) FROM ar$k) > 0
            THEN ar.a_raw / (SELECT SUM(a_raw) FROM ar$k) ELSE 0.0 END AS auth
        FROM hr$k hr JOIN ar$k ar ON hr.vid = ar.vid)"""
    }.mkString
    init + body +
      s"\n      SELECT vid, ROUND(hub, 6) AS hub, ROUND(auth, 6) AS auth FROM s$rounds"
  }

  private def wccSql: String = s"""
    WITH RECURSIVE e0 AS ($SqlEPS),
    und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
    reach(v, r) AS (
      SELECT src AS v, src AS r FROM und
      UNION
      SELECT und.dst, reach.r FROM reach JOIN und ON reach.v = und.src
    )
    SELECT v AS vid, MIN(r) AS component FROM reach GROUP BY v"""

  /** Unrolled h-operator core decomposition: s0 = degree, then per round the
   * neighbor-value histogram, its per-vertex running count over DISTINCT
   * values desc, and h = max(min(value, #neighbors with value ≥ it)) —
   * exactly the window-free-per-neighbor h-index form of
   * [[graft.alg.Cores.coreness]]. */
  private def corenessSql(rounds: Int): String = {
    val body = (1 to rounds).map { k =>
      s"""
      , m$k AS (SELECT und.src AS vid, s.c AS val FROM und JOIN s${k - 1} s ON und.dst = s.vid),
      h$k AS (SELECT vid, val, SUM(cnt) OVER (PARTITION BY vid ORDER BY val DESC) AS cum
              FROM (SELECT vid, val, COUNT(*) AS cnt FROM m$k GROUP BY vid, val)),
      s$k AS MATERIALIZED (SELECT vid, CAST(MAX(LEAST(cum, val)) AS BIGINT) AS c
                           FROM h$k GROUP BY vid)"""
    }.mkString
    s"""
      WITH e0 AS ($SqlEMOD),
      und AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      s0 AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS c FROM und GROUP BY src)$body
      SELECT vid, c AS coreness FROM s$rounds"""
  }

  /** Shared unigram-LM scoring CTE stack (ends in `d`: doc_id, n_tokens,
   * avg_logprob): the model CTE is the corpus term-frequency table;
   * per-token log-probs in integer nano-units (floor(ln·1e9) — exact
   * BIGINT sums, one final division), mirroring
   * [[TextAnalysis.unigramLogProb]]'s nano discipline. */
  private def lmScoredCtes: String = s"""
    WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TOK')) AS term
                  FROM documents),
    freq AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
    tot AS (SELECT SUM(cnt) AS total FROM freq),
    sc AS (SELECT doc_id, CAST(FLOOR(ln(cnt * 1.0 / total) * 1e9) AS BIGINT) AS lpn
           FROM toks JOIN freq USING (term) CROSS JOIN tot),
    d AS (SELECT doc_id, COUNT(*) AS n_tokens,
                 SUM(lpn) / (COUNT(*) * 1e9) AS avg_logprob FROM sc GROUP BY doc_id)"""

  private def lmScoreSql(headThreshold: Double, middleThreshold: Double): String = s"""
    $lmScoredCtes
    SELECT doc_id, n_tokens, avg_logprob,
      CASE WHEN avg_logprob >= $headThreshold THEN 'head'
           WHEN avg_logprob >= $middleThreshold THEN 'middle'
           ELSE 'tail' END AS ppl_bucket
    FROM d"""

  /** In-plan tercile cuts as nearest-rank order statistics — mirrors
   * [[TextAnalysis.unigramLogProbTerciles]] exact=true: cut k = the k-th
   * smallest rounded-6 avg_logprob (k = n/3 and 2n/3, floor division), so
   * both engines compare identical doubles and no interpolation
   * arithmetic is involved. */
  private def lmTercilesSql: String = s"""
    $lmScoredCtes,
    n AS (SELECT COUNT(*) AS c FROM d),
    ranked AS (SELECT avg_logprob,
                      ROW_NUMBER() OVER (ORDER BY avg_logprob) AS rn FROM d),
    cuts AS (SELECT
      (SELECT avg_logprob FROM ranked WHERE rn = (SELECT c // 3 FROM n)) AS c33,
      (SELECT avg_logprob FROM ranked WHERE rn = (SELECT (2 * c) // 3 FROM n)) AS c67)
    SELECT doc_id, n_tokens, avg_logprob,
      CASE WHEN avg_logprob <= c33 THEN 'tail'
           WHEN avg_logprob <= c67 THEN 'middle'
           ELSE 'head' END AS ppl_bucket
    FROM d CROSS JOIN cuts"""

  /** DSIR importance weights (mirrors `text.Dsir.importanceWeights` at
   * buckets=4096 → 3-hex-char bucket ids, λ=0.5 → λB=2048): hashed
   * unigram+bigram occurrences, one raw + conditional-target model
   * aggregate, per-bucket log-ratio quantized to integer NANO-units (round
   * at 9, ×1e9) so the per-doc sum is an exact integer — order- and
   * engine-independent; logweight = nanos / 1e9, no post-sum rounding. */
  private def dsirSql: String = s"""
    WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
                         regexp_extract_all(lower(text), '$TOK') AS t FROM documents),
    feat AS (SELECT doc_id, tgt, unnest(t) AS f FROM toks
             UNION ALL
             SELECT doc_id, tgt, array_to_string(t[i:i+1], ' ') AS f
             FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 1, 0))) AS u(i)),
    occ AS (SELECT doc_id, tgt, substring(md5(f), 1, 3) AS b FROM feat),
    model AS (SELECT b, COUNT(*) AS cr, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
              FROM occ GROUP BY b),
    tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM model),
    ratio AS (SELECT b, CAST(ROUND(ROUND(LN((ct + 0.5) / (tt + 2048.0))
                                       - LN((cr + 0.5) / (tr + 2048.0)), 9)
                             * 1000000000.0, 0) AS BIGINT) AS ratio_nanos
              FROM model CROSS JOIN tot)
    SELECT occ.doc_id, COUNT(*) AS n_feats,
           CAST(SUM(ratio.ratio_nanos) AS BIGINT) / 1000000000.0 AS logweight
    FROM occ JOIN ratio ON occ.b = ratio.b GROUP BY occ.doc_id"""

  /** C4 cleaning over the arithmetically-synthesized multi-line corpus —
   * the construction (8-token lines, (doc_id+i)%4 terminators, lorem/brace
   * injections) and the line/doc rules mirror q_c4_filter exactly. */
  private def c4FilterSql: String = s"""
    WITH base AS (SELECT doc_id, regexp_extract_all(text, '$TOK') AS toks FROM documents),
    built AS (SELECT doc_id, list_concat(list_concat(
        list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)), i ->
          concat(array_to_string(toks[i*8+1:i*8+8], ' '),
            CASE (doc_id + i) % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
                                  WHEN 2 THEN '' ELSE '?' END)),
        CASE WHEN doc_id % 17 = 0
             THEN ['lorem ipsum dolor sit amet qui minim veniam culpa.']
             ELSE [] END),
        CASE WHEN doc_id % 23 = 0
             THEN ['function f() { return 1; }'] ELSE [] END) AS lines
      FROM base),
    t AS (SELECT doc_id, array_to_string(lines, chr(10)) AS text2 FROM built),
    stats AS (SELECT doc_id,
        len(string_split(text2, chr(10))) AS n_lines,
        list_filter(string_split(text2, chr(10)), x ->
          regexp_matches(rtrim(x), '[.!?"]$$')
          AND len(regexp_extract_all(x, '[^ \\t]+')) >= 5
          AND NOT contains(lower(x), 'javascript')) AS kept,
        contains(lower(text2), 'lorem ipsum') AS has_lorem,
        contains(text2, '{') AS has_brace
      FROM t)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
      CAST(len(kept) AS BIGINT) AS n_kept, has_lorem, has_brace,
      (len(kept) >= 3 AND NOT has_lorem AND NOT has_brace) AS keep,
      -- DuckDB array_to_string([]) is NULL (Spark array_join([]) is '')
      md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
    FROM stats"""

  /** SemDeDup: the q_kmeans assignment chain + within-cluster cosine pairs;
   * drop = a smaller-id near-duplicate exists in the same cluster. */
  private def semDedupSql(k: Int, iters: Int, threshold: Double): String =
    s"""${kmeansCtes(k, iters)},
      asg AS MATERIALIZED (SELECT a.vec_id, a.cid, p.e FROM afinal a JOIN p USING (vec_id)),
      dropped AS (SELECT DISTINCT b.vec_id
        FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 9)
          >= $threshold)
      SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, (d.vec_id IS NULL) AS keep
      FROM asg a LEFT JOIN dropped d ON a.vec_id = d.vec_id"""

  private def componentSizesSql: String = s"""
    WITH RECURSIVE e0 AS ($SqlEPS),
    und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
    reach(v, r) AS (
      SELECT src AS v, src AS r FROM und
      UNION
      SELECT und.dst, reach.r FROM reach JOIN und ON reach.v = und.src
    ),
    comp AS (SELECT v AS vid, MIN(r) AS component FROM reach GROUP BY v)
    SELECT component, COUNT(*) AS n_vertices FROM comp GROUP BY component"""

  private def bfsSql: String = s"""
    WITH RECURSIVE e0 AS ($SqlEPS),
    und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
    walk(v, d) AS (
      SELECT (SELECT MIN(l_partkey) FROM lineitem) AS v, 0 AS d
      UNION
      SELECT und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 15
    )
    SELECT v AS vid, CAST(MIN(d) AS INTEGER) AS cost FROM walk GROUP BY v"""

  private def ssspSql: String = s"""
    WITH RECURSIVE e AS (
      SELECT src, dst, CAST((src + dst) % 7 + 1 AS DOUBLE) AS weight FROM ($SqlEMOD)
    ),
    walk(v, d) AS (
      SELECT (SELECT MIN(src) FROM e) AS v, CAST(0 AS DOUBLE) AS d
      UNION
      SELECT e.dst, walk.d + e.weight FROM walk JOIN e ON walk.v = e.src WHERE walk.d < 40
    )
    SELECT v AS vid, MIN(d) AS dist FROM walk GROUP BY v"""

  private def trianglesSql: String = s"""
    WITH e AS ($SqlEMOD),
    ce AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e),
    verts AS (SELECT DISTINCT x AS vid FROM (SELECT a AS x FROM ce UNION ALL SELECT b AS x FROM ce)),
    tri AS (
      SELECT t1.a AS x, t1.b AS y, t2.b AS z
      FROM ce t1 JOIN ce t2 ON t1.b = t2.a JOIN ce t3 ON t3.a = t1.a AND t3.b = t2.b
    ),
    per AS (SELECT vid, COUNT(*) AS c FROM (
      SELECT x AS vid FROM tri UNION ALL SELECT y AS vid FROM tri UNION ALL SELECT z AS vid FROM tri
    ) GROUP BY vid)
    SELECT verts.vid, COALESCE(per.c, 0) AS tri_count FROM verts LEFT JOIN per ON verts.vid = per.vid"""

  /** Directed triad census oracle — same dyad-code + sorted-triple
   * classification as [[graft.alg.TriangleCount.directedCensus]]
   * (convention in its scaladoc). */
  private def triadCensusSql: String = s"""
    WITH e AS ($SqlEMOD),
    dy AS MATERIALIZED (
      SELECT LEAST(src, dst) AS p, GREATEST(src, dst) AS q,
        BIT_OR(CASE WHEN src < dst THEN 1 ELSE 2 END) AS code
      FROM e GROUP BY 1, 2),
    tri AS (
      SELECT t1.p AS x, t1.q AS y, t2.q AS z
      FROM dy t1 JOIN dy t2 ON t1.q = t2.p JOIN dy t3 ON t3.p = t1.p AND t3.q = t2.q),
    coded AS (
      SELECT a.code AS cxy, b.code AS cxz, c.code AS cyz
      FROM tri JOIN dy a ON a.p = tri.x AND a.q = tri.y
               JOIN dy b ON b.p = tri.x AND b.q = tri.z
               JOIN dy c ON c.p = tri.y AND c.q = tri.z),
    typed AS (
      SELECT CASE
        WHEN (cxy = 3)::INT + (cxz = 3)::INT + (cyz = 3)::INT = 3 THEN '300'
        WHEN (cxy = 3)::INT + (cxz = 3)::INT + (cyz = 3)::INT = 2 THEN '210'
        WHEN (cxy = 3)::INT + (cxz = 3)::INT + (cyz = 3)::INT = 1 THEN
          CASE (CASE WHEN cxy = 3 THEN (cxz = 2)::INT + (cyz = 2)::INT
                     WHEN cxz = 3 THEN (cxy = 2)::INT + (cyz = 1)::INT
                     ELSE (cxy = 1)::INT + (cxz = 1)::INT END)
            WHEN 2 THEN '120D' WHEN 0 THEN '120U' ELSE '120C' END
        WHEN (cxy = 1 AND cxz = 2 AND cyz = 1) OR (cxy = 2 AND cxz = 1 AND cyz = 2)
          THEN '030C'
        ELSE '030T' END AS triad_type
      FROM coded),
    counts AS (SELECT triad_type, COUNT(*) AS n FROM typed GROUP BY 1)
    SELECT t.triad_type, COALESCE(counts.n, 0) AS n
    FROM (VALUES ('030T'), ('030C'), ('120D'), ('120U'), ('120C'), ('210'), ('300'))
      AS t(triad_type)
    LEFT JOIN counts ON t.triad_type = counts.triad_type"""

  private def clusteringSql: String = s"""
    WITH e AS ($SqlEMOD),
    ce AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e),
    verts AS (SELECT DISTINCT x AS vid FROM (SELECT a AS x FROM ce UNION ALL SELECT b AS x FROM ce)),
    dg AS (SELECT vid, COUNT(*) AS deg FROM (SELECT a AS vid FROM ce UNION ALL SELECT b AS vid FROM ce) GROUP BY vid),
    tri AS (
      SELECT t1.a AS x, t1.b AS y, t2.b AS z
      FROM ce t1 JOIN ce t2 ON t1.b = t2.a JOIN ce t3 ON t3.a = t1.a AND t3.b = t2.b
    ),
    per AS (SELECT vid, COUNT(*) AS c FROM (
      SELECT x AS vid FROM tri UNION ALL SELECT y AS vid FROM tri UNION ALL SELECT z AS vid FROM tri
    ) GROUP BY vid)
    SELECT verts.vid,
      ROUND(CASE WHEN dg.deg >= 2 THEN 2.0 * COALESCE(per.c, 0) / (dg.deg * (dg.deg - 1)) ELSE 0.0 END, 6) AS coefficient
    FROM verts LEFT JOIN per ON verts.vid = per.vid JOIN dg ON verts.vid = dg.vid"""

  private def langIdSql: String = {
    // replicate greatest(struct(hits,lang)): max hits, ties -> greatest lang
    val hits = TextAnalysis.LangMarkers.map { case (lang, m) =>
      s"len(regexp_extract_all(lower(text), '\\b$m\\b')) AS h_$lang"
    }.mkString(", ")
    s"""
    WITH h AS (SELECT doc_id, text, $hits FROM documents)
    SELECT doc_id,
      CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'und'
           WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
           WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
           WHEN h_en >= h_de THEN 'en'
           ELSE 'de' END AS lang_pred
    FROM h"""
  }

  private def qualitySql: String = {
    val stop = TextAnalysis.LangMarkers.head._2
    s"""
    SELECT doc_id, ROUND(
      0.4 * (CASE WHEN length(text) >= 50 AND length(text) <= 5000 THEN 1.0
                  WHEN length(text) > 5000 THEN 0.5
                  ELSE CAST(length(text) AS DOUBLE) / 50.0 END)
      + 0.3 * (CASE WHEN length(text) > 0
                    THEN CAST(length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
                    ELSE 0.0 END)
      + 0.2 * (CASE WHEN (CASE WHEN len(regexp_extract_all(text, '$TOK')) > 0
                               THEN CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '$TOK'))
                               ELSE 0.0 END) BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
      + 0.1 * (CASE WHEN len(regexp_extract_all(lower(text), '\\b$stop\\b')) > 0 THEN 1.0 ELSE 0.5 END)
    , 6) AS quality FROM documents"""
  }

  /** End-to-end curation chain: exact-dedup keeper → lang-id = en →
   * quality ≥ 0.7 (the ROUNDED score both engines agree on) → per-source
   * cap-30 by (md5, id) → md5(source)-keyed split → (source, split)
   * accounting. Each CTE reuses the stage's standalone oracle verbatim. */
  private def pipelineSql: String = s"""
    WITH lang AS ($langIdSql),
    qual AS ($qualitySql),
    keep AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM documents GROUP BY 1),
    d0 AS (SELECT d.doc_id, d.source, d.text FROM documents d
           WHERE d.doc_id IN (SELECT keeper FROM keep)),
    d1 AS (SELECT d0.* FROM d0 JOIN lang ON d0.doc_id = lang.doc_id
           WHERE lang.lang_pred = 'en'),
    d2 AS (SELECT d1.* FROM d1 JOIN qual ON d1.doc_id = qual.doc_id
           WHERE qual.quality >= 0.7),
    d3 AS (SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn FROM d2),
    d4 AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '$TOK')) AS BIGINT) AS tokens
           FROM d3 WHERE rn <= 30),
    sp AS (SELECT source,
             CASE WHEN CAST(('0x' || substring(md5(source), 1, 8)) AS BIGINT) < 1073741824
                  THEN 'holdout' ELSE 'train' END AS split, tokens
           FROM d4)
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(tokens) AS BIGINT) AS tokens
    FROM sp GROUP BY source, split"""

  private def minhashSigSql: String = {
    val mins = (0 until 8).map(i => s"MIN(md5('$i' || '|' || sh)) AS h$i").mkString(", ")
    s"""
    WITH norm AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS sh
           FROM norm, UNNEST(generate_series(1, GREATEST(length(t) - 4, 0))) AS u(i)),
    s AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)
    SELECT * FROM s"""
  }

  private def ngramJaccardSql: String = s"""
    WITH norm AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS sh
           FROM norm, UNNEST(generate_series(1, GREATEST(length(t) - 4, 0))) AS u(i)),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT ia AS id_a, ib AS id_b,
      ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5"""

  /** Replay oracle for the LSH top-k path ([[graft.ann.Ann.lshTopK]]):
   * rebuilds the EXACT md5-derived integer plane matrix
   * (Ann.planeComponent: Σ_{j<4} md5_48("plane|p|i|j") mod 100000 −
   * 200000), the BIGINT sign signatures over micro-unit-quantized
   * embeddings, the multi-probe XOR bucket join, and the round-9 cosine
   * rank — every step is integer/md5 arithmetic both engines evaluate
   * identically (the q_neg_sample replay discipline applied to LSH). */
  private def lshTopkSql(planes: Int, radius: Int, tables: Int, k: Int): String = {
    val nPlanes = planes * tables
    val md5int = {
      val md = "md5(concat_ws('|', 'plane', CAST(p.g AS VARCHAR), " +
        "CAST(i.i AS VARCHAR), CAST(j.g AS VARCHAR)))"
      (1 to 12).map { d =>
        s"(strpos('0123456789abcdef', substring($md, $d, 1)) - 1) * ${BigInt(16).pow(12 - d)}"
      }.mkString("(", " + ", ")")
    }
    val maskVals = graft.ann.Ann.probeMasks(planes, radius)
      .map(m => s"($m)").mkString(", ")
    s"""
      WITH xq AS MATERIALIZED (
        SELECT vec_id, CAST(generate_subscripts(e, 1) AS BIGINT) - 1 AS i,
               CAST(FLOOR(unnest(e) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS xn
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)),
      idx AS (SELECT DISTINCT i FROM xq),
      pc AS MATERIALIZED (
        SELECT p.g AS p, i.i AS i, SUM($md5int % 100000) - 200000 AS c
        FROM generate_series(0, ${nPlanes - 1}) p(g)
        CROSS JOIN idx i CROSS JOIN generate_series(0, 3) j(g)
        GROUP BY 1, 2),
      dots AS MATERIALIZED (
        SELECT x.vec_id, pc.p, SUM(x.xn * pc.c) AS dot
        FROM xq x JOIN pc ON pc.i = x.i GROUP BY 1, 2),
      sig AS MATERIALIZED (
        SELECT vec_id, (p // $planes) AS tbl,
               SUM(CASE WHEN dot >= 0
                   THEN (CAST(1 AS BIGINT) << CAST(p % $planes AS INTEGER))
                   ELSE 0 END) AS sig
        FROM dots GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        FROM sig q
        CROSS JOIN (VALUES $maskVals) m(m)
        JOIN sig c ON c.tbl = q.tbl AND c.sig = xor(q.sig, CAST(m.m AS BIGINT))
        WHERE q.vec_id < 5),
      scored AS (
        -- COALESCE(…, 0.0) mirrors Ann.cosine's zero-norm guard: an
        -- all-zero vector scores 0.0, not NaN (0/0), on both engines
        SELECT cand.query_id, cand.vec_id,
          COALESCE(ROUND(
            list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
            NULLIF(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                   sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))), 0.0)
          , 9), 0.0) AS sim
        FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings e ON e.vec_id = cand.vec_id)
      SELECT query_id, vec_id, sim, rank FROM (
        SELECT query_id, vec_id, sim,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        FROM scored) WHERE rank <= $k"""
  }

  private def annTopkSql: String = s"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id,
        ROUND(
          list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
          (sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))) *
           sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
        , 9) AS sim
      FROM q CROSS JOIN embeddings e
    ),
    ranked AS (SELECT query_id, vec_id, sim,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank FROM scored)
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10"""

  private def bfsTreeSql: String = s"""
    WITH RECURSIVE e0 AS ($SqlEPS),
    und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
    walk(v, d) AS (
      SELECT (SELECT MIN(l_partkey) FROM lineitem) AS v, 0 AS d
      UNION
      SELECT und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 15
    ),
    lvl AS (SELECT v, MIN(d) AS d FROM walk GROUP BY v),
    par AS (
      SELECT c.v AS v, MIN(und.src) AS parent
      FROM lvl c JOIN und ON und.dst = c.v JOIN lvl u ON u.v = und.src AND u.d = c.d - 1
      GROUP BY c.v)
    SELECT l.v AS vid, COALESCE(p.parent, l.v) AS parent
    FROM lvl l LEFT JOIN par p ON l.v = p.v"""

  /** Majority-vote LPA unrolled to `iterations` rounds (like pagerankSql):
   * per round, label = most frequent neighbor label, ties → lowest. */
  private def majorityLpaSql(iterations: Int): String = {
    val init = s"""
      WITH e AS (SELECT src, dst FROM ($SqlEMOD) UNION ALL SELECT dst AS src, src AS dst FROM ($SqlEMOD)),
      v AS (SELECT DISTINCT src AS vid FROM e),
      l0 AS (SELECT vid, vid AS label FROM v)"""
    val rounds = (1 to iterations).map { k =>
      s"""
      , votes$k AS (SELECT e.src AS vid, p.label, COUNT(*) AS n
                    FROM e JOIN l${k - 1} p ON e.dst = p.vid GROUP BY e.src, p.label)
      , win$k AS (SELECT vid, MIN(label) AS label FROM (
          SELECT vid, label, n, MAX(n) OVER (PARTITION BY vid) AS mx FROM votes$k)
          WHERE n = mx GROUP BY vid)
      , l$k AS (SELECT v.vid, COALESCE(w.label, p.label) AS label
                FROM v LEFT JOIN win$k w ON v.vid = w.vid JOIN l${k - 1} p ON v.vid = p.vid)"""
    }.mkString
    init + rounds + s"\n      SELECT vid, label FROM l$iterations"
  }

  /** Reference-parity LabelRank unrolled to `iterations` rounds over the
   * undirected eMOD graph (no self-loops by construction): P0[v][v] = 1,
   * P0[v][nbr] = 1/deg(v); Pk[v][l] = Σ_{u∈N(v)} Pk-1[u][l] / deg(v);
   * label = argmax_l with ROUND(p, 12) comparison, ties → lowest l — the SQL
   * mirror of `LabelPropagation.labelRank`'s argmax (the rounding collapses
   * cross-engine summation-order ulp noise on exact structural ties). */
  /** Weighted PageRank over the arithmetic host graph, 5 rounds unrolled —
   * [[pagerankSql]] with weighted out-degree and Σ stored·w mailboxes,
   * string vertex ids. */
  private def hostRankSql: String = {
    val init = """
      WITH l AS (
        SELECT 'src' || CAST(d.doc_id % 20 AS VARCHAR) || '.example.org' AS src_host,
               'src' || CAST(((d.doc_id * 31 + 17 * j.j + 7)
                              % (SELECT COUNT(*) FROM documents)) % 20 AS VARCHAR)
                 || '.example.org' AS dst_host
        FROM documents d, UNNEST([0, 1, 2]) AS j(j)),
      e AS (SELECT src_host AS src, dst_host AS dst, CAST(COUNT(*) AS DOUBLE) AS w
            FROM l WHERE src_host != dst_host GROUP BY 1, 2),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      nv AS (SELECT COUNT(*) AS n FROM v),
      dg AS (SELECT src AS vid, SUM(w) AS wdeg FROM e GROUP BY src),
      vd AS (SELECT v.vid, COALESCE(dg.wdeg, 0.0) AS wdeg FROM v LEFT JOIN dg ON v.vid = dg.vid),
      r0 AS (SELECT vid, wdeg, 1.0 / (SELECT n FROM nv) AS stored FROM vd)"""
    val rounds = (1 to 5).map { k =>
      val divide =
        if (k < 5) s"CASE WHEN t$k.wdeg > 0 THEN t$k.value / t$k.wdeg ELSE t$k.value END"
        else s"t$k.value"
      s"""
      , t$k AS (
        SELECT vd.vid, vd.wdeg,
          (1.0 - 0.85) / (SELECT n FROM nv) + 0.85 * COALESCE(s.m, 0.0) AS value
        FROM vd LEFT JOIN (
          SELECT e.dst AS vid, SUM(p.stored * e.w) AS m
          FROM e JOIN r${k - 1} p ON e.src = p.vid GROUP BY e.dst
        ) s ON vd.vid = s.vid)
      , r$k AS (SELECT vid, wdeg, $divide AS stored FROM t$k)"""
    }.mkString
    init + rounds + "\n      SELECT vid AS host, ROUND(stored, 6) AS rank FROM r5"
  }

  /** Unrolled synchronous Louvain local moves: per round, community
   * totals → neighbor-community weights → rounded ΔQ-proportional score →
   * argmax (score desc, cand asc) → parity-gated update. Mirrors
   * `alg.Louvain.moveRound` term for term (round-9 comparator). */
  private def louvainSql(rounds: Int): String = {
    def one(r: Int): String = s"""
      a$r AS (SELECT s.comm AS cand, SUM(d.deg) AS a
              FROM s$r s JOIN deg d USING (vid) GROUP BY 1),
      ev$r AS (SELECT u.src AS vid, s.comm AS cand, CAST(COUNT(*) AS DOUBLE) AS e
               FROM und u JOIN s$r s ON s.vid = u.dst GROUP BY 1, 2),
      cand$r AS (SELECT vid, cand, SUM(e) AS e FROM (
                   SELECT vid, cand, e FROM ev$r
                   UNION ALL SELECT vid, comm AS cand, 0.0 AS e FROM s$r)
                 GROUP BY 1, 2),
      sc$r AS (SELECT c.vid, c.cand,
                ROUND(c.e - d.deg *
                  (a.a - CASE WHEN c.cand = s.comm THEN d.deg ELSE 0.0 END)
                  / (SELECT twom FROM m), 9) AS score
               FROM cand$r c JOIN s$r s USING (vid) JOIN deg d USING (vid)
                 JOIN a$r a USING (cand)),
      b$r AS (SELECT vid, cand, row_number() OVER (
                PARTITION BY vid ORDER BY score DESC, cand ASC) AS rn
              FROM sc$r),
      s${r + 1} AS (SELECT s.vid,
                CASE WHEN s.vid % 2 = ${r % 2} THEN b.cand ELSE s.comm END AS comm
              FROM s$r s JOIN b$r b ON b.vid = s.vid AND b.rn = 1)"""
    s"""
      WITH e AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
      deg AS (SELECT src AS vid, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY 1),
      m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS twom FROM und),
      s0 AS (SELECT vid, vid AS comm FROM deg),
      ${(0 until rounds).map(one).mkString(",")}
      SELECT vid, comm FROM s$rounds"""
  }

  /** Spinner balanced LPA partitioning unrolled to `rounds` — the SQL
   * mirror of `core.Spinner.partition` (init vid % k; per round: k-row
   * load aggregate, neighbor-partition weights, affinity + linear load
   * penalty rounded to 9 dp, argmax with smallest-cand tiebreak, parity
   * gate). capacity = 1.05 * totalDeg / k with the same left-associative
   * double arithmetic as the Scala driver constant. */
  private def spinnerSql(k: Int, rounds: Int): String = {
    val cap = s"(1.05 * (SELECT t FROM tot) / $k)"
    def one(r: Int): String = s"""
      ld$r AS (SELECT s.part AS cand, SUM(d.deg) AS load
               FROM s$r s JOIN deg d USING (vid) GROUP BY 1),
      ev$r AS (SELECT u.src AS vid, s.part AS cand, CAST(COUNT(*) AS DOUBLE) AS w
               FROM und u JOIN s$r s ON s.vid = u.dst GROUP BY 1, 2),
      cand$r AS (SELECT vid, cand, SUM(w) AS w FROM (
                   SELECT vid, cand, w FROM ev$r
                   UNION ALL SELECT vid, part AS cand, 0.0 AS w FROM s$r)
                 GROUP BY 1, 2),
      sc$r AS (SELECT c.vid, c.cand,
                ROUND(c.w / d.deg + 1.0 * (1.0 - l.load / $cap), 9) AS score
               FROM cand$r c JOIN deg d USING (vid) JOIN ld$r l USING (cand)),
      b$r AS (SELECT vid, cand, row_number() OVER (
                PARTITION BY vid ORDER BY score DESC, cand ASC) AS rn
              FROM sc$r),
      s${r + 1} AS (SELECT s.vid,
                CASE WHEN s.vid % 2 = ${r % 2} THEN b.cand ELSE s.part END AS part
              FROM s$r s JOIN b$r b ON b.vid = s.vid AND b.rn = 1)"""
    s"""
      WITH e AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
      deg AS (SELECT src AS vid, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY 1),
      tot AS (SELECT SUM(deg) AS t FROM deg),
      s0 AS (SELECT vid, vid % $k AS part FROM deg),
      ${(0 until rounds).map(one).mkString(",")}
      SELECT vid, part FROM s$rounds"""
  }

  private def labelRankSql(iterations: Int): String = {
    val init = s"""
      WITH eb AS MATERIALIZED (
        SELECT src, dst FROM ($SqlEMOD) UNION SELECT dst AS src, src AS dst FROM ($SqlEMOD)),
      deg AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM eb GROUP BY src),
      p0 AS MATERIALIZED (
        SELECT e.src AS vid, e.dst AS l, 1.0 / d.deg AS p
        FROM eb e JOIN deg d ON e.src = d.vid
        UNION ALL
        SELECT vid, vid AS l, 1.0 AS p FROM deg)"""
    val rounds = (1 to iterations).map { k =>
      s"""
      , p$k AS MATERIALIZED (
        SELECT e.src AS vid, p.l AS l, SUM(p.p) / MIN(d.deg) AS p
        FROM eb e JOIN p${k - 1} p ON e.dst = p.vid JOIN deg d ON e.src = d.vid
        GROUP BY e.src, p.l)"""
    }.mkString
    init + rounds + s"""
      SELECT vid, l AS label FROM (
        SELECT vid, l, ROW_NUMBER() OVER (
          PARTITION BY vid ORDER BY ROUND(p, 12) DESC, l ASC) AS rn
        FROM p$iterations WHERE p > 0) WHERE rn = 1"""
  }

  /** Top-16-pruned LabelRank unrolled to `iterations` rounds — the SQL
   * mirror of `LabelPropagation.labelRank(pruneTopK = k)`: each round's
   * output distribution is pruned to its k best entries by
   * (ROUND(p, 12) DESC, l ASC) — exactly the Scala prune comparator
   * (`LabelPropagation.scala`, rounded comparator, unrounded carried p) —
   * before feeding the next round; p0 is unpruned (pruning happens inside
   * the superstep aggregate, not at init). The final label is the same
   * ordering's top-1, so the last round needs no prune. */
  private def labelRankPrunedSql(iterations: Int, k: Int): String = {
    val init = s"""
      WITH eb AS MATERIALIZED (
        SELECT src, dst FROM ($SqlEMOD) UNION SELECT dst AS src, src AS dst FROM ($SqlEMOD)),
      deg AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM eb GROUP BY src),
      p0 AS MATERIALIZED (
        SELECT e.src AS vid, e.dst AS l, 1.0 / d.deg AS p
        FROM eb e JOIN deg d ON e.src = d.vid
        UNION ALL
        SELECT vid, vid AS l, 1.0 AS p FROM deg)"""
    val rounds = (1 to iterations).map { r =>
      val prune =
        if (r == iterations) ""
        else s"""
      , p$r AS MATERIALIZED (
        SELECT vid, l, p FROM (
          SELECT vid, l, p, ROW_NUMBER() OVER (
            PARTITION BY vid ORDER BY ROUND(p, 12) DESC, l ASC) AS rn
          FROM r$r) WHERE rn <= $k)"""
      s"""
      , r$r AS MATERIALIZED (
        SELECT e.src AS vid, p.l AS l, SUM(p.p) / MIN(d.deg) AS p
        FROM eb e JOIN p${r - 1} p ON e.dst = p.vid JOIN deg d ON e.src = d.vid
        GROUP BY e.src, p.l)""" + prune
    }.mkString
    init + rounds + s"""
      SELECT vid, l AS label FROM (
        SELECT vid, l, ROW_NUMBER() OVER (
          PARTITION BY vid ORDER BY ROUND(p, 12) DESC, l ASC) AS rn
        FROM r$iterations WHERE p > 0) WHERE rn = 1"""
  }

  /** k-core peeling unrolled to `rounds` (peeling is monotone; a too-small
   * unroll mismatches LOUDLY). MATERIALIZED: DuckDB would otherwise inline
   * each CTE into its 2 consumers — exponential expansion. NOTE: `UNION`
   * inside any CTE of a WITH RECURSIVE query is NOT deduplicated by DuckDB
   * 1.0 — dedup must be an explicit DISTINCT (here there is no RECURSIVE,
   * but the same explicit-DISTINCT form is used for safety). */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val init = s"""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM ($SqlEMOD) UNION ALL SELECT dst AS src, src AS dst FROM ($SqlEMOD)))"""
    val peel = (1 to rounds).map { r =>
      s"""
      , k$r AS MATERIALIZED (SELECT src AS vid FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= $k)
      , e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
          JOIN k$r a ON e.src = a.vid JOIN k$r b ON e.dst = b.vid)"""
    }.mkString
    init + peel + s"\n      SELECT DISTINCT src AS vid FROM e$rounds"
  }

  /** k-truss peeling unrolled to `rounds` (monotone like k-core — a
   * too-small unroll mismatches LOUDLY): per round, per-edge triangle
   * support via the same canonical triple-join as [[trianglesSql]], keep
   * edges with support ≥ k−2. MATERIALIZED for the same
   * exponential-inlining reason as [[kcoreSql]]. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val init = s"""
      WITH e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM ($SqlEMOD))"""
    val peel = (1 to rounds).map { r =>
      val p = r - 1
      s"""
      , tri$r AS MATERIALIZED (
          SELECT t1.a AS x, t1.b AS y, t2.b AS z
          FROM e$p t1 JOIN e$p t2 ON t1.b = t2.a JOIN e$p t3 ON t3.a = t1.a AND t3.b = t2.b)
      , supp$r AS MATERIALIZED (
          SELECT a, b, COUNT(*) AS s FROM (
            SELECT x AS a, y AS b FROM tri$r
            UNION ALL SELECT x AS a, z AS b FROM tri$r
            UNION ALL SELECT y AS a, z AS b FROM tri$r) GROUP BY a, b)
      , e$r AS MATERIALIZED (
          SELECT e.a, e.b FROM e$p e LEFT JOIN supp$r s ON e.a = s.a AND e.b = s.b
          WHERE COALESCE(s.s, 0) >= ${k - 2})"""
    }.mkString
    init + peel + s"\n      SELECT a, b FROM e$rounds"
  }

  /** One unrolled Luby MIS round: active keys scatter to neighbors, strict
   * local minima join the set, their neighbors leave. Mirrors
   * Independent.misRound exactly (same CASE order: frozen > selected >
   * killed). `from` is the incoming state CTE (vid, k, st [, extra]),
   * `to` the produced one; `extra` passes additional state columns through
   * (the coloring variant's color column). */
  private def misRoundSql(from: String, to: String, tag: String,
      extra: String = ""): String = {
    val pass = if (extra.isEmpty) "" else s", s.$extra"
    s"""
      , a$tag AS MATERIALIZED (SELECT vid, k FROM $from WHERE st = 0)
      , nm$tag AS MATERIALIZED (SELECT e.dst AS vid, MIN(a.k) AS mn
          FROM und e JOIN a$tag a ON e.src = a.vid GROUP BY e.dst)
      , sel$tag AS MATERIALIZED (SELECT a.vid FROM a$tag a
          LEFT JOIN nm$tag n ON a.vid = n.vid WHERE n.mn IS NULL OR a.k < n.mn)
      , kl$tag AS MATERIALIZED (SELECT DISTINCT e.dst AS vid
          FROM und e JOIN sel$tag s ON e.src = s.vid)
      , $to AS MATERIALIZED (SELECT s.vid, s.k,
          CASE WHEN s.st <> 0 THEN s.st
               WHEN x.vid IS NOT NULL THEN 1
               WHEN y.vid IS NOT NULL THEN 2
               ELSE 0 END AS st$pass
        FROM $from s LEFT JOIN sel$tag x ON s.vid = x.vid
        LEFT JOIN kl$tag y ON s.vid = y.vid)"""
  }

  /** Luby MIS unrolled to `rounds` on undirected E_MOD. Priority key is the
   * same plain-BIGINT multiplicative hash as Independent.priorityKey —
   * identical arithmetic on both sides. Extra rounds past the fixpoint are
   * no-ops; too few mismatches loudly (leftover st=0 rows). */
  private def misSql(rounds: Int): String = {
    val init = s"""
      WITH und AS MATERIALIZED (SELECT src, dst FROM ($SqlEMOD)
          UNION SELECT dst, src FROM ($SqlEMOD)),
      s0 AS MATERIALIZED (SELECT vid,
          ((vid * 2654435761 + 104729) % 1000000007) * 8589934592 + vid AS k,
          0 AS st
        FROM (SELECT DISTINCT src AS vid FROM und))"""
    val steps = (1 to rounds).map(r =>
      misRoundSql(s"s${r - 1}", s"s$r", s"_$r")).mkString
    init + steps + s"\n      SELECT vid, st = 1 AS in_mis FROM s$rounds"
  }

  /** Iterated-MIS greedy coloring on undirected E_PS, unrolled to `phases`
   * phases of exactly `innerRounds` MIS rounds each (matching the capped
   * Spark variant: rounds after a phase's fixpoint are no-ops, so an
   * unconditional cap equals phaseDone-whichever-first). Phase seal:
   * members take the phase color and freeze (st=3), removed re-activate. */
  private def coloringSql(phases: Int, innerRounds: Int): String = {
    val init = s"""
      WITH und AS MATERIALIZED (SELECT src, dst FROM ($SqlEPS)
          UNION SELECT dst, src FROM ($SqlEPS)),
      p0r0 AS MATERIALIZED (SELECT vid,
          ((vid * 2654435761 + 104729) % 1000000007) * 8589934592 + vid AS k,
          0 AS st, -1 AS color
        FROM (SELECT DISTINCT src AS vid FROM und))"""
    val body = (0 until phases).map { p =>
      val rounds = (1 to innerRounds).map(r =>
        misRoundSql(s"p${p}r${r - 1}", s"p${p}r$r", s"_p${p}_$r",
          extra = "color")).mkString
      rounds + s"""
      , p${p + 1}r0 AS MATERIALIZED (SELECT vid, k,
          CASE WHEN st = 1 OR st = 3 THEN 3 ELSE 0 END AS st,
          CASE WHEN st = 1 THEN $p ELSE color END AS color
        FROM p${p}r$innerRounds)"""
    }.mkString
    init + body +
      s"\n      SELECT vid, CAST(color AS BIGINT) AS color FROM p${phases}r0"
  }

  /** Maximal matching by mutual-minimum rounds over E_MOD, unrolled to
   * `rounds`. Edge key = Matching.edgeKey's plain-BIGINT hash. Per round:
   * per-vertex min live key, mutual minima flip to matched, live edges
   * touching a matched vertex drop out. Output = per-vertex mates view. */
  private def matchingSql(rounds: Int): String = {
    val init = s"""
      WITH verts AS MATERIALIZED (SELECT DISTINCT vid FROM (
          SELECT src AS vid FROM ($SqlEMOD) UNION ALL SELECT dst FROM ($SqlEMOD))),
      m0 AS MATERIALIZED (SELECT a, b,
          ((a * 2654435761 + b * 2097593 + 104729) % 2097143) * 4398046511104
            + a * 2097152 + b AS pk,
          FALSE AS m
        FROM (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
              FROM ($SqlEMOD) WHERE src <> dst))"""
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""
      , vm$r AS MATERIALIZED (SELECT vid, MIN(pk) AS mn FROM (
          SELECT a AS vid, pk FROM m$p WHERE NOT m
          UNION ALL SELECT b AS vid, pk FROM m$p WHERE NOT m) GROUP BY vid)
      , sel$r AS MATERIALIZED (SELECT e.a, e.b FROM m$p e
          JOIN vm$r va ON e.a = va.vid JOIN vm$r vb ON e.b = vb.vid
          WHERE NOT e.m AND e.pk = va.mn AND e.pk = vb.mn)
      , mv$r AS MATERIALIZED (SELECT DISTINCT vid FROM (
          SELECT a AS vid FROM sel$r UNION ALL SELECT b FROM sel$r))
      , m$r AS MATERIALIZED (
          SELECT a, b, pk, m FROM m$p WHERE m
          UNION ALL
          SELECT e.a, e.b, e.pk, s.a IS NOT NULL AS m
          FROM m$p e
          LEFT JOIN sel$r s ON e.a = s.a AND e.b = s.b
          LEFT JOIN mv$r ha ON e.a = ha.vid
          LEFT JOIN mv$r hb ON e.b = hb.vid
          WHERE NOT e.m AND (s.a IS NOT NULL OR (ha.vid IS NULL AND hb.vid IS NULL)))"""
    }.mkString
    init + steps + s"""
      SELECT v.vid, COALESCE(ma.b, mb.a, -1) AS mate
      FROM verts v
      LEFT JOIN (SELECT a, b FROM m$rounds WHERE m) ma ON v.vid = ma.a
      LEFT JOIN (SELECT a, b FROM m$rounds WHERE m) mb ON v.vid = mb.b"""
  }

  /** 2-approx vertex cover oracle: the [[matchingSql]] round chain with a
   * matched-endpoints final view instead of the mates view. */
  private def vertexCoverSql(rounds: Int): String = {
    val full = matchingSql(rounds)
    val base = full.substring(0, full.lastIndexOf("SELECT v.vid"))
    base + s"""SELECT v.vid, (ma.a IS NOT NULL OR mb.b IS NOT NULL) AS in_cover
      FROM verts v
      LEFT JOIN (SELECT a FROM m$rounds WHERE m) ma ON v.vid = ma.a
      LEFT JOIN (SELECT b FROM m$rounds WHERE m) mb ON v.vid = mb.b"""
  }

  /** Boruvka MSF unrolled to `phases` on weighted E_MOD (weight =
   * (7a+13b)%1000, key = Msf.edgeKey's packed BIGINT — identical arithmetic
   * both sides). Per phase: per-component min live key, those edges join
   * the forest, touched components contract to the min label of their
   * selected-edge component (recursive min-reach; the label CHOICE differs
   * from the engine's pointer-doubling roots but the PARTITION — and hence
   * every later phase's selection and the forest — is identical). Extra
   * phases past the fixpoint are no-ops; too few drops forest edges and
   * mismatches loudly. */
  private def msfSql(phases: Int): String = {
    val init = s"""
      WITH RECURSIVE e AS MATERIALIZED (
        SELECT a, b, w, w * 4398046511104 + a * 2097152 + b AS key FROM (
          SELECT a, b, MIN(w) AS w FROM (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   (LEAST(src, dst) * 7 + GREATEST(src, dst) * 13) % 1000 AS w
            FROM ($SqlEMOD)) GROUP BY a, b)),
      v0 AS MATERIALIZED (SELECT vid, vid AS comp FROM (
          SELECT DISTINCT a AS vid FROM e UNION SELECT b FROM e))"""
    val steps = (1 to phases).map { p =>
      val q = p - 1
      s"""
      , live$p AS MATERIALIZED (
          SELECT e.a, e.b, e.w, e.key, va.comp AS ca, vb.comp AS cb
          FROM e JOIN v$q va ON e.a = va.vid JOIN v$q vb ON e.b = vb.vid
          WHERE va.comp <> vb.comp)
      , cmin$p AS MATERIALIZED (SELECT comp, MIN(key) AS mk FROM (
          SELECT ca AS comp, key FROM live$p
          UNION ALL SELECT cb, key FROM live$p) GROUP BY comp)
      , sel$p AS MATERIALIZED (
          SELECT DISTINCT l.a, l.b, l.w, l.ca, l.cb FROM live$p l
          JOIN cmin$p m ON l.key = m.mk AND (l.ca = m.comp OR l.cb = m.comp))
      , cg$p AS (SELECT ca AS c, cb AS d FROM sel$p
          UNION SELECT cb, ca FROM sel$p)
      , reach$p(c, d) AS (SELECT c, d FROM cg$p
          UNION SELECT r.c, g.d FROM reach$p r JOIN cg$p g ON r.d = g.c)
      , lab$p AS MATERIALIZED (SELECT c, LEAST(c, MIN(d)) AS root
          FROM reach$p GROUP BY c)
      , v$p AS MATERIALIZED (SELECT v.vid, COALESCE(l.root, v.comp) AS comp
          FROM v$q v LEFT JOIN lab$p l ON v.comp = l.c)"""
    }.mkString
    val forest = (1 to phases).map(p => s"SELECT a, b, w FROM sel$p")
      .mkString("\n      UNION ALL ")
    init + steps + s"\n      SELECT a, b, CAST(w AS BIGINT) AS w FROM ($forest)"
  }

  /** Near-dup clustering oracle: the q_ngram_jaccard pair CTEs (threshold
   * 0.5), then min-label transitive closure over the pair graph (recursive
   * reach, mirror of [[wccSql]]) and a left join back to the full corpus —
   * singletons cluster to themselves. */
  private def dedupClusterSql: String = s"""
    WITH RECURSIVE norm AS MATERIALIZED (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
    sh AS MATERIALIZED (SELECT DISTINCT doc_id, substring(t, i, 5) AS sh
           FROM norm, UNNEST(generate_series(1, GREATEST(length(t) - 4, 0))) AS u(i)),
    sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pr AS MATERIALIZED (
      SELECT ia AS id_a, ib AS id_b
      FROM inter JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
    und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      SELECT id_a AS src, id_b AS dst FROM pr UNION ALL SELECT id_b AS src, id_a AS dst FROM pr)),
    reach(v, r) AS (
      SELECT src AS v, src AS r FROM und
      UNION
      SELECT und.dst, reach.r FROM reach JOIN und ON reach.v = und.src
    ),
    comp AS (SELECT v, MIN(r) AS c FROM reach GROUP BY v)
    SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS cluster,
      (d.doc_id = COALESCE(comp.c, d.doc_id)) AS is_keeper
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.v"""

  /** Deterministic-walk oracle: step CTEs unrolled; per step the walk moves
   * to the `idx`-th smallest distinct neighbor of its current vertex with
   * `idx = hash48(seed|walk|step) mod deg` — exactly
   * [[graft.alg.RandomWalk.walks]]'s positional lookup. hash48 = the first
   * 12 md5 hex digits parsed per digit (DuckDB has no hex→int cast; the
   * polynomial mirrors Spark's `conv(_,16,10)`). MATERIALIZED: each step
   * feeds both the next step and the final union. */
  private def randomWalkSql(length: Int, seed: Long): String = {
    def hash48(stepExpr: String): String = {
      val md = s"md5(concat_ws('|', CAST($seed AS VARCHAR), CAST(w.walk AS VARCHAR), $stepExpr))"
      (1 to 12).map { j =>
        s"(strpos('0123456789abcdef', substring($md, $j, 1)) - 1) * ${BigInt(16).pow(12 - j)}"
      }.mkString("(", " + ", ")")
    }
    val init = s"""
      WITH e AS MATERIALIZED ($SqlEMOD),
      v AS MATERIALIZED (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      pos AS MATERIALIZED (SELECT src, dst,
        ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
        COUNT(*) OVER (PARTITION BY src) AS deg FROM e),
      w0 AS MATERIALIZED (SELECT vid AS walk, 0 AS step, vid FROM v)"""
    val steps = (1 to length).map { i =>
      s"""
      , w$i AS MATERIALIZED (
          SELECT w.walk, $i AS step, p.dst AS vid
          FROM w${i - 1} w JOIN pos p
            ON w.vid = p.src AND p.rn = ${hash48(s"'$i'")} % p.deg)"""
    }.mkString
    val union = (0 to length).map(i => s"SELECT walk, step, vid FROM w$i").mkString(" UNION ALL ")
    init + steps + s"\n      $union"
  }

  /** Unrolled node2vec oracle — mirrors [[graft.alg.RandomWalk.biasedWalks]]
   * step for step: per-step candidate weights (1/p return, 1 local, 1/q
   * explore — dyadic, so every sum is exact), running weight over neighbors
   * ascending, and the inverse-CDF pick at t = hash48/2^48 · total. */
  private def biasedWalkSql(length: Int, p: Double, q: Double, seed: Long): String = {
    def hash48(alias: String, stepExpr: String): String = {
      val md = s"md5(concat_ws('|', CAST($seed AS VARCHAR), CAST($alias.walk AS VARCHAR), $stepExpr))"
      (1 to 12).map { j =>
        s"(strpos('0123456789abcdef', substring($md, $j, 1)) - 1) * ${BigInt(16).pow(12 - j)}"
      }.mkString("(", " + ", ")")
    }
    val init = s"""
      WITH e AS MATERIALIZED ($SqlEMOD),
      v AS MATERIALIZED (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      w0 AS MATERIALIZED (SELECT vid AS walk, vid AS prev, vid FROM v)"""
    val steps = (1 to length).map { i =>
      s"""
      , c$i AS MATERIALIZED (
          SELECT s.walk, s.vid AS cur, s.prev, e.dst AS nbr,
            CASE WHEN e.dst = s.prev THEN ${1.0 / p}
                 WHEN a.src IS NOT NULL THEN 1.0 ELSE ${1.0 / q} END AS wt
          FROM w${i - 1} s JOIN e ON s.vid = e.src
          LEFT JOIN e a ON a.src = s.prev AND a.dst = e.dst)
      , d$i AS MATERIALIZED (
          SELECT w.walk, w.cur, w.nbr, w.wt,
            SUM(w.wt) OVER (PARTITION BY w.walk ORDER BY w.nbr) AS cum,
            (CAST(${hash48("w", s"'$i'")} AS DOUBLE) / 281474976710656.0) *
              (SUM(w.wt) OVER (PARTITION BY w.walk)) AS t
          FROM c$i w)
      , w$i AS MATERIALIZED (
          SELECT walk, cur AS prev, nbr AS vid FROM d$i
          WHERE cum > t AND cum - wt <= t)"""
    }.mkString
    val union = (0 to length)
      .map(i => s"SELECT walk, $i AS step, vid FROM w$i").mkString(" UNION ALL ")
    init + steps + s"\n      $union"
  }

  /** Gap sessionization oracle (30 min): same millisecond-floor timestamps
   * as the Spark side (`Timestamp.getTime`), LAG-gap break + running sum =
   * session id. */
  private def sessionizeSql: String = """
    WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
    o AS (SELECT user_id, ms, value,
      CASE WHEN LAG(ms) OVER w IS NULL OR ms - LAG(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
    s AS (SELECT user_id, ms, value,
      SUM(brk) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid FROM o)
    SELECT user_id, make_timestamp(MIN(ms) * 1000) AS session_start,
      make_timestamp(MAX(ms) * 1000) AS session_end,
      COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
    FROM s GROUP BY user_id, sid"""

  /** Max-flow closed form for the q_maxflow network, by min-cut: the DAG is
   * source →(cap 3)→ nation →(cap 1)→ its suppliers →(cap 1)→ sink, nations
   * independent, every supplier in exactly one nation ⇒
   * maxflow = Σ_nation min(3, suppliers(nation)). */
  private def maxflowSql: String = """
    SELECT CAST(SUM(LEAST(3, cnt)) AS DOUBLE) AS max_flow
    FROM (SELECT s_nationkey, COUNT(*) AS cnt FROM supplier GROUP BY s_nationkey)"""

  /** Brandes betweenness/stress unrolled: per root, BFS levels via a
   * recursive CTE, sigma per level forward, dependency accumulation per
   * level backward — the SQL mirror of `Centrality.forward`/`backward`.
   * `depth` must exceed the roots' eccentricity (guarded in Verify via the
   * q_apsp_sample distances, same graph + roots). The und table is built
   * with explicit DISTINCT: DuckDB 1.0 does NOT dedup `UNION` inside CTEs
   * under WITH RECURSIVE, and duplicated edges would double sigma. */
  private def brandesSql(stress: Boolean, depth: Int, nRoots: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""
    WITH RECURSIVE und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM ($SqlEMOD) UNION ALL SELECT dst AS src, src AS dst FROM ($SqlEMOD))),
    verts AS MATERIALIZED (SELECT DISTINCT src AS vid FROM und),
    roots AS MATERIALIZED (SELECT src AS r, ROW_NUMBER() OVER (ORDER BY src) AS ri
      FROM (SELECT DISTINCT src FROM ($SqlEMOD) ORDER BY src LIMIT $nRoots))"""
    val scores = Seq.newBuilder[String]
    for (i <- 1 to nRoots) {
      parts += s"""
    , walk$i(v, d) AS (
        SELECT (SELECT r FROM roots WHERE ri = $i), 0
        UNION
        SELECT und.dst, w.d + 1 FROM walk$i w JOIN und ON w.v = und.src WHERE w.d < $depth)
    , lvl$i AS MATERIALIZED (SELECT v, MIN(d) AS d FROM walk$i GROUP BY v)
    , sig${i}_0 AS MATERIALIZED (SELECT v, CAST(1 AS DOUBLE) AS sigma FROM lvl$i WHERE d = 0)"""
      for (l <- 1 to depth) parts += s"""
    , sig${i}_$l AS MATERIALIZED (
        SELECT l.v, SUM(s.sigma) AS sigma
        FROM lvl$i l JOIN und ON und.dst = l.v JOIN sig${i}_${l - 1} s ON s.v = und.src
        WHERE l.d = $l GROUP BY l.v)"""
      parts += s"""
    , del${i}_$depth AS MATERIALIZED (SELECT v, sigma, CAST(0 AS DOUBLE) AS delta FROM sig${i}_$depth)"""
      val expr = if (stress) "s2.sigma * (1 + d.delta / d.sigma)"
      else "(s2.sigma / d.sigma) * (1 + d.delta)"
      for (l <- (depth - 1) to 0 by -1) parts += s"""
    , del${i}_$l AS MATERIALIZED (
        SELECT s.v, s.sigma, COALESCE(c.delta, 0) AS delta FROM sig${i}_$l s LEFT JOIN (
          SELECT s2.v, SUM($expr) AS delta
          FROM sig${i}_$l s2 JOIN und ON und.src = s2.v JOIN del${i}_${l + 1} d ON d.v = und.dst
          GROUP BY s2.v) c ON s.v = c.v)"""
      scores ++= (0 to depth).map(l =>
        s"SELECT v, delta FROM del${i}_$l WHERE v <> (SELECT r FROM roots WHERE ri = $i)")
    }
    val u = scores.result().mkString(" UNION ALL ")
    val (aggExpr, zero, cname) =
      if (stress) ("CAST(ROUND(SUM(score)) AS BIGINT)", "CAST(0 AS BIGINT)", "stress")
      else ("ROUND(SUM(score), 6)", "0.0", "betweenness")
    parts += s"""
    , sc AS (SELECT v AS vid, SUM(delta) AS score FROM ($u) GROUP BY v)
    , agg AS (SELECT vid, $aggExpr AS $cname FROM sc GROUP BY vid)
    SELECT verts.vid, COALESCE(agg.$cname, $zero) AS $cname
    FROM verts LEFT JOIN agg ON verts.vid = agg.vid"""
    parts.result().mkString
  }

  /** Edge-betweenness oracle — the same unrolled Brandes stacks as
   * [[brandesSql]], but emitting each backward level's per-DAG-edge
   * contribution (σ(v)/σ(w) · (1 + δ(w))) before the vertex rollup, summed
   * per directed edge of the symmetrized graph. */
  private def brandesEdgeSql(depth: Int, nRoots: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""
    WITH RECURSIVE und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM ($SqlEMOD) UNION ALL SELECT dst AS src, src AS dst FROM ($SqlEMOD))),
    roots AS MATERIALIZED (SELECT src AS r, ROW_NUMBER() OVER (ORDER BY src) AS ri
      FROM (SELECT DISTINCT src FROM ($SqlEMOD) ORDER BY src LIMIT $nRoots))"""
    val escores = Seq.newBuilder[String]
    for (i <- 1 to nRoots) {
      parts += s"""
    , walk$i(v, d) AS (
        SELECT (SELECT r FROM roots WHERE ri = $i), 0
        UNION
        SELECT und.dst, w.d + 1 FROM walk$i w JOIN und ON w.v = und.src WHERE w.d < $depth)
    , lvl$i AS MATERIALIZED (SELECT v, MIN(d) AS d FROM walk$i GROUP BY v)
    , sig${i}_0 AS MATERIALIZED (SELECT v, CAST(1 AS DOUBLE) AS sigma FROM lvl$i WHERE d = 0)"""
      for (l <- 1 to depth) parts += s"""
    , sig${i}_$l AS MATERIALIZED (
        SELECT l.v, SUM(s.sigma) AS sigma
        FROM lvl$i l JOIN und ON und.dst = l.v JOIN sig${i}_${l - 1} s ON s.v = und.src
        WHERE l.d = $l GROUP BY l.v)"""
      parts += s"""
    , del${i}_$depth AS MATERIALIZED (SELECT v, sigma, CAST(0 AS DOUBLE) AS delta FROM sig${i}_$depth)"""
      for (l <- (depth - 1) to 0 by -1) parts += s"""
    , ec${i}_$l AS MATERIALIZED (
        SELECT s2.v AS esrc, und.dst AS edst,
          (s2.sigma / d.sigma) * (1 + d.delta) AS c
        FROM sig${i}_$l s2 JOIN und ON und.src = s2.v JOIN del${i}_${l + 1} d ON d.v = und.dst)
    , del${i}_$l AS MATERIALIZED (
        SELECT s.v, s.sigma, COALESCE(c.delta, 0) AS delta FROM sig${i}_$l s LEFT JOIN (
          SELECT esrc AS v, SUM(c) AS delta FROM ec${i}_$l GROUP BY esrc) c ON s.v = c.v)"""
      escores ++= ((depth - 1) to 0 by -1).map(l => s"SELECT esrc, edst, c FROM ec${i}_$l")
    }
    val u = escores.result().mkString(" UNION ALL ")
    parts += s"""
    , esc AS (SELECT esrc, edst, SUM(c) AS score FROM ($u) GROUP BY esrc, edst)
    SELECT und.src, und.dst, ROUND(COALESCE(esc.score, 0), 6) AS edge_betweenness
    FROM und LEFT JOIN esc ON und.src = esc.esrc AND und.dst = esc.edst"""
    parts.result().mkString
  }

  // md5-family simhash (SimHash.md5Fingerprints mirror): bit b of a token's
  // hash lives in md5 hex digit (63-b)/4+1 (1-based from the left), bit b%4.
  private def simhashVoteSql: String = {
    val votes = (0 until 64).map { b =>
      val j = (63 - b) / 4 + 1
      val k = b % 4
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substring(hx, $j, 1)) - 1) >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    s"""
    WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TOK')) AS tok FROM documents),
    h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
    v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, concat(${(63 to 0 by -1).map(b => s"CASE WHEN b$b > 0 THEN '1' ELSE '0' END").mkString(", ")}) AS simhash FROM v)"""
  }

  private def simhashSql: String =
    simhashVoteSql + "\n    SELECT doc_id, simhash FROM fp"

  /** Brute-force pair verification (500 docs at verify scale): the banded
   * Spark plan is pigeonhole-COMPLETE for d ≤ 3, so exhaustive and banded
   * must produce identical pair sets. */
  private def simhashPairsSql(maxDistance: Int): String =
    simhashVoteSql + s"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(bit_count(xor(CAST(a.simhash AS BIT), CAST(b.simhash AS BIT))) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(CAST(a.simhash AS BIT), CAST(b.simhash AS BIT))) <= $maxDistance"""

  private def embedTopPairsSql: String = s"""
    WITH scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ROUND(
          list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
          (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
           sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
        , 9) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, sim FROM scored ORDER BY sim DESC, id_a, id_b LIMIT 50"""

  /** Shared unrolled-Lloyd CTE chain: p/x/c0, then per iteration i the
   * assignment a_i (vs c_{i-1}), the rounded centroid update m_i/c_i, and
   * a final assignment `afinal` vs c_iters — the exact float path of
   * [[graft.ann.KMeans.run]] (dist2 rounded @9, cid tiebreak, centroids
   * rounded @6, emptied clusters keep their previous center). */
  /** k-means oracle CTE stack. `pre` prefixes every CTE name and `srcList`
   * is the DuckDB list expression clustered over — the defaults reproduce
   * the plain q_kmeans stack; [[pqSql]] instantiates one prefixed stack per
   * PQ subspace over an `embedding[a:b]` slice. */
  private def kmeansCtes(k: Int, iters: Int, pre: String = "",
                         srcList: String = "embedding"): String = {
    def N(n: String) = pre + n
    def d2(p: String, c: String) =
      s"ROUND(list_dot_product($p.e, $p.e) - 2*list_dot_product($p.e, $c.ctr) + " +
        s"list_dot_product($c.ctr, $c.ctr), 9)"
    def assign(name: String, from: String) = s"""
      $name AS MATERIALIZED (
        SELECT vec_id, cid, dist2 FROM (
          SELECT p.vec_id, c.cid, ${d2("p", "c")} AS dist2,
            ROW_NUMBER() OVER (PARTITION BY p.vec_id
                               ORDER BY ${d2("p", "c")}, c.cid) AS rn
          FROM ${N("p")} p CROSS JOIN $from c) t WHERE rn = 1)"""
    def update(i: Int) = s"""
      ${N(s"m$i")} AS (
        SELECT a.cid, x.pos, ROUND(AVG(x.val), 6) AS v
        FROM ${N(s"a$i")} a JOIN ${N("x")} x USING (vec_id) GROUP BY a.cid, x.pos),
      ${N(s"c$i")} AS MATERIALIZED (
        SELECT c.cid, COALESCE(n.ctr, c.ctr) AS ctr FROM ${N(s"c${i - 1}")} c
        LEFT JOIN (SELECT cid, list(v ORDER BY pos) AS ctr
                   FROM ${N(s"m$i")} GROUP BY cid) n USING (cid))"""
    val rounds = (1 to iters)
      .map(i => assign(N(s"a$i"), N(s"c${i - 1}")) + "," + update(i)).mkString(",")
    s"""
      WITH ${N("p")} AS MATERIALIZED (
        SELECT vec_id, CAST($srcList AS DOUBLE[]) AS e FROM embeddings),
      ${N("x")} AS MATERIALIZED (
        SELECT vec_id, unnest(e) AS val, generate_subscripts(e, 1) AS pos FROM ${N("p")}),
      ${N("c0")} AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ctr
        FROM (SELECT vec_id, e FROM ${N("p")} ORDER BY vec_id LIMIT $k)),
      $rounds,
      ${assign(N("afinal"), N(s"c$iters"))}"""
  }

  /** Product-quantization oracle — one [[kmeansCtes]] stack per subspace
   * over the matching `embedding[a:b]` slice, results unioned with the
   * subspace index. */
  private def pqSql(m: Int, k: Int, iters: Int, dim: Int): String = {
    val sub = dim / m
    val stacks = (0 until m).map { s =>
      val st = kmeansCtes(k, iters, pre = s"s${s}_",
        srcList = s"embedding[${s * sub + 1}:${(s + 1) * sub}]")
      if (s == 0) st else st.replaceFirst("WITH ", "")
    }.mkString(",")
    val union = (0 until m).map(s =>
      s"SELECT $s AS sub, vec_id, CAST(cid AS BIGINT) AS code, dist2 FROM s${s}_afinal")
      .mkString(" UNION ALL ")
    s"$stacks\n      $union"
  }

  private def kmeansSql(k: Int, iters: Int): String =
    s"""${kmeansCtes(k, iters)}
      SELECT vec_id, CAST(cid AS BIGINT) AS cid, dist2 FROM afinal"""

  /** Gonzalez k-center oracle — unrolls [[graft.ann.Coreset.centers]]:
   * round r picks argmax of the min rounded distance to the r−1 chosen
   * centers (ties → min id), then assigns every vector to its nearest
   * center (ties → min center id). */
  private def coresetSql(k: Int): String = {
    def d2(p: String, c: String) =
      s"ROUND(list_dot_product($p.e, $p.e) - 2*list_dot_product($p.e, $c.e) + " +
        s"list_dot_product($c.e, $c.e), 9)"
    val rounds = (2 to k).map { r =>
      s"""
      , md$r AS (SELECT p.vec_id, MIN(${d2("p", "c")}) AS md
                 FROM p CROSS JOIN cents${r - 1} c GROUP BY p.vec_id)
      , pick$r AS MATERIALIZED (SELECT p.vec_id, p.e FROM p JOIN
          (SELECT vec_id FROM md$r ORDER BY md DESC, vec_id LIMIT 1) s USING (vec_id))
      , cents$r AS MATERIALIZED (
          SELECT * FROM cents${r - 1} UNION ALL SELECT * FROM pick$r)"""
    }.mkString
    s"""
      WITH p AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cents1 AS MATERIALIZED (
        SELECT vec_id, e FROM p WHERE vec_id = (SELECT MIN(vec_id) FROM p))
      $rounds
      SELECT vec_id, center_id, dist2 FROM (
        SELECT p.vec_id, c.vec_id AS center_id, ${d2("p", "c")} AS dist2,
          ROW_NUMBER() OVER (PARTITION BY p.vec_id
                             ORDER BY ${d2("p", "c")}, c.vec_id) AS rn
        FROM p CROSS JOIN cents$k c) t WHERE rn = 1"""
  }

  /** k-hop minibatch-sampler oracle — unrolls
   * [[graft.core.Graph.sampleKHop]] hop by hop: each hop is the
   * q_neighbor_sample window rank restricted to the previous hop's
   * frontier. */
  private def khopSql(fanouts: Seq[Int], seedMax: Long): String = {
    val rank = "row_number() OVER (PARTITION BY src " +
      "ORDER BY md5(CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)) ASC, " +
      "CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR) ASC)"
    val init = s"""
      WITH e AS MATERIALIZED ($SqlEMOD),
      f0 AS (SELECT DISTINCT vid FROM
        (SELECT src AS vid FROM e UNION ALL SELECT dst FROM e) WHERE vid < $seedMax)"""
    val hops = fanouts.zipWithIndex.map { case (k, i) =>
      s"""
      , r${i + 1} AS MATERIALIZED (
          SELECT src, dst, $rank AS rn FROM e
          WHERE src IN (SELECT vid FROM f$i))
      , h${i + 1} AS (SELECT ${i + 1} AS hop, src, dst FROM r${i + 1} WHERE rn <= $k)
      , f${i + 1} AS (SELECT DISTINCT dst AS vid FROM h${i + 1})"""
    }.mkString
    val union = fanouts.indices
      .map(i => s"SELECT hop, src, dst FROM h${i + 1}").mkString(" UNION ALL ")
    init + hops + s"\n      $union"
  }

  /** Negative-sampling oracle — replays
   * [[graft.alg.RandomWalk.negativeSamples]]'s integer inverse-CDF with a
   * plain range join (bucketing is execution-only on the Spark side):
   * micro-unit weights from the same pow-then-round expression, a BIGINT
   * running sum in vid order, and `t = hash48 mod Σw` picked into its
   * [hi−w, hi) interval. */
  private def negSampleSql(length: Int, walkSeed: Long, k: Int,
                           power: Double, drawSeed: Long): String = {
    val md = s"md5(concat_ws('|', '$drawSeed', CAST(W.walk AS VARCHAR), " +
      "CAST(W.step AS VARCHAR), CAST(s.g AS VARCHAR)))"
    val h = (1 to 12).map { j =>
      s"(strpos('0123456789abcdef', substring($md, $j, 1)) - 1) * ${BigInt(16).pow(12 - j)}"
    }.mkString("(", " + ", ")")
    s"""
      WITH W AS MATERIALIZED (SELECT * FROM (${randomWalkSql(length, walkSeed)})),
      wt AS MATERIALIZED (
        SELECT vid, CAST(FLOOR(POWER(CAST(COUNT(*) AS DOUBLE), $power)
          * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS w
        FROM W GROUP BY vid),
      cm AS MATERIALIZED (SELECT vid, w, SUM(w) OVER (ORDER BY vid) AS hi FROM wt),
      tot AS (SELECT SUM(w) AS t FROM wt),
      dr AS MATERIALIZED (
        SELECT W.walk, W.step, CAST(s.g AS INTEGER) AS slot, $h % tot.t AS t
        FROM W CROSS JOIN generate_series(1, $k) AS s(g) CROSS JOIN tot)
      SELECT d.walk, d.step, d.slot, c.vid AS neg
      FROM dr d JOIN cm c ON d.t >= c.hi - c.w AND d.t < c.hi"""
  }

  /** Unrolled feature-smoothing oracle — mirrors
   * [[graft.ann.FeatureProp.exploded]] round for round in integer
   * micro-units: the per-round blend is the ONE identical double
   * expression on both engines; everything else is exact integer
   * arithmetic (the neighbor sum is over BIGINTs and the divisor is the
   * per-position contributor COUNT, so accumulation order cannot matter —
   * the same cross-engine discipline as the DSIR nano-unit weights). */
  private def embedSmoothSql(rounds: Int, alpha: Double): String = {
    val a = s"CAST($alpha AS DOUBLE)"
    val oneMinus = s"CAST(${1.0 - alpha} AS DOUBLE)"
    val init = s"""
      WITH und AS MATERIALIZED (
        SELECT src, dst FROM (
          SELECT src, dst FROM ($SqlEMOD)
          UNION SELECT dst AS src, src AS dst FROM ($SqlEMOD))
        WHERE src <> dst
          AND src IN (SELECT vec_id FROM embeddings)
          AND dst IN (SELECT vec_id FROM embeddings)),
      p AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      x0 AS MATERIALIZED (
        SELECT vec_id AS vid, CAST(generate_subscripts(e, 1) AS BIGINT) AS pos,
          CAST(FLOOR(unnest(e) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS uv FROM p)"""
    val steps = (1 to rounds).map { i =>
      s"""
      , m$i AS MATERIALIZED (
          SELECT u.dst AS vid, x.pos, SUM(x.uv) AS s, COUNT(*) AS c
          FROM und u JOIN x${i - 1} x ON u.src = x.vid GROUP BY 1, 2)
      , x$i AS MATERIALIZED (
          SELECT x.vid, x.pos,
            CASE WHEN m.s IS NOT NULL
              THEN CAST(FLOOR($oneMinus * x.uv + $a * (CAST(m.s AS DOUBLE) / m.c) + 0.5) AS BIGINT)
              ELSE x.uv END AS uv
          FROM x${i - 1} x
          LEFT JOIN m$i m ON m.vid = x.vid AND m.pos = x.pos)"""
    }.mkString
    init + steps + s"\n      SELECT vid AS vec_id, pos, uv AS micro FROM x$rounds"
  }

  private def clusterSampleSql(k: Int, iters: Int, perCluster: Int): String =
    s"""${kmeansCtes(k, iters)}
      SELECT vec_id, cid, rnk FROM (
        SELECT vec_id, CAST(cid AS BIGINT) AS cid,
          ROW_NUMBER() OVER (PARTITION BY cid
                             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
        FROM afinal) t WHERE rnk <= $perCluster"""

  def oracleSql: Map[String, String] = Map(
    "q_out_degree" ->
      s"SELECT src AS vid, COUNT(*) AS deg FROM ($SqlEPS) GROUP BY src",
    "q_degree_dist" ->
      s"SELECT deg, COUNT(*) AS n_vertices FROM (SELECT src, COUNT(*) AS deg FROM ($SqlEPS) GROUP BY src) GROUP BY deg",
    "q_summary" -> s"""
      WITH raw AS (SELECT l_orderkey % 500 AS src, l_partkey % 500 AS dst FROM lineitem)
      SELECT
        (SELECT COUNT(*) FROM (SELECT DISTINCT v FROM (SELECT src AS v FROM raw UNION ALL SELECT dst FROM raw))) AS n_vertices,
        (SELECT COUNT(*) FROM raw) AS n_edges,
        (SELECT COUNT(*) FROM raw WHERE src = dst) AS self_loops,
        (SELECT COUNT(*) FROM raw) - (SELECT COUNT(*) FROM (SELECT DISTINCT src, dst FROM raw)) AS duplicate_edges,
        (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM raw GROUP BY src)) AS max_out_degree""",
    "q_undirected_count" -> s"""
      SELECT COUNT(*) AS n_edges FROM (
        SELECT src, dst FROM ($SqlEMOD) UNION SELECT dst AS src, src AS dst FROM ($SqlEMOD))""",
    "q_assortativity" -> s"""
      WITH und AS (SELECT src, dst FROM ($SqlEMOD) UNION SELECT dst AS src, src AS dst FROM ($SqlEMOD)),
      dg AS (SELECT src AS vid, COUNT(*) AS deg FROM und GROUP BY src)
      SELECT ROUND(corr(da.deg, db.deg), 6) AS assortativity
      FROM und JOIN dg da ON und.src = da.vid JOIN dg db ON und.dst = db.vid""",
    "q_rich_club" -> s"""
      WITH e AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
      u2 AS (SELECT src, dst FROM und WHERE src <> dst),
      deg AS (SELECT src AS vid, COUNT(*) AS deg FROM u2 GROUP BY src),
      eh AS (SELECT LEAST(d1.deg, d2.deg) AS m, COUNT(*) AS cnt
             FROM u2 u JOIN deg d1 ON u.src = d1.vid JOIN deg d2 ON u.dst = d2.vid
             WHERE u.src < u.dst GROUP BY 1),
      dh AS (SELECT deg AS d, COUNT(*) AS cnt FROM deg GROUP BY 1),
      ks AS (SELECT range AS k FROM range(0, 17)),
      nk AS (SELECT k, COALESCE(SUM(dh.cnt), 0) AS n_k FROM ks LEFT JOIN dh ON dh.d > ks.k GROUP BY k),
      ek AS (SELECT k, COALESCE(SUM(eh.cnt), 0) AS e_k FROM ks LEFT JOIN eh ON eh.m > ks.k GROUP BY k)
      SELECT nk.k, CAST(nk.n_k AS BIGINT) AS n_k, CAST(ek.e_k AS BIGINT) AS e_k,
        CASE WHEN nk.n_k < 2 THEN 0.0
             ELSE ROUND(2.0 * ek.e_k / (nk.n_k * (nk.n_k - 1)), 6) END AS phi
      FROM nk JOIN ek ON nk.k = ek.k""",
    "q_degree_gini" -> s"""
      WITH e AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
      u2 AS (SELECT src, dst FROM und WHERE src <> dst),
      deg AS (SELECT src AS vid, COUNT(*) AS deg FROM u2 GROUP BY src),
      r AS (SELECT deg, ROW_NUMBER() OVER (ORDER BY deg, vid) AS i FROM deg)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
        ROUND(2.0 * SUM(i * deg) / (COUNT(*) * SUM(deg)) - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
      FROM r""",
    "q_ecc_sample" -> s"""
      WITH RECURSIVE e0 AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      roots AS (SELECT src AS r FROM (SELECT DISTINCT src FROM e0 ORDER BY src LIMIT 3)),
      walk(root, v, d) AS (
        SELECT r, r, 0 FROM roots
        UNION
        SELECT walk.root, und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 15
      ),
      lvl AS (SELECT root, v, MIN(d) AS d FROM walk GROUP BY root, v)
      SELECT root AS vid, CAST(MAX(d) AS INTEGER) AS eccentricity FROM lvl GROUP BY root""",
    // exact neighborhood function N(h) = #{(root, v) : dist <= h} for
    // h = 0..4 over the undirected mod graph; anf_ok mirrors the in-plan
    // relative-error floor of the HyperANF estimate (floor-row pattern)
    "q_anf" -> s"""
      WITH RECURSIVE e0 AS MATERIALIZED ($SqlEMOD),
      und AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      verts AS (SELECT DISTINCT src AS v FROM und),
      walk(root, v, d) AS (
        SELECT v, v, 0 FROM verts
        UNION
        SELECT walk.root, und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 3
      ),
      lvl AS MATERIALIZED (SELECT root, v, MIN(d) AS d FROM walk GROUP BY root, v),
      hs AS (SELECT UNNEST([0, 1, 2, 3]) AS h)
      SELECT CAST(hs.h AS INTEGER) AS h, CAST(COUNT(*) AS BIGINT) AS n_reach, TRUE AS anf_ok
      FROM hs JOIN lvl ON lvl.d <= hs.h GROUP BY hs.h""",
    "q_pagerank" -> pagerankSql,
    "q_pagerank_warm" -> pagerankWarmSql(warmRounds = 3),
    "q_ppr" -> pprSql(rounds = 5, nSeeds = 5),
    "q_spam_mass" -> s"""
      WITH pr AS (${pagerankSql}),
      tr AS (${pprSql(rounds = 5, nSeeds = 5)})
      SELECT pr.vid, pr.rank AS pr, tr.rank AS tr,
             ROUND((pr.rank - tr.rank) / pr.rank, 6) AS spam_mass
      FROM pr JOIN tr ON pr.vid = tr.vid""",
    "q_powerlaw" -> s"""
      WITH e AS ($SqlEPS),
      d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      t AS (SELECT deg FROM d WHERE deg >= 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
             ROUND(1.0 + COUNT(*) / SUM(LN(deg / 1.5)), 6) AS alpha FROM t""",
    "q_hits" -> hitsSql(rounds = 5),
    "q_salsa" -> salsaSql(rounds = 5),
    "q_katz" -> katzSql(rounds = 5, alpha = 0.1),
    "q_scc" -> s"""
      WITH RECURSIVE e AS MATERIALIZED ($SqlESCC),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      reach(a, b) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
      ),
      mutual AS (SELECT r1.a AS v, r1.b AS w FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
      SELECT v.vid, LEAST(v.vid, COALESCE(MIN(m.w), v.vid)) AS scc
      FROM v LEFT JOIN mutual m ON v.vid = m.v
      GROUP BY v.vid""",
    "q_topo_layers" -> s"""
      WITH RECURSIVE e AS MATERIALIZED ($SqlESCC),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      reach(a, b) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
      ),
      mutual AS (SELECT r1.a AS v, r1.b AS w FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
      scc AS MATERIALIZED (SELECT v.vid, LEAST(v.vid, COALESCE(MIN(m.w), v.vid)) AS scc
             FROM v LEFT JOIN mutual m ON v.vid = m.v GROUP BY v.vid),
      cond AS MATERIALIZED (SELECT DISTINCT s1.scc AS a, s2.scc AS b
             FROM e JOIN scc s1 ON e.src = s1.vid JOIN scc s2 ON e.dst = s2.vid
             WHERE s1.scc <> s2.scc),
      lp(c, d) AS (
        SELECT DISTINCT scc, 0 FROM scc
        UNION
        SELECT cd.b, lp.d + 1 FROM lp JOIN cond cd ON lp.c = cd.a
      )
      SELECT c AS scc, CAST(MAX(d) AS BIGINT) AS layer FROM lp GROUP BY c""",
    "q_conductance" -> s"""
      WITH sp AS MATERIALIZED (SELECT * FROM (${spinnerSql(4, 3)}) t),
      e AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
      tagged AS (SELECT p1.part AS ps, p2.part AS pd FROM und u
        JOIN sp p1 ON u.src = p1.vid JOIN sp p2 ON u.dst = p2.vid),
      byp AS (SELECT ps AS part,
               CAST(SUM(CASE WHEN ps <> pd THEN 1 ELSE 0 END) AS BIGINT) AS cut,
               CAST(COUNT(*) AS BIGINT) AS vol FROM tagged GROUP BY 1),
      tot AS (SELECT SUM(vol) AS t FROM byp)
      SELECT part, cut, vol,
        CASE WHEN vol = (SELECT t FROM tot) THEN 0.0
             ELSE ROUND(cut / LEAST(vol, (SELECT t FROM tot) - vol), 6) END AS conductance
      FROM byp""",
    "q_bowtie" -> s"""
      WITH RECURSIVE e AS MATERIALIZED ($SqlESCC),
      v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)),
      reach(a, b) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
      ),
      mutual AS (SELECT r1.a AS v, r1.b AS w FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
      scc AS MATERIALIZED (SELECT v.vid, LEAST(v.vid, COALESCE(MIN(m.w), v.vid)) AS scc
             FROM v LEFT JOIN mutual m ON v.vid = m.v GROUP BY v.vid),
      corev AS MATERIALIZED (SELECT vid FROM scc WHERE scc =
        (SELECT scc FROM scc GROUP BY scc ORDER BY COUNT(*) DESC, scc LIMIT 1)),
      bt_out AS MATERIALIZED (SELECT DISTINCT r.b AS vid FROM reach r JOIN corev c ON r.a = c.vid
        WHERE r.b NOT IN (SELECT vid FROM corev)),
      bt_in AS MATERIALIZED (SELECT DISTINCT r.a AS vid FROM reach r JOIN corev c ON r.b = c.vid
        WHERE r.a NOT IN (SELECT vid FROM corev)),
      remv AS MATERIALIZED (SELECT vid FROM v WHERE vid NOT IN (SELECT vid FROM corev)
        AND vid NOT IN (SELECT vid FROM bt_out) AND vid NOT IN (SELECT vid FROM bt_in)),
      from_in AS (SELECT DISTINCT r.b AS vid FROM reach r JOIN bt_in i ON r.a = i.vid
        WHERE r.b IN (SELECT vid FROM remv)),
      to_out AS (SELECT DISTINCT r.a AS vid FROM reach r JOIN bt_out o ON r.b = o.vid
        WHERE r.a IN (SELECT vid FROM remv)),
      cls AS (SELECT v.vid,
        CASE WHEN v.vid IN (SELECT vid FROM corev) THEN 'CORE'
             WHEN v.vid IN (SELECT vid FROM bt_in) THEN 'IN'
             WHEN v.vid IN (SELECT vid FROM bt_out) THEN 'OUT'
             WHEN v.vid IN (SELECT vid FROM from_in) AND v.vid IN (SELECT vid FROM to_out) THEN 'TUBE'
             WHEN v.vid IN (SELECT vid FROM from_in) OR v.vid IN (SELECT vid FROM to_out) THEN 'TENDRIL'
             ELSE 'DISC' END AS region FROM v)
      SELECT region, CAST(COUNT(*) AS BIGINT) AS n_vertices FROM cls GROUP BY region""",
    "q_adamic_adar" -> s"""
      WITH e AS MATERIALIZED ($SqlEPS),
      canon AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
      nbr AS MATERIALIZED (SELECT a AS w, b AS x FROM canon UNION ALL SELECT b AS w, a AS x FROM canon),
      dg AS (SELECT w, COUNT(*) AS deg FROM nbr GROUP BY w),
      wedge AS (SELECT n1.x AS a, n2.x AS b, n1.w AS w FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w AND n1.x < n2.x),
      nonedge AS (SELECT wd.a, wd.b, wd.w FROM wedge wd LEFT JOIN canon c ON wd.a = c.a AND wd.b = c.b WHERE c.a IS NULL),
      scored AS (SELECT ne.a, ne.b, COUNT(*) AS common_n,
          SUM(CAST(FLOOR(1e6 / LN(dg.deg)) AS BIGINT)) AS aam
        FROM nonedge ne JOIN dg ON ne.w = dg.w GROUP BY ne.a, ne.b)
      SELECT a, b, common_n, aam / 1e6 AS adamic_adar FROM scored
      ORDER BY aam DESC, a, b LIMIT 50""",
    "q_cocitation" -> s"""
      WITH e AS MATERIALIZED ($SqlEMOD),
      cnt AS (SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cocitation
              FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
              GROUP BY e1.dst, e2.dst),
      ind AS (SELECT dst AS v, COUNT(*) AS d FROM e GROUP BY dst)
      SELECT c.a, c.b, c.cocitation,
             CAST(FLOOR(1e9 * c.cocitation / (da.d + db.d - c.cocitation)) AS BIGINT) / 1e9 AS jaccard
      FROM cnt c JOIN ind da ON c.a = da.v JOIN ind db ON c.b = db.v
      ORDER BY c.cocitation DESC, c.a, c.b LIMIT 50""",
    "q_coupling" -> s"""
      WITH e AS MATERIALIZED ($SqlEMOD),
      cnt AS (SELECT e1.src AS a, e2.src AS b, COUNT(*) AS coupling
              FROM e e1 JOIN e e2 ON e1.dst = e2.dst AND e1.src < e2.src
              GROUP BY e1.src, e2.src),
      outd AS (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY src)
      SELECT c.a, c.b, c.coupling,
             CAST(FLOOR(1e9 * c.coupling / (da.d + db.d - c.coupling)) AS BIGINT) / 1e9 AS jaccard
      FROM cnt c JOIN outd da ON c.a = da.v JOIN outd db ON c.b = db.v
      ORDER BY c.coupling DESC, c.a, c.b LIMIT 50""",
    "q_simrank" -> s"""
      WITH e AS MATERIALIZED ($SqlESIM),
      ina AS (SELECT dst AS v, src AS i FROM e),
      deg AS (SELECT v, COUNT(*) AS d FROM ina GROUP BY v),
      cocit AS (SELECT x.v AS a, y.v AS b, COUNT(*) AS cnt
                FROM ina x JOIN ina y ON x.i = y.i AND x.v < y.v GROUP BY 1, 2),
      s1 AS (SELECT a, b, da.d AS da, db.d AS db,
                    CAST(FLOOR(0.8e0 * cnt / (da.d * db.d) * 1e9) AS BIGINT) AS nano
             FROM cocit JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
      top AS (SELECT a, b, da, db, nano FROM s1 ORDER BY nano DESC, a, b LIMIT 2000),
      exp AS (SELECT t.a AS pa, t.b AS pb, ia.i AS i, ib.i AS j FROM top t
              JOIN ina ia ON ia.v = t.a JOIN ina ib ON ib.v = t.b),
      con AS (SELECT pa, pb, CASE WHEN i = j THEN CAST(1000000000 AS BIGINT)
                             ELSE COALESCE(s.nano, 0) END AS cn
              FROM exp LEFT JOIN s1 s ON s.a = LEAST(i, j) AND s.b = GREATEST(i, j)),
      s2 AS (SELECT pa, pb, SUM(cn) AS sumn FROM con GROUP BY pa, pb)
      SELECT t.a, t.b, t.nano AS s1_nano,
             0.8e0 * s2.sumn / (t.da * t.db) / 1e9 AS simrank2
      FROM top t JOIN s2 ON s2.pa = t.a AND s2.pb = t.b
      ORDER BY simrank2 DESC, t.a, t.b LIMIT 50""",
    "q_butterflies" -> s"""
      WITH e AS MATERIALIZED ($SqlEPS),
      nbr AS (SELECT dst AS w, src AS x FROM e),
      pc AS (SELECT n1.x AS a, n2.x AS b, COUNT(*) AS c
             FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w AND n1.x < n2.x
             GROUP BY n1.x, n2.x HAVING COUNT(*) >= 2),
      bf AS (SELECT a, b, (c * (c - 1)) // 2 AS bf FROM pc),
      pv AS (SELECT v, CAST(SUM(bf) AS BIGINT) AS butterflies
             FROM (SELECT a AS v, bf FROM bf UNION ALL SELECT b AS v, bf FROM bf)
             GROUP BY v)
      SELECT l.v AS vid, COALESCE(p.butterflies, 0) AS butterflies
      FROM (SELECT DISTINCT src AS v FROM e) l LEFT JOIN pv p ON l.v = p.v""",
    "q_apsp_sample" -> s"""
      WITH RECURSIVE e0 AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      roots AS (SELECT src AS r FROM (SELECT DISTINCT src FROM e0 ORDER BY src LIMIT 3)),
      walk(root, v, d) AS (
        SELECT r, r, 0 FROM roots
        UNION
        SELECT walk.root, und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 15
      )
      SELECT root, v AS vid, CAST(MIN(d) AS INTEGER) AS dist FROM walk GROUP BY root, v""",
    "q_closeness" -> s"""
      WITH RECURSIVE e0 AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      roots AS (SELECT src AS r FROM (SELECT DISTINCT src FROM e0 ORDER BY src LIMIT 3)),
      walk(root, v, d) AS (
        SELECT r, r, 0 FROM roots
        UNION
        SELECT walk.root, und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 15
      ),
      lvl AS (SELECT root, v, MIN(d) AS d FROM walk GROUP BY root, v)
      SELECT root AS vid, CAST(COUNT(*) - 1 AS DOUBLE) / SUM(d) AS closeness FROM lvl GROUP BY root""",
    "q_wcc" -> wccSql,
    // warm start provably reaches the SAME fixpoint (min vertex id per
    // component) — the cold-start oracle IS the incremental oracle
    "q_wcc_incremental" -> wccSql,
    "q_crawl_diff" -> s"""
      WITH n AS (SELECT src, dst FROM ($SqlEPS) t),
      o AS (SELECT src, dst FROM n WHERE (src + dst) % 10 < 8)
      SELECT COALESCE(o.src, n.src) AS src, COALESCE(o.dst, n.dst) AS dst,
        CASE WHEN o.src IS NULL THEN 'added'
             WHEN n.src IS NULL THEN 'removed'
             ELSE 'kept' END AS status
      FROM o FULL OUTER JOIN n ON o.src = n.src AND o.dst = n.dst""",
    "q_c4_filter" -> c4FilterSql,
    "q_component_sizes" -> componentSizesSql,
    "q_coreness" -> corenessSql(rounds = 3),
    "q_lm_score" -> lmScoreSql(headThreshold = -3.401, middleThreshold = -3.42),
    "q_lm_terciles" -> lmTercilesSql,
    "q_dsir" -> dsirSql,
    // the resample wraps the weights CTE with the deterministic Gumbel draw
    "q_dsir_select" -> s"""
      WITH w AS ($dsirSql),
      g AS (SELECT doc_id, ROUND(logweight - LN(-LN(
              (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               + 0.5) / 4294967296.0)), 6) AS gumbel_key FROM w)
      SELECT doc_id, gumbel_key FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 100""",
    "q_semdedup" -> semDedupSql(k = 4, iters = 3, threshold = 0.3),
    "q_embed_smooth" -> embedSmoothSql(rounds = 2, alpha = 0.5),
    "q_triangles" -> trianglesSql,
    "q_triad_census" -> triadCensusSql,
    "q_clustering_coeff" -> clusteringSql,
    "q_bfs" -> bfsSql,
    "q_diameter" -> s"""
      WITH RECURSIVE e0 AS ($SqlEPS),
      und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      w1(v, d) AS (
        SELECT (SELECT MIN(src) FROM und) AS v, 0 AS d
        UNION
        SELECT und.dst, w1.d + 1 FROM w1 JOIN und ON w1.v = und.src WHERE w1.d < 15),
      d1 AS (SELECT v, MIN(d) AS d FROM w1 GROUP BY v),
      u AS (SELECT v FROM d1 ORDER BY d DESC, v ASC LIMIT 1),
      w2(v, d) AS (
        SELECT (SELECT v FROM u) AS v, 0 AS d
        UNION
        SELECT und.dst, w2.d + 1 FROM w2 JOIN und ON w2.v = und.src WHERE w2.d < 15),
      d2 AS (SELECT v, MIN(d) AS d FROM w2 GROUP BY v)
      SELECT (SELECT v FROM u) AS u, v, CAST(d AS BIGINT) AS diameter_lb
      FROM d2 ORDER BY d DESC, v ASC LIMIT 1""",
    "q_sssp" -> ssspSql,
    // delta-stepping reaches the identical fixpoint — same oracle by design
    "q_sssp_delta" -> ssspSql,
    "q_eigenvector" -> eigenSql(rounds = 5),
    "q_token_stats" -> s"""
      SELECT doc_id, CAST(len(regexp_extract_all(text, '$TOK')) AS BIGINT) AS tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]')) AS BIGINT) AS subwords
      FROM documents""",
    "q_lang_id" -> langIdSql,
    "q_quality" -> qualitySql,
    "q_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM documents",
    "q_dedup_exact" ->
      "SELECT md5(text) AS hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper FROM documents GROUP BY md5(text)",
    // exact substring (8-token-window) dedup: winner = lexicographically
    // smallest (doc_id, start), encoded arithmetically (doc_id*2^20 + s is
    // order-isomorphic to the struct min while s < 2^20, which holds for
    // the verify corpus); a token is removed iff a losing window covers it
    "q_substring_dedup" -> s"""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '$TOK') AS t FROM documents),
      occ AS (SELECT doc_id, i AS s, md5(array_to_string(t[i:i+7], ' ')) AS h
              FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 7, 0))) AS u(i)),
      g AS (SELECT h, COUNT(*) AS c, MIN(doc_id * 1048576 + s) AS wkey FROM occ GROUP BY h),
      losers AS (SELECT o.doc_id, o.s FROM occ o JOIN g ON o.h = g.h
                 WHERE g.c >= 2 AND o.doc_id * 1048576 + o.s <> g.wkey),
      rem AS (SELECT DISTINCT doc_id, s + j AS p
              FROM losers, UNNEST(generate_series(0, 7)) AS v(j)),
      tok AS (SELECT doc_id, i AS p, t[i] AS tok
              FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
      kept AS (SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.p) AS txt,
                      COUNT(*) AS nk
               FROM tok k LEFT JOIN rem r ON r.doc_id = k.doc_id AND r.p = k.p
               WHERE r.p IS NULL GROUP BY k.doc_id)
      SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
             CAST(len(t.t) - COALESCE(k.nk, 0) AS BIGINT) AS n_removed,
             md5(COALESCE(k.txt, '')) AS kept_md5
      FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id""",
    "q_domain_cap" -> """
      SELECT doc_id, source FROM (
        SELECT doc_id, source, row_number() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents) WHERE rn <= 5""",
    "q_hash_sample" ->
      "SELECT doc_id FROM documents WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'",
    // group-keyed split: the threshold compare is on md5(source) — the
    // GROUP's hash, never the row's — 0.25 * 2^32 = 1073741824
    "q_group_split" -> """
      SELECT doc_id, source,
        CASE WHEN CAST(('0x' || substring(md5(source), 1, 8)) AS BIGINT) < 1073741824
             THEN 'holdout' ELSE 'train' END AS split
      FROM documents""",
    "q_pca_cov" -> """
      WITH p AS (SELECT vec_id, embedding AS e FROM embeddings),
      el AS MATERIALIZED (
        SELECT vec_id, CAST(generate_subscripts(e, 1) AS BIGINT) - 1 AS i,
          CAST(FLOOR(CAST(unnest(e) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS u
        FROM p),
      m1 AS (SELECT i, SUM(u) AS s, COUNT(*) AS n FROM el GROUP BY i),
      m2 AS (SELECT a.i AS i, b.i AS j, SUM(a.u * b.u) AS sxy
             FROM el a JOIN el b ON a.vec_id = b.vec_id AND b.i >= a.i
             GROUP BY 1, 2)
      SELECT m2.i, m2.j,
        (CAST(sxy AS DOUBLE) / CAST(si.n AS DOUBLE)
          - (CAST(si.s AS DOUBLE) / CAST(si.n AS DOUBLE))
            * (CAST(sj.s AS DOUBLE) / CAST(si.n AS DOUBLE))) / 1e12 AS cov
      FROM m2 JOIN m1 si ON m2.i = si.i JOIN m1 sj ON m2.j = sj.i""",
    "q_quantize" -> """
      WITH p AS (SELECT vec_id, embedding AS e FROM embeddings),
      el AS MATERIALIZED (
        SELECT vec_id, CAST(generate_subscripts(e, 1) AS BIGINT) - 1 AS i,
          CAST(unnest(e) AS DOUBLE) AS x
        FROM p),
      mm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY i)
      SELECT vec_id, el.i,
        CAST(CASE WHEN mx = mn THEN 0
          ELSE FLOOR((x - mn) / (mx - mn) * 255.0 + 0.5) END AS BIGINT) AS q
      FROM el JOIN mm ON el.i = mm.i""",
    "q_chunk" -> s"""
      WITH t AS (SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$TOK')) AS BIGINT) AS n FROM documents)
      SELECT doc_id, start_tok // 48 AS chunk_id, start_tok,
        LEAST(64, n - start_tok) AS len
      FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1, 48)) AS start_tok
            FROM t WHERE n > 0)""",
    "q_pack" -> s"""
      WITH RECURSIVE d AS MATERIALIZED (
        SELECT doc_id AS id,
          CAST(len(regexp_extract_all(text, '$TOK')) AS BIGINT) AS tokens,
          CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bucket
        FROM documents),
      o AS MATERIALIZED (SELECT id, tokens, bucket,
        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY id) AS rn FROM d),
      rec(bucket, rn, id, bin, s) AS (
        SELECT bucket, rn, id, CAST(0 AS BIGINT), tokens FROM o WHERE rn = 1
        UNION ALL
        SELECT nxt.bucket, nxt.rn, nxt.id,
          CASE WHEN r.s + nxt.tokens > 512 THEN r.bin + 1 ELSE r.bin END,
          CASE WHEN r.s + nxt.tokens > 512 THEN nxt.tokens ELSE r.s + nxt.tokens END
        FROM rec r JOIN o nxt ON nxt.bucket = r.bucket AND nxt.rn = r.rn + 1)
      SELECT id AS doc_id, bucket, bin FROM rec""",
    "q_pipeline" -> pipelineSql,
    "q_top_ngram" -> s"""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '$TOK') AS t FROM documents),
      grams AS (SELECT doc_id, length(array_to_string(t, ' ')) AS joined_len,
                       array_to_string(t[i:i+1], ' ') AS gram
                FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 1, 0))) AS u(i)),
      cnts AS (SELECT doc_id, joined_len, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3),
      top AS (SELECT doc_id, joined_len, gram, cnt, row_number() OVER (
                PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn FROM cnts)
      SELECT doc_id, gram, cnt,
        ROUND(cnt * length(gram) * 1.0 / joined_len, 6) AS char_frac
      FROM top WHERE rn = 1""",
    "q_corpus_ngrams" -> s"""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '$TOK') AS t FROM documents),
      grams AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
                FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS u(i))
      SELECT gram, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
      FROM grams GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 50""",
    "q_entropy" -> """
      WITH cs AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
      cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM cs GROUP BY 1, 2),
      tot AS (SELECT doc_id, SUM(k) AS n FROM cnt GROUP BY 1)
      SELECT cnt.doc_id, ROUND(-SUM((k * 1.0 / n) * log2(k * 1.0 / n)), 6) AS entropy
      FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id GROUP BY cnt.doc_id""",
    "q_bpe_pairs" -> s"""
      WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '$TOK')) AS w FROM documents),
      wf AS (SELECT w, COUNT(*) AS f FROM words GROUP BY w),
      pairs AS (SELECT substr(w, i, 2) AS pair, f
                FROM wf, UNNEST(generate_series(1, length(w) - 1)) AS u(i))
      SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt FROM pairs
      GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 100""",
    "q_bpe_encode" -> """
      WITH words AS (SELECT doc_id,
        unnest(regexp_extract_all(lower(text), '[^ \t\n\r]+')) AS w
        FROM documents),
      enc AS (SELECT doc_id,
        replace(replace(replace(replace(replace(replace(w,
          'th', chr(1)), chr(1) || 'e', chr(2)), 'in', chr(3)),
          'er', chr(4)), 'an', chr(5)), chr(5) || 'd', chr(6)) AS e
        FROM words)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(length(e)) AS BIGINT) AS n_tokens
      FROM enc GROUP BY doc_id""",
    "q_dup_ngrams" -> s"""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '$TOK') AS t FROM documents),
      grams AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
                FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS u(i))
      SELECT doc_id, ROUND(1.0 - COUNT(DISTINCT gram) * 1.0 / COUNT(*), 6) AS dup3_frac,
        COUNT(*) AS n_grams
      FROM grams GROUP BY doc_id""",
    "q_dup_lines" -> """
      WITH ls AS (SELECT doc_id,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                    x -> length(x) > 0) AS l
        FROM documents)
      SELECT doc_id,
        CASE WHEN len(l) > 0
             THEN ROUND(1.0 - len(list_distinct(l)) * 1.0 / len(l), 6)
             ELSE 0.0 END AS dup_line_frac,
        CASE WHEN len(l) > 0 AND list_sum(list_transform(l, x -> length(x))) > 0
             THEN ROUND((list_sum(list_transform(l, x -> length(x)))
                         - list_sum(list_transform(list_distinct(l), x -> length(x)))) * 1.0
                        / list_sum(list_transform(l, x -> length(x))), 6)
             ELSE 0.0 END AS dup_char_frac
      FROM ls""",
    "q_gopher_rules" -> s"""
      WITH stats AS (
        SELECT doc_id,
          CAST(len(t) AS BIGINT) AS n_words,
          CASE WHEN len(t) > 0
               THEN ROUND(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 6)
               ELSE 0.0 END AS mean_word_len,
          CASE WHEN len(t) > 0
               THEN ROUND(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(t), 6)
               ELSE 0.0 END AS alpha_frac,
          CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|that|with)\\b')) AS BIGINT) AS stop_hits
        FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '$TOK') AS t FROM documents))
      SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
        (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
         AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
      FROM stats""",
    "q_host_graph" -> """
      WITH l AS (
        SELECT 'src' || CAST(d.doc_id % 20 AS VARCHAR) || '.example.org' AS src_host,
               'src' || CAST(((d.doc_id * 31 + 17 * j.j + 7)
                              % (SELECT COUNT(*) FROM documents)) % 20 AS VARCHAR)
                 || '.example.org' AS dst_host
        FROM documents d, UNNEST([0, 1, 2]) AS j(j))
      SELECT src_host, dst_host, COUNT(*) AS weight FROM l
      WHERE src_host != dst_host GROUP BY 1, 2""",
    "q_anchor_text" -> """
      WITH l AS (
        SELECT 'https://src' || CAST(((d.doc_id * 31 + 17 * j.j + 7)
                   % (SELECT COUNT(*) FROM documents)) % 20 AS VARCHAR)
               || '.example.org/d/' || CAST((d.doc_id * 31 + 17 * j.j + 7)
                   % (SELECT COUNT(*) FROM documents) AS VARCHAR) AS dst_url,
               'kw' || CAST((d.doc_id + j.j) % 7 AS VARCHAR) AS anchor
        FROM documents d, UNNEST([0, 1, 2]) AS j(j)),
      c AS (SELECT dst_url, anchor, CAST(COUNT(*) AS BIGINT) AS n FROM l GROUP BY 1, 2),
      r AS (SELECT dst_url, anchor, n,
              CAST(row_number() OVER (PARTITION BY dst_url
                ORDER BY n DESC, anchor) AS INTEGER) AS a_rank FROM c)
      SELECT dst_url, anchor, n, a_rank FROM r WHERE a_rank <= 3""",
    "q_contract" -> s"""
      WITH e AS ($SqlEMOD)
      SELECT src % 25 AS src, dst % 25 AS dst, COUNT(*) AS weight
      FROM e WHERE src % 25 != dst % 25 GROUP BY 1, 2""",
    "q_louvain" -> louvainSql(3),
    "q_spinner" -> spinnerSql(4, 3),
    "q_host_rank" -> hostRankSql,
    "q_sample_edges" -> s"""
      WITH e AS ($SqlEMOD)
      SELECT src, dst FROM e
      WHERE CAST(('0x' || substring(md5(CAST(src AS VARCHAR) || '_'
              || CAST(dst AS VARCHAR)), 1, 8)) AS BIGINT)
        < ${(0.3 * 4294967296.0).toLong}""",
    "q_sample_vertices" -> s"""
      WITH e AS ($SqlEMOD)
      SELECT src, dst FROM e
      WHERE CAST(('0x' || substring(md5(CAST(src AS VARCHAR)), 1, 8)) AS BIGINT)
          < ${(0.5 * 4294967296.0).toLong}
        AND CAST(('0x' || substring(md5(CAST(dst AS VARCHAR)), 1, 8)) AS BIGINT)
          < ${(0.5 * 4294967296.0).toLong}""",
    "q_neighbor_sample" -> s"""
      WITH e AS ($SqlEMOD),
      r AS (SELECT src, dst, row_number() OVER (PARTITION BY src
              ORDER BY md5(CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)) ASC,
                       CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR) ASC) AS rn
            FROM e)
      SELECT src, dst FROM r WHERE rn <= 3""",
    "q_stratified_sample" -> """
      SELECT doc_id FROM documents
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        < FLOOR(CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                            WHEN 'src2' THEN 0.25 ELSE 0.1 END * 4294967296.0)""",
    // temperature mixture: rate = round((n_l/n_min)^(tau-1), 6) computed
    // from the corpus; FLOOR matches Spark's truncating double->long cast
    "q_lang_mix" -> """
      WITH c AS (SELECT lang AS mk, COUNT(*) AS n FROM documents GROUP BY lang),
      r AS (SELECT mk, ROUND(POWER(n * 1.0 / (SELECT MIN(n) FROM c), 0.3 - 1.0), 6)
              AS mix_rate FROM c)
      SELECT d.doc_id, d.lang, r.mix_rate
      FROM documents d JOIN r ON d.lang = r.mk
      WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        < FLOOR(r.mix_rate * 4294967296.0)""",
    // A-Res priority sampling: u = (hash position + 1)/2^32, key = u^(1/w),
    // w = LENGTH(text)+1 — identical deterministic draw on both engines
    "q_priority_sample" -> """
      WITH u AS (SELECT doc_id,
        (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
          / 4294967296.0 AS u,
        LENGTH(text) + 1 AS w FROM documents)
      SELECT doc_id FROM (
        SELECT doc_id, POWER(u, 1.0 / w) AS pkey FROM u
        ORDER BY pkey DESC, doc_id ASC LIMIT 100)""",
    "q_shuffle" -> """
      SELECT doc_id, CAST(row_number() OVER (
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS shuffle_pos
      FROM documents""",
    // exact regime (capacity > distinct users): the sketch equals GROUP BY;
    // the (cnt desc, key-string asc) cut order matches the Spark side
    "q_heavy_hitters" -> """
      SELECT CAST(user_id AS VARCHAR) AS user_key, cnt FROM (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
      ORDER BY cnt DESC, CAST(user_id AS VARCHAR) ASC LIMIT 20""",
    "q_pii" -> s"""
      WITH t AS (SELECT doc_id,
        text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex'
          || CAST(doc_id % 7 AS VARCHAR) || '.net call 555-123-'
          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
          || CAST(doc_id % 100 AS VARCHAR)
          || CASE WHEN doc_id % 3 = 0 THEN ' or admin@example.org' ELSE '' END AS x
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(x, '${graft.text.Privacy.EmailPattern}')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(x, '${graft.text.Privacy.Ipv4Pattern}')) AS BIGINT) AS n_ipv4,
        CAST(len(regexp_extract_all(x, '${graft.text.Privacy.PhonePattern}')) AS BIGINT) AS n_phone,
        md5(regexp_replace(regexp_replace(regexp_replace(x,
          '${graft.text.Privacy.EmailPattern}', '<EMAIL>', 'g'),
          '${graft.text.Privacy.Ipv4Pattern}', '<IP>', 'g'),
          '${graft.text.Privacy.PhonePattern}', '<PHONE>', 'g')) AS red_md5
      FROM t""",
    "q_decontaminate" -> s"""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '$TOK') AS t FROM documents),
      grams AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
                FROM toks, UNNEST(generate_series(1, GREATEST(len(t) - 2, 0))) AS u(i)),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
      hits AS (SELECT DISTINCT doc_id FROM grams JOIN bench USING (g))
      SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",
    "q_length_profile" -> s"""
      SELECT source, COUNT(*) AS n_docs,
        ROUND(quantile_cont(CAST(len(regexp_extract_all(text, '$TOK')) AS DOUBLE), 0.5), 6) AS p50,
        ROUND(quantile_cont(CAST(len(regexp_extract_all(text, '$TOK')) AS DOUBLE), 0.9), 6) AS p90,
        ROUND(quantile_cont(CAST(len(regexp_extract_all(text, '$TOK')) AS DOUBLE), 0.99), 6) AS p99
      FROM documents GROUP BY source""",
    "q_blocklist" -> """
      WITH u AS (SELECT doc_id,
        lower(CASE WHEN doc_id % 4 = 0
          THEN 'deep.src' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
          ELSE 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' END) AS host
        FROM documents),
      bl AS (SELECT lower(sfx) AS sfx FROM (VALUES ('src3.example.org'),
        ('src11.example.org'), ('deep.src8.example.org')) v(sfx)),
      parts AS (SELECT doc_id, string_split(host, '.') AS L FROM u),
      sufs AS (SELECT doc_id,
        unnest(list_transform(generate_series(1, len(L)),
          i -> array_to_string(L[i:len(L)], '.'))) AS sfx FROM parts),
      hits AS (SELECT doc_id, max_by(sfx, length(sfx)) AS s
               FROM sufs JOIN bl USING (sfx) GROUP BY doc_id)
      SELECT u.doc_id, u.host, hits.s IS NOT NULL AS blocked,
        hits.s AS block_suffix
      FROM u LEFT JOIN hits ON u.doc_id = hits.doc_id""",
    "q_url_norm" -> """
      SELECT doc_id,
        'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
        || CASE WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ''
                ELSE '/D/' || CAST(doc_id AS VARCHAR) END AS url_norm
      FROM documents""",
    // bounded recursive walk (cap 31 = the 2^5−1 reach of doublings=5;
    // synthesized chains are far shorter): last position per url via
    // arg_max(hops); a last position with an outgoing redirect = cycle →
    // canonical (url, url, -1, false), matching resolveRedirects
    "q_redirect_resolve" -> """
      WITH RECURSIVE
      urls AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS url FROM documents),
      r0 AS (
        SELECT 'u' || CAST(doc_id AS VARCHAR) AS u,
               'u' || CAST(doc_id + 1 AS VARCHAR) AS v
        FROM documents WHERE doc_id % 4 < 3
        UNION ALL SELECT 'u3', 'u7' UNION ALL SELECT 'u7', 'u3'),
      nxt AS (SELECT u, MIN(v) AS v FROM r0 GROUP BY u),
      walk(url, cur, hops) AS (
        SELECT url, url, 0 FROM urls
        UNION ALL
        SELECT w.url, n.v, w.hops + 1
        FROM walk w JOIN nxt n ON w.cur = n.u WHERE w.hops < 31),
      last AS (SELECT url, ARG_MAX(cur, hops) AS cur, MAX(hops) AS hops
               FROM walk GROUP BY url)
      SELECT l.url,
        CASE WHEN n.u IS NULL THEN l.cur ELSE l.url END AS final_url,
        CAST(CASE WHEN n.u IS NULL THEN l.hops ELSE -1 END AS BIGINT) AS hops,
        n.u IS NULL AS resolved
      FROM last l LEFT JOIN nxt n ON l.cur = n.u""",
    "q_latest_snapshot" -> """
      WITH pages AS (SELECT doc_id, doc_id % 100 AS mm,
                            (doc_id * 13) % 500 AS warc_ts FROM documents),
      r AS (SELECT 'https://src' || CAST(mm % 20 AS VARCHAR)
              || '.example.org/d/' || CAST(mm AS VARCHAR) AS url_norm,
            doc_id, warc_ts, row_number() OVER (
              PARTITION BY mm ORDER BY warc_ts DESC, doc_id DESC) AS rn
            FROM pages)
      SELECT url_norm, doc_id, warc_ts FROM r WHERE rn = 1""",
    "q_dedup_paragraphs" -> """
      WITH pj AS (
        SELECT d.doc_id, j.j AS pos, trim(p.text) AS para
        FROM documents d
        CROSS JOIN UNNEST([0, 1, 2]) AS j(j)
        JOIN documents p ON p.doc_id = (d.doc_id * 7 + j.j) % 150
        WHERE length(trim(p.text)) > 0),
      keep AS (SELECT doc_id, pos, para, row_number() OVER (
                 PARTITION BY para ORDER BY doc_id, pos) AS rn FROM pj),
      reb AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS t,
                     COUNT(*) AS n
              FROM keep WHERE rn = 1 GROUP BY doc_id)
      SELECT d.doc_id, md5(COALESCE(r.t, '')) AS kept_md5,
             CAST(COALESCE(r.n, 0) AS BIGINT) AS n_kept
      FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id""",
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_minhash_sig" -> minhashSigSql,
    "q_winnow" -> """
      WITH norm AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
                    FROM documents),
      g AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS p, md5(substring(t, i, 8)) AS h
        FROM norm, UNNEST(generate_series(1, GREATEST(length(t) - 7, 0))) AS u(i)),
      sz AS (SELECT doc_id, COUNT(*) AS m FROM g GROUP BY doc_id),
      wins AS (SELECT doc_id, CAST(j AS BIGINT) AS j
               FROM sz, UNNEST(generate_series(1, GREATEST(m - 3, 1))) AS u(j)),
      wm AS (SELECT w.doc_id, w.j, MIN(g.h) AS mh
             FROM wins w JOIN g ON g.doc_id = w.doc_id AND g.p BETWEEN w.j AND w.j + 3
             GROUP BY 1, 2),
      sel AS (SELECT wm.doc_id, MAX(g.p) AS pos, wm.mh AS fp
              FROM wm JOIN g ON g.doc_id = wm.doc_id AND g.h = wm.mh
                            AND g.p BETWEEN wm.j AND wm.j + 3
              GROUP BY wm.doc_id, wm.j, wm.mh)
      SELECT DISTINCT doc_id, pos, fp FROM sel""",
    "q_dedup_incremental" -> {
      val eq = (0 until 8).map(i => s"(n.h$i = o.h$i)")
      val bandHit = (0 until 4).map(b =>
        s"(${eq(2 * b)} AND ${eq(2 * b + 1)})").mkString(" OR ")
      val est = eq.map(e => s"$e::INT").mkString("(", " + ", ") / 8.0")
      val mins = (0 until 8).map(i => s"MIN(md5('$i' || '|' || sh)) AS h$i").mkString(", ")
      s"""
      WITH norm AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, substring(t, i, 5) AS sh
             FROM norm, UNNEST(generate_series(1, GREATEST(length(t) - 4, 0))) AS u(i)),
      s AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
      news AS (SELECT * FROM s WHERE doc_id % 5 = 0)
      SELECT n.doc_id AS id_a, o.doc_id AS id_b, ROUND($est, 6) AS est_jaccard
      FROM news n JOIN s o
        ON n.doc_id <> o.doc_id AND (o.doc_id % 5 <> 0 OR n.doc_id < o.doc_id)
      WHERE ($bandHit) AND $est >= 0.5"""
    },
    "q_ann_topk" -> annTopkSql,
    "q_margin_mine" -> """
      WITH c AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, c.vec_id,
          CAST(FLOOR(
            list_dot_product(q.qe, c.e) /
            (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e)))
            * 1e9 + 0.5) AS BIGINT) AS sim_n
        FROM q CROSS JOIN c WHERE c.vec_id <> q.query_id),
      top AS MATERIALIZED (SELECT * FROM (
        SELECT query_id, vec_id, sim_n,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_n DESC, vec_id) AS rk
        FROM scored) WHERE rk <= 10),
      qsumt AS (SELECT query_id, SUM(sim_n) AS qsum FROM top GROUP BY query_id),
      cand AS (SELECT DISTINCT vec_id FROM top),
      cscored AS (
        SELECT a.vec_id AS cid, b.vec_id, CAST(FLOOR(
            list_dot_product(a.e, b.e) /
            (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
            * 1e9 + 0.5) AS BIGINT) AS sim_n
        FROM (SELECT c.* FROM c JOIN cand USING (vec_id)) a
        CROSS JOIN c b WHERE b.vec_id <> a.vec_id),
      ctop AS (SELECT * FROM (
        SELECT cid, sim_n,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sim_n DESC, vec_id) AS rk
        FROM cscored) WHERE rk <= 10),
      csumt AS (SELECT cid, SUM(sim_n) AS csum FROM ctop GROUP BY cid),
      margins AS (
        SELECT t.query_id, t.vec_id,
          ROUND(CAST(t.sim_n AS DOUBLE) / 1e9, 9) AS sim,
          CASE WHEN qsum + csum > 0
            THEN ROUND(CAST(t.sim_n AS DOUBLE) * 20.0 / CAST(qsum + csum AS DOUBLE), 6)
            ELSE 0.0 END AS margin
        FROM top t JOIN qsumt USING (query_id) JOIN csumt ON csumt.cid = t.vec_id)
      SELECT query_id, vec_id, sim, margin, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY margin DESC, vec_id) AS rank
        FROM margins) WHERE rank <= 5""",
    "q_embed_top_pairs" -> embedTopPairsSql,
    "q_kmeans" -> kmeansSql(k = 4, iters = 3),
    "q_pq" -> pqSql(m = 4, k = 8, iters = 2, dim = 64),
    "q_coreset" -> coresetSql(k = 8),
    "q_cluster_sample" -> clusterSampleSql(k = 4, iters = 3, perCluster = 25),
    "q_reciprocity" -> s"""
      WITH e AS (SELECT src, dst FROM ($SqlEMOD) t),
      r AS (SELECT e.src, e.dst, CASE WHEN x.src IS NOT NULL THEN 1 ELSE 0 END AS rec
            FROM e LEFT JOIN e x ON e.src = x.dst AND e.dst = x.src)
      SELECT COUNT(*) AS edges, CAST(SUM(rec) AS BIGINT) AS reciprocated,
             ROUND(SUM(rec) * 1.0 / COUNT(*), 6) AS reciprocity FROM r""",
    "q_tfidf" -> s"""
      WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TOK')) AS term
                    FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (SELECT tf.doc_id, tf.term,
          tf.tf * CAST(FLOOR((ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) * 1e6) AS BIGINT) AS tfm
        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      ranked AS (SELECT doc_id, term, tfm / 1e6 AS tfidf,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfm DESC, term) AS rnk
        FROM scored)
      SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 5""",
    "q_semantic_decontaminate" -> """
      WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv FROM embeddings WHERE vec_id < 25),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id >= 25),
      hit AS (SELECT DISTINCT c.vec_id FROM c CROSS JOIN b
        WHERE ROUND(list_dot_product(c.cv, b.bv) /
          (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(b.bv, b.bv))), 9) >= 0.33)
      SELECT c.vec_id, (hit.vec_id IS NOT NULL) AS contaminated
      FROM c LEFT JOIN hit ON c.vec_id = hit.vec_id""",
    "q_bfs_tree" -> bfsTreeSql,
    "q_majority_lpa" -> majorityLpaSql(iterations = 5),
    "q_label_prop" -> labelRankSql(iterations = 4),
    "q_label_prop_pruned" -> labelRankPrunedSql(iterations = 4, k = 16),
    // full-convergence pruned LPA, pinned to its recorded verify-scale
    // convergence depth (8 supersteps: labels stabilize by round 3, the
    // 5-stable counter fires at 8); the query emits the LIVE superstep
    // count so depth drift reads as a hash mismatch (red), never as a
    // silent divergence
    "q_label_prop_pruned_full" -> s"""
      SELECT vid, label, CAST(8 AS BIGINT) AS supersteps
      FROM (${labelRankPrunedSql(iterations = 8, k = 16)})""",
    "q_ann_lsh" -> lshTopkSql(planes = 8, radius = 1, tables = 1, k = 10),
    "q_ann_lsh_recall" ->
      "SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5",
    "q_ann_ivf_recall" ->
      "SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5",
    "q_kcore" -> kcoreSql(k = 8, rounds = 12),
    "q_ktruss" -> ktrussSql(k = 50, rounds = 6),
    "q_mis" -> misSql(rounds = 6),
    "q_coloring" -> coloringSql(phases = 3, innerRounds = 3),
    "q_matching" -> matchingSql(rounds = 24),
    "q_vertex_cover" -> vertexCoverSql(rounds = 24),
    "q_msf" -> msfSql(phases = 6),
    "q_link_predict" -> s"""
      WITH e AS MATERIALIZED ($SqlEPS),
      canon AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
      nbr AS MATERIALIZED (SELECT a AS w, b AS x FROM canon UNION ALL SELECT b AS w, a AS x FROM canon),
      dg AS (SELECT w, COUNT(*) AS deg FROM nbr GROUP BY w),
      piv AS MATERIALIZED (SELECT n.w, n.x, d.deg FROM nbr n JOIN dg d ON n.w = d.w AND d.deg <= 100),
      wedge AS (SELECT n1.x AS a, n2.x AS b, n1.deg FROM piv n1 JOIN piv n2 ON n1.w = n2.w AND n1.x < n2.x),
      nonedge AS (SELECT wd.a, wd.b, wd.deg FROM wedge wd LEFT JOIN canon c ON wd.a = c.a AND wd.b = c.b WHERE c.a IS NULL),
      scored AS (SELECT ne.a, ne.b, COUNT(*) AS common_n,
          SUM(CAST(FLOOR(1e6 / LN(ne.deg)) AS BIGINT)) AS aam,
          SUM(CAST(FLOOR(1e9 / ne.deg) AS BIGINT)) AS ran
        FROM nonedge ne GROUP BY ne.a, ne.b)
      SELECT s.a, s.b, s.common_n,
        CAST(FLOOR(1e9 * s.common_n / (da.deg + db.deg - s.common_n)) AS BIGINT) / 1e9 AS jaccard,
        s.aam / 1e6 AS adamic_adar, s.ran / 1e9 AS resource_alloc,
        da.deg * db.deg AS pref_attach
      FROM scored s JOIN dg da ON s.a = da.w JOIN dg db ON s.b = db.w
      ORDER BY CAST(FLOOR(1e9 * s.common_n / (da.deg + db.deg - s.common_n)) AS BIGINT) DESC, s.a, s.b
      LIMIT 50""",
    "q_random_walk" -> randomWalkSql(length = 8, seed = 42L),
    "q_node2vec" -> biasedWalkSql(length = 6, p = 2.0, q = 0.5, seed = 42L),
    // pair census = walk self-join within the window; the Spark side's
    // positional array expansion must aggregate to the same counts
    "q_walk_pairs" -> s"""
      WITH W AS MATERIALIZED (SELECT * FROM (${randomWalkSql(length = 8, seed = 42L)}))
      SELECT a.vid AS center, b.vid AS context, CAST(COUNT(*) AS BIGINT) AS pairs
      FROM W a JOIN W b
        ON a.walk = b.walk AND a.step <> b.step AND ABS(a.step - b.step) <= 3
      GROUP BY 1, 2""",
    // the draw is exact integer arithmetic after the one pow-then-round
    // weight quantization; the bucketed interval join is execution-only,
    // so the oracle picks with a plain range join over the same table
    "q_neg_sample" -> negSampleSql(length = 8, walkSeed = 42L, k = 2,
      power = 0.75, drawSeed = 7L),
    "q_khop_sample" -> khopSql(fanouts = Seq(3, 2), seedMax = 50L),
    "q_event_sliding" -> """
      WITH ex AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w, event_type, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS w,
          event_type, value FROM events)
      SELECT w AS window_start, event_type, COUNT(*) AS n_events,
        ROUND(SUM(value), 6) AS total_value
      FROM ex GROUP BY 1, 2""",
    "q_event_windows" -> """
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
        COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
      FROM events GROUP BY 1, 2""",
    "q_sessionize" -> sessionizeSql,
    "q_interval_join" -> """
      SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
      FROM events c JOIN events v ON c.user_id = v.user_id
      WHERE c.event_type = 'click' AND v.event_type = 'view'
        AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE""",
    "q_asof_join" -> """
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase'),
      r AS (SELECT user_id, ts, value AS purchase_value FROM events WHERE event_type = 'purchase')
      SELECT l.event_id, l.user_id, COALESCE(r.purchase_value, -1.0) AS purchase_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "q_asof_bucketed" -> """
      WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS tms FROM events
                 WHERE event_type <> 'purchase'),
      r AS (SELECT user_id, epoch_ms(ts) AS tms, value AS purchase_value FROM events
            WHERE event_type = 'purchase')
      SELECT l.event_id, l.user_id,
        COALESCE(CASE WHEN l.tms - r.tms <= 86400000 THEN r.purchase_value END, -1.0)
          AS purchase_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tms >= r.tms""",
    "q_dedup_cluster" -> dedupClusterSql,
    "q_harmonic" -> s"""
      WITH RECURSIVE e0 AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      roots AS (SELECT src AS r FROM (SELECT DISTINCT src FROM e0 ORDER BY src LIMIT 3)),
      walk(root, v, d) AS (
        SELECT r, r, 0 FROM roots
        UNION
        SELECT walk.root, und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 15
      ),
      lvl AS (SELECT root, v, MIN(d) AS d FROM walk GROUP BY root, v)
      SELECT root AS vid, ROUND(SUM(1.0 / d), 6) AS harmonic FROM lvl WHERE d > 0 GROUP BY root""",
    "q_hyperball" -> s"""
      WITH RECURSIVE e0 AS ($SqlEMOD),
      und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      roots AS (SELECT src AS r FROM (SELECT DISTINCT src FROM e0 ORDER BY src LIMIT 3)),
      walk(root, v, d) AS (
        SELECT r, r, 0 FROM roots
        UNION
        SELECT walk.root, und.dst, walk.d + 1 FROM walk JOIN und ON walk.v = und.src WHERE walk.d < 15
      ),
      lvl AS (SELECT root, v, MIN(d) AS d FROM walk GROUP BY root, v)
      SELECT root AS vid, ROUND(SUM(1.0 / d), 6) AS harmonic, TRUE AS hb_ok
      FROM lvl WHERE d > 0 GROUP BY root""",
    "q_maxflow" -> maxflowSql,
    "q_betweenness" -> brandesSql(stress = false, depth = 8, nRoots = 3),
    "q_stress" -> brandesSql(stress = true, depth = 8, nRoots = 3),
    "q_edge_betweenness" -> brandesEdgeSql(depth = 8, nRoots = 3),
    "q_simhash" -> simhashSql,
    "q_simhash_pairs" -> simhashPairsSql(maxDistance = 3)
  )
}
