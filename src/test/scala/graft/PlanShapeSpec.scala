package graft

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, FormattedMode,
  GenerateExec, QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.alg._
import graft.ann.{Ann, FeatureProp, KMeans, Pca, Quantize}
import graft.core.{Graph, Partitioning}
import graft.dedup.{Dedup, MinHash}
import graft.gen.GraphGen
import graft.operators.AsOfJoin
import graft.streaming.EventStream
import graft.text.{Curation, Dsir, EdgeExtract, Repetition, TextAnalysis, Tokenize, UrlOps}

/**
 * Plan-shape gate: the physical plans of the engine's real entry points,
 * pinned to the shapes their docs claim — shuffle exchanges per superstep
 * job, the map-side combine under the message exchange (Totem's outbox
 * combiner), hash joins where a superstep hints them. Every case also
 * obeys three global rules: no `CartesianProductExec`, a
 * `BroadcastNestedLoopJoinExec` only where the case declares it, and no
 * `WindowExec` without a partition spec.
 *
 * Loops run for real on `rmat(10, 8, seed = 3)`; a [[QueryExecutionListener]]
 * captures every plan they execute, and each superstep's plan is the
 * lineage cut (`localCheckpoint`) that ends it. One-shot operators are
 * checked on their unexecuted `executedPlan`, so they cost no job.
 * Exchanges are counted through AQE (`AdaptiveSparkPlanHelper`); a plain
 * `collect` stops at `AdaptiveSparkPlanExec`.
 */
class PlanShapeSpec extends SparkSpec {
  import PlanShapeSpec._

  private lazy val edges = GraphGen.rmat(spark, 10, 8, seed = 3)
  private lazy val weighted =
    edges.withColumn("weight", ((col("src") + col("dst")) % 7 + 1).cast("double"))
  private def docs = spark.read.parquet(s"$Sf/documents.parquet")
  private def events = spark.read.parquet(s"$Sf/events.parquet")
  private def embeddings = spark.read.parquet(s"$Sf/embeddings.parquet")
  private def someVertices(n: Int) = Graph.vertices(edges).limit(n)

  /** Every plan `body` executes, in order, with the action that ran it. The
   * listener is this spec's own and is gone when this returns. */
  private def executed(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = ArrayBuffer[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toSeq)
  }

  /** The lineage cuts (`localCheckpoint` jobs) `body` executes, in order. */
  private def cuts(body: => Unit): Seq[QueryExecution] =
    executed(body).collect { case ("localCheckpoint", qe) => qe }

  /** The last cuts of a run; `run` returns how many to keep (one per
   * superstep for a [[graft.core.Superstep]] loop). */
  private def lastCuts(run: => Int): Seq[QueryExecution] = {
    var keep = 0
    cuts { keep = run }.takeRight(keep)
  }

  private def plan(df: => DataFrame): Seq[QueryExecution] = Seq(df.queryExecution)

  // one run each, shared by the loop case and the one-shot case on its output
  private lazy val (walkCuts, walked) = {
    var out: DataFrame = null
    (cuts { out = RandomWalk.walks(edges, someVertices(64), length = 4, seed = 1L) }, out)
  }
  private lazy val (kmeansJobs, kmeansModel) = {
    var model: KMeans.Model = null
    (executed { model = KMeans.run(embeddings, k = 4, iters = 1) }.map(_._2), model)
  }

  private val cases: Seq[Case] = Seq(
    // ---- superstep loops: one plan per superstep ----
    Case("PageRank.run: 2 exchanges per superstep, messages combined map-side",
      () => lastCuts(PageRank.run(edges).metrics.size),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly))),
    Case("ConnectedComponents.run: <= 3 exchanges per superstep, messages combined map-side",
      () => lastCuts(ConnectedComponents.run(edges).metrics.size),
      Shape(atMost(3), also = Seq(outboxCombine, hashJoinsOnly))),
    Case("LabelPropagation.majorityLpa(5): 5 exchanges per superstep",
      () => lastCuts(LabelPropagation.majorityLpa(edges, 5).metrics.size),
      Shape(exactly(5), also = Seq(outboxCombine))),
    Case("LabelPropagation.labelRank(pruneTopK = 16): bounded top-k in ObjectHashAggregate",
      () => lastCuts(LabelPropagation.labelRank(edges, maxIterations = 2, pruneTopK = 16)
        .metrics.size),
      Shape(exactly(3), also = Seq(has[ObjectHashAggregateExec], no[SortAggregateExec]))),
    // the last superstep finds the frontier empty and cuts nothing
    Case("Traversals.bfs: 3 exchanges per level, frontier hash-joined",
      () => lastCuts(Traversals.bfs(edges, 0L).metrics.size - 1),
      Shape(exactly(3), also = Seq(no[SortMergeJoinExec]))),
    // Adjacency.reach: the first cut is the seed table, every later one a
    // level (frontier, distinct, anti-join against the hash-built state).
    // Unhinted, the anti-join plans as a sort-merge join that AQE turns
    // into a broadcast on this small graph, so only hashJoinsOnly sees it.
    Case("Centrality.multiSourceBfs: 3 exchanges per reach level, shuffled hash joins",
      () => cuts(Centrality.multiSourceBfs(edges, Seq(0L, 1L, 2L))).drop(1),
      Shape(exactly(3), also = Seq(hashJoinsOnly))),
    Case("Traversals.stConnected: 3 exchanges per reach level, shuffled hash joins",
      () => cuts(Traversals.stConnected(edges, 0L, 1023L)).drop(1),
      Shape(exactly(3), also = Seq(hashJoinsOnly))),
    Case("Dag.layers: <= 3 exchanges per superstep, shuffled hash joins",
      () => lastCuts(Dag.layers(edges.filter(col("src") * 4 < col("dst"))).metrics.size),
      Shape(atMost(3), also = Seq(hashJoinsOnly))),
    Case("DeltaStepping.run: <= 3 exchanges per bucket relax, no sort-merge join",
      () => lastCuts(DeltaStepping.run(weighted, 0L, delta = 8.0).metrics.size),
      Shape(atMost(3), also = Seq(no[SortMergeJoinExec]))),
    Case("Eigen.run: scatter-reduce, then a 1-row norm broadcast",
      () => lastCuts(2 * Eigen.run(edges, rounds = 3).metrics.size),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly)),
      Shape(exactly(1), bnlj = 1)),
    Case("Katz.run: the PageRank plan, 2 exchanges per superstep",
      () => lastCuts(Katz.run(edges, rounds = 3).metrics.size),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly))),
    Case("PageRank.personalized: 2 exchanges per superstep, messages combined map-side",
      () => lastCuts(PageRank.personalized(edges, Seq(0L, 1L, 2L), rounds = 3).metrics.size),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly))),
    // per superstep: the forward scatter cut, the reverse scatter cut, the norms
    Case("Hits.run: two scatter-reduces, then a 1-row norm broadcast",
      () => lastCuts(3 * Hits.run(edges, rounds = 3).metrics.size),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly)),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly)),
      Shape(exactly(1), bnlj = 1)),
    Case("Salsa.run: the Hits plan, degree divisions projected",
      () => lastCuts(3 * Salsa.run(edges, rounds = 3).metrics.size),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly)),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly)),
      Shape(exactly(1), bnlj = 1)),
    Case("Independent.mis: 5 exchanges per round, min-key scatter combined map-side",
      () => lastCuts(Independent.mis(edges).metrics.size),
      Shape(exactly(5), also = Seq(outboxCombine, hashJoinsOnly))),
    Case("Anf.run: 2 exchanges per hop, register max combined map-side",
      () => lastCuts(Anf.run(edges, maxH = 3, relTol = 0.0).metrics.size),
      Shape(exactly(2), also = Seq(outboxCombine, hashJoinsOnly))),
    Case("FeatureProp.exploded: the PageRank plan per round, widened by dim",
      () => lastCuts { FeatureProp.exploded(edges.filter(col("src") < 500 && col("dst") < 500),
        embeddings, "vec_id", "embedding", alpha = 0.5, rounds = 2); 2 },
      Shape(exactly(3), also = Seq(outboxCombine, hashJoinsOnly))),
    Case("RandomWalk.walks: one exchange per step, hash-index join, no aggregation",
      () => walkCuts.takeRight(4),
      Shape(exactly(1), also = Seq(no[BaseAggregateExec], joins(1)))),
    Case("RandomWalk.biasedWalks: 3 exchanges per step, per-walk windows",
      () => lastCuts { RandomWalk.biasedWalks(edges, someVertices(64), length = 3); 3 },
      Shape(exactly(3), also = Seq(joins(2), has[WindowExec]))),
    Case("Msf.run: every phase job <= 3 exchanges and <= 3 joins",
      () => cuts(Msf.run(weighted)),
      Shape(atMost(3), also = Seq(atMostJoins(3)))),
    Case("BowTie.decompose: every sweep job <= 5 exchanges",
      () => cuts(BowTie.decompose(edges.filter(col("src") < 64 && col("dst") < 64)).collect()),
      Shape(atMost(5))),
    Case("KMeans.run update: posexplode, then a map-side-combined (cid, pos) mean",
      () => kmeansJobs.takeRight(1),
      Shape(exactly(2), also = Seq(outboxCombine))),
    Case("KMeans assign: literal centers, argmin projection, no exchange, no join",
      () => plan(kmeansModel.assignments),
      Shape(exactly(0), also = Seq(joins(0)))),

    // ---- one-shot operators: the unexecuted plan ----
    Case("TriangleCount.perVertex: 2 exchanges",
      () => plan(TriangleCount.perVertex(edges)), Shape(exactly(2))),
    Case("TriangleCount.directedCensus: 2 exchanges",
      () => plan(TriangleCount.directedCensus(edges)), Shape(exactly(2))),
    Case("Butterfly.perVertex: 8 exchanges",
      () => plan(Butterfly.perVertex(
        edges.select(col("src"), (col("dst") % 512 + 1000000L).as("dst")).distinct())),
      Shape(exactly(8))),
    Case("Graph.reciprocity: edge-keyed self-join + one aggregate, 3 exchanges",
      () => plan(Graph.reciprocity(edges)), Shape(exactly(3), also = Seq(joins(1)))),
    Case("Graph.richClub: 11 exchanges, 17-row range join as 2 broadcast loop joins",
      () => plan(Graph.richClub(edges, maxK = 16)), Shape(exactly(11), bnlj = 2)),
    Case("Graph.sampleKHop: 14 exchanges, no global window",
      () => plan(Graph.sampleKHop(edges, someVertices(64), fanouts = Seq(3, 2))),
      Shape(exactly(14))),
    Case("Partitioning.conductance: 9 exchanges, 1-row total broadcast",
      () => plan(Partitioning.conductance(edges,
        Graph.vertices(edges).select(col("vid"), (col("vid") % 4).as("part")))),
      Shape(exactly(9), bnlj = 1)),
    Case("RandomWalk.contextPairs: one walk-keyed exchange, no walk² join",
      () => plan(RandomWalk.contextPairs(walked, window = 2)),
      Shape(exactly(1), also = Seq(joins(0)))),
    Case("Dedup.dedupSubstrings: 3 exchanges, census combined map-side",
      () => plan(Dedup.dedupSubstrings(docs)), Shape(exactly(3), also = Seq(outboxCombine))),
    Case("Curation.packSequences: 1 exchange",
      () => plan(Curation.packSequences(docs, col("doc_id"), length(col("text")) / 5,
        capTokens = 512, buckets = 8)),
      Shape(exactly(1))),
    Case("Curation.chunkWindows: 0 exchanges",
      () => plan(Curation.chunkWindows(docs, col("doc_id"), col("text"), window = 64, stride = 48)),
      Shape(exactly(0))),
    Case("Curation.prioritySample: 0 exchanges, TakeOrderedAndProject, no global sort",
      () => plan(Curation.prioritySample(docs, col("doc_id"), length(col("text")) + lit(1),
        k = 100)),
      Shape(exactly(0), also = Seq(has[TakeOrderedAndProjectExec], no[SortExec]))),
    Case("Curation.temperatureMix: 0 exchanges, rate table broadcast",
      () => plan(Curation.temperatureMix(docs, col("lang"), col("doc_id"), tau = 0.3)),
      Shape(exactly(0), also = Seq(has[BroadcastHashJoinExec]))),
    Case("Curation.profile: 1 exchange",
      () => plan(Curation.profile(docs, col("source"),
        TextAnalysis.tokenCount(col("text")).cast("double"))),
      Shape(exactly(1))),
    Case("Repetition.corpusTopNgrams: 2 exchanges, TakeOrderedAndProject",
      () => plan(Repetition.corpusTopNgrams(docs, "doc_id", "text", n = 3, k = 50)),
      Shape(exactly(2), also = Seq(outboxCombine, has[TakeOrderedAndProjectExec]))),
    Case("Tokenize.charPairCounts: 2 exchanges, TakeOrderedAndProject",
      () => plan(Tokenize.charPairCounts(Tokenize.wordFreq(docs, "text"), k = 100)),
      Shape(exactly(2), also = Seq(has[TakeOrderedAndProjectExec]))),
    Case("Tokenize.encode: 1 exchange",
      () => plan(Tokenize.encode(docs, "doc_id", "text",
        Seq(Tokenize.Merge(0, "t", "h", 0L), Tokenize.Merge(1, "th", "e", 0L)))),
      Shape(exactly(1))),
    Case("Dsir.importanceWeights: 1 exchange, ratio table broadcast",
      () => plan(Dsir.importanceWeights(docs, "doc_id", "text", isTarget = col("lang") === "en")),
      Shape(exactly(1), also = Seq(has[BroadcastHashJoinExec]))),
    Case("UrlOps.suffixBlock: 1 exchange, blocklist broadcast",
      () => plan {
        val s = spark; import s.implicits._
        UrlOps.suffixBlock(docs, col("doc_id"),
          concat(lit("src"), (col("doc_id") % 20).cast("string"), lit(".example.org")),
          Seq("src3.example.org").toDF("suffix"))
      },
      Shape(exactly(1), also = Seq(has[BroadcastHashJoinExec]))),
    Case("AsOfJoin.asof: 1 exchange, no join",
      () => plan(AsOfJoin.asof(
        events.filter(col("event_type") =!= "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        events.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value").as("pv")),
        key = "user_id", ts = "ts", payload = Seq("pv"))),
      Shape(exactly(1), also = Seq(joins(0)))),
    Case("AsOfJoin.asofBucketed: 2 exchanges, (key, bucket) equi-joins",
      () => plan {
        val ms = unix_millis(col("ts").cast("timestamp")).as("tms")
        AsOfJoin.asofBucketed(
          events.filter(col("event_type") =!= "purchase")
            .select(col("event_id"), col("user_id"), ms),
          events.filter(col("event_type") === "purchase")
            .select(col("user_id"), ms, col("value").as("pv")),
          key = "user_id", ts = "tms", leftId = "event_id", payload = Seq("pv"),
          toleranceMs = 86400000L, bucketMs = 86400000L)
      },
      Shape(exactly(2), also = Seq(joins(2)))),
    Case("EventStream.intervalJoin: key hash join + range predicate",
      () => plan(EventStream.intervalJoin(
        events.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("ts").as("click_ts"), col("user_id")),
        events.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("ts").as("view_ts"), col("user_id")),
        "user_id", "click_ts", "view_ts", lookback = "30 minutes")),
      Shape(exactly(0), also = Seq(joins(1)))),
    Case("EventStream.slidingCounts: one Expand + hash aggregate, 1 exchange",
      () => plan(EventStream.slidingCounts(events)),
      Shape(exactly(1), also = Seq(has[ExpandExec], outboxCombine))),
    Case("Pca.covariance: 0 exchanges, 2 broadcast joins",
      () => plan(Pca.covariance(embeddings)),
      Shape(exactly(0), also = Seq(joins(2)))),
    Case("Quantize.codes: 1 exchange, codebook broadcast",
      () => plan(Quantize.codes(embeddings)),
      Shape(exactly(1), also = Seq(has[BroadcastHashJoinExec]))),
    Case("Ann.marginTopK: 6 exchanges, candidate ids broadcast into the semi-join",
      () => plan(Ann.marginTopK(embeddings,
        embeddings.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding")),
        k = 5, m = 3)),
      Shape(exactly(6), bnlj = 1, also = Seq(has[BroadcastHashJoinExec]))),
    Case("Parquet scan: documents reads 3 of 5 columns, lang filter pushed",
      () => plan(docs.filter(col("lang") === "en").select(col("doc_id"), length(col("text")))),
      Shape(exactly(0), also = Seq(scanReads("doc_id", "text", "lang"), pushesFilterOn("lang"))))
  )

  // a whole-call case: its claims are about the plans one call executes
  // together (harvest cut, bucket cut, counts, dictionary cut, edge cut,
  // the write of the result), not about any single plan
  test("EdgeExtract.edges: one href harvest, endpoints hash-joined, no sort-merge join") {
    val plans = executed {
      EdgeExtract.edges(GraphGen.pages(spark, 300, seed = 3))
        .write.format("noop").mode("overwrite").save()
    }.map(_._2.executedPlan)
    def total[T <: SparkPlan: ClassTag]: Int = plans.map(nodes[T](_).size).sum
    assert(total[GenerateExec] == 1, "the href regex must run once per page")
    assert(total[SortMergeJoinExec] == 0)
    assert(total[ShuffledHashJoinExec] == 2, "both endpoint lookups must be shuffled hash joins")
    plans.foreach { p =>
      val problems = violations(p, Shape(atMost(3)))
      assert(problems.isEmpty, s"${problems.mkString("; ")}\n${p.treeString}")
    }
  }

  // whole-call cases for the dedup pair generators: each call cuts its
  // intermediates and its result, so the claims are about every plan one
  // call plus a noop write of its result executes
  private def pairCall(name: String, maxExchanges: Int, also: Check*)(call: => DataFrame): Unit =
    test(name) {
      val plans = executed(call.write.format("noop").mode("overwrite").save()).map(_._2)
      val shape = Shape(atMost(maxExchanges),
        also = Seq(noPairAggregate, onePagePerStage, no[SortMergeJoinExec]) ++ also)
      val problems = plans.zipWithIndex.flatMap { case (qe, i) =>
        violations(qe.executedPlan, shape).map(v => s"plan ${i + 1} of ${plans.size}: $v")
      }
      assert(problems.isEmpty, problems.mkString("\n"))
    }

  pairCall("Dedup.ngramJaccardPairs(0.5): <= 4 exchanges per plan, no pair-keyed aggregate, " +
      "no per-document window, one sort or aggregate per stage", 4, noDocWindow) {
    Dedup.ngramJaccardPairs(docs, n = 5, threshold = 0.5)
  }
  pairCall("MinHash.nearDupPairs(128, 32): <= 6 exchanges per plan, no pair-keyed aggregate, " +
      "one sort or aggregate per stage", 6) {
    MinHash.nearDupPairs(docs, k = 128, bands = 32)
  }
  pairCall("MinHash.incrementalNearDupPairs: <= 6 exchanges per plan, no pair-keyed aggregate, " +
      "one sort or aggregate per stage", 6) {
    val isNew = col("doc_id") % 5 === 0
    MinHash.incrementalNearDupPairs(
      MinHash.md5Signatures(docs.filter(!isNew), k = 8, n = 5),
      MinHash.md5Signatures(docs.filter(isNew), k = 8, n = 5),
      bands = 4, threshold = 0.5, k = 8)
  }

  cases.foreach { c =>
    test(c.name) {
      val plans = c.plans()
      assert(plans.nonEmpty, s"${c.name}: captured no plan")
      plans.zipWithIndex.foreach { case (qe, i) =>
        val shape = c.shapes(i % c.shapes.size)
        val problems = violations(qe.executedPlan, shape)
        if (problems.nonEmpty)
          fail(s"${c.name}: plan ${i + 1} of ${plans.size}: ${problems.mkString("; ")}\n" +
            qe.explainString(FormattedMode))
      }
    }
  }
}

object PlanShapeSpec extends AdaptiveSparkPlanHelper {
  val Sf = "/root/testdata/sf0.001"

  /** One spec row: the plans an entry point produces, checked in turn
   * against `shapes` (cycled, for loops whose supersteps alternate). */
  final case class Case(name: String, plans: () => Seq[QueryExecution], shapes: Shape*)

  /** What one plan must show: its shuffle-exchange count, its declared
   * broadcast nested-loop joins, and any further checks. */
  final case class Shape(exchanges: Range, bnlj: Int = 0, also: Seq[Check] = Nil)

  final case class Check(what: String, holds: SparkPlan => Boolean)

  def exactly(n: Int): Range = n to n
  def atMost(n: Int): Range = 0 to n

  def nodes[T <: SparkPlan: ClassTag](p: SparkPlan): Seq[T] = collect(p) { case n: T => n }

  def has[T <: SparkPlan](implicit ct: ClassTag[T]): Check =
    Check(s"a ${ct.runtimeClass.getSimpleName}", nodes[T](_).nonEmpty)
  def no[T <: SparkPlan](implicit ct: ClassTag[T]): Check =
    Check(s"no ${ct.runtimeClass.getSimpleName}", nodes[T](_).isEmpty)
  def joins(n: Int): Check = Check(s"$n joins", nodes[BaseJoinExec](_).size == n)
  def atMostJoins(n: Int): Check = Check(s"<= $n joins", nodes[BaseJoinExec](_).size <= n)

  /** Every join is a shuffled hash join (the superstep's `shuffle_hash`
   * hints hold: no sort-merge join, no runtime broadcast). */
  val hashJoinsOnly: Check = Check("only shuffled hash joins",
    p => nodes[BaseJoinExec](p).forall(_.isInstanceOf[ShuffledHashJoinExec]))

  /** The nodes an exchange (or a stage's root) reads within its own stage;
   * an adaptive plan's result stage runs in its caller's stage. */
  private def stageBelow(p: SparkPlan): Seq[SparkPlan] = p.children.flatMap(sameStage)
  private def sameStage(n: SparkPlan): Seq[SparkPlan] = n match {
    case a: AdaptiveSparkPlanExec => sameStage(a.executedPlan)
    case r: ResultQueryStageExec => sameStage(r.plan)
    case _: Exchange | _: QueryStageExec => Nil
    case n => n +: stageBelow(n)
  }

  /** Some shuffle exchange sits on a partial aggregate: messages are
   * combined map-side before they are sent (Totem's outbox combiner). */
  val outboxCombine: Check = Check("an exchange over a partial aggregate", p =>
    nodes[ShuffleExchangeLike](p).exists(e => stageBelow(e).exists {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }))

  /** No aggregate is keyed on both ids of a candidate pair: the pair
   * generators emit each pair once by a row-local rule, not a `distinct`. */
  val noPairAggregate: Check = Check("no aggregate keyed on a candidate pair", p =>
    nodes[BaseAggregateExec](p).forall { a =>
      val keys = a.groupingExpressions.flatMap(_.references.map(_.name)).toSet
      !(keys("ia") && keys("ib")) && !(keys("id_a") && keys("id_b"))
    })

  /** No window partitioned by the document id (a per-document rank). */
  val noDocWindow: Check = Check("no window partitioned by doc_id", p =>
    collect(p) { case w: WindowExec => w }
      .forall(!_.partitionSpec.exists(_.references.exists(_.name == "doc_id"))))

  /** At most one memory-managed operator (a sort or a hash aggregate, each
   * holding at least one memory page per task) in any stage: the stage
   * under the root and under every exchange. */
  val onePagePerStage: Check = Check("at most one sort or hash aggregate per stage", p =>
    (sameStage(p) +: nodes[Exchange](p).map(stageBelow)).forall(_.count {
      case _: SortExec | _: HashAggregateExec | _: ObjectHashAggregateExec => true
      case _ => false
    } <= 1))

  def scanReads(cols: String*): Check = Check(s"a scan reading exactly ${cols.mkString(", ")}",
    p => nodes[FileSourceScanExec](p).exists(_.requiredSchema.fieldNames.toSet == cols.toSet))
  def pushesFilterOn(c: String): Check = Check(s"a data filter on $c pushed into the scan",
    p => nodes[FileSourceScanExec](p)
      .exists(_.dataFilters.exists(_.references.exists(_.name == c))))

  /** Everything wrong with `p` against `shape` and the global rules. */
  def violations(p: SparkPlan, shape: Shape): Seq[String] = {
    val ex = nodes[ShuffleExchangeLike](p).size
    val bnlj = nodes[BroadcastNestedLoopJoinExec](p).size
    val range = if (shape.exchanges.size == 1) s"${shape.exchanges.head}"
      else s"${shape.exchanges.head}..${shape.exchanges.last}"
    Seq(
      Option.when(!shape.exchanges.contains(ex))(s"$ex shuffle exchanges, expected $range"),
      Option.when(nodes[CartesianProductExec](p).nonEmpty)("a CartesianProductExec"),
      Option.when(bnlj != shape.bnlj)(
        s"$bnlj BroadcastNestedLoopJoinExec, declared ${shape.bnlj}"),
      Option.when(collect(p) { case w: WindowExec if w.partitionSpec.isEmpty => w }.nonEmpty)(
        "a WindowExec without partitionSpec"),
    ).flatten ++ shape.also.filterNot(_.holds(p)).map(c => s"expected ${c.what}")
  }
}
