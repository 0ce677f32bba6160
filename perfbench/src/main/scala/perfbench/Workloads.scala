package perfbench

import graft.alg.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.{Adjacency, Graph, Superstep}
import graft.dedup.{Dedup, MinHash}
import graft.gen.GraphGen
import graft.text.EdgeExtract
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Input sizes. Each op costs at least ~0.1 s per Spark stage on a 4-core
 * host, so the full sizes keep a run (JVM start, set-up with its cold
 * warm-up pass, one measured pass) inside the benchmark's run budget;
 * smoke sizes only check the plumbing. */
final case class Sizes(pages: Long, rmatScale: Int, rmatEdgeFactor: Int, docs: Int)

object Sizes {
  val Full = Sizes(pages = 1000, rmatScale = 11, rmatEdgeFactor = 16, docs = 500)
  val Smoke = Sizes(pages = 1500, rmatScale = 9, rmatEdgeFactor = 8, docs = 400)
}

/**
 * One group of timed ops with inputs of its own, generated from the seed
 * during set-up. The timed ops read only those inputs (parquet paths).
 */
abstract class Part(val spark: SparkSession) {
  /** Generator parameters; with the seed they key the input directory. */
  def params: String
  def generate(in: String, seed: Long): Unit
  /** One pass over the inputs in `in`; `work` is an empty scratch dir. */
  def pass(r: Runner, in: String, work: String): Unit
  /** Layer metrics measured once per traced run, outside any timed span. */
  def probes(in: String, work: String): Map[String, Double]

  protected def read(path: String): DataFrame = spark.read.parquet(path)

  protected def edgeArray(df: DataFrame): Array[(Long, Long)] =
    df.select(col("src"), col("dst")).collect().map(r => (r.getLong(0), r.getLong(1)))

  protected def longMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  protected def doubleMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  // references depend only on the seed, which is fixed for a run
  private val memo = mutable.Map[String, Any]()
  protected def once[T](key: String)(f: => T): T = memo.getOrElseUpdate(key, f).asInstanceOf[T]

  /** Row width, partition balance and hub rows split into chunks, of the
   * chunked adjacency the superstep algorithms build over `edges`. */
  protected def adjacencyShape(edges: DataFrame): Map[String, Double] = {
    val parts = Adjacency.build(edges)
      .select(spark_partition_id().as("p"), size(col("nbrs")).as("n"),
        (col("deg") > size(col("nbrs"))).cast("long").as("split"))
      .groupBy("p").agg(sum("n"), max("n"), sum("split")).collect()
    val load = parts.map(_.getLong(1).toDouble)
    Map("core.adj.part_skew" -> load.max / (load.sum / load.length),
      "core.adj.max_row" -> parts.map(_.getInt(2)).max.toDouble,
      "core.adj.split_rows" -> parts.map(_.getLong(3)).sum.toDouble)
  }
}

/** A benchmark workload: its parts, run one after the other in every pass. */
final class Workload(val name: String, val spark: SparkSession, parts: Seq[Part]) {
  def params: String = parts.map(_.params).mkString("-")
  def generate(in: String, seed: Long): Unit = parts.foreach(_.generate(in, seed))
  def pass(r: Runner, in: String, work: String): Unit = parts.foreach(_.pass(r, in, work))
  def probes(in: String, work: String): Map[String, Double] =
    parts.map(_.probes(in, work)).reduce(_ ++ _)
}

object Workload {
  def apply(name: String, spark: SparkSession, sizes: Sizes): Workload = name match {
    case "crawl_rank" => new Workload(name, spark, Seq(new CrawlRank(spark, sizes.pages)))
    case "hubs_dedup" => new Workload(name, spark, Seq(
      new RmatHubs(spark, sizes.rmatScale, sizes.rmatEdgeFactor), new CorpusDedup(spark, sizes.docs)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Names = Seq("crawl_rank", "hubs_dedup")
}

/** The link-graph pipeline users run: html pages → link extraction →
 * PageRank and WCC with in-memory superstep cuts, then both again with a
 * parquet checkpoint every superstep, and PageRank resumed after the
 * manifests of its last supersteps are deleted. Low-skew graph (out-degree
 * <= 16, so no adjacency row is chunked). */
final class CrawlRank(spark: SparkSession, pages: Long) extends Part(spark) {
  /** Supersteps whose manifests are deleted before the resume. */
  val Lost = 3 to 5

  def params: String = s"p$pages-l8"

  def generate(in: String, seed: Long): Unit =
    GraphGen.pages(spark, pages, seed).write.parquet(s"$in/pages")

  /** Out- and in-degree sequences of the link graph, counted from the
   * generated html with a plain href scan. */
  private def expectedDegrees(in: String): (Seq[Long], Seq[Long]) = once("degrees") {
    val Href = """href="(http[^"]*)"""".r
    val links = read(s"$in/pages").select(col("url"), col("html").cast("string")).collect()
      .flatMap(r => Href.findAllMatchIn(r.getString(1)).map(m => (r.getString(0), m.group(1))))
    (links.groupBy(_._1).values.map(_.length.toLong).toSeq.sorted,
      links.groupBy(_._2).values.map(_.length.toLong).toSeq.sorted)
  }

  private def checkExtraction(in: String, edges: Array[(Long, Long)]): Unit = {
    val (outDeg, inDeg) = expectedDegrees(in)
    Replay.ensure(edges.length == outDeg.sum, s"extracted ${edges.length} edges, html has ${outDeg.sum} links")
    Replay.ensure(edges.groupBy(_._1).values.map(_.length.toLong).toSeq.sorted == outDeg,
      "out-degree sequence differs from the html's")
    Replay.ensure(edges.groupBy(_._2).values.map(_.length.toLong).toSeq.sorted == inDeg,
      "in-degree sequence differs from the html's")
  }

  def pass(r: Runner, in: String, work: String): Unit = {
    val edgesPath = s"$work/edges"
    r.op("text.extract") {
      r.sinkTo(EdgeExtract.edges(read(s"$in/pages")), edgesPath)
    } { _ =>
      val got = edgeArray(read(edgesPath))
      checkExtraction(in, got)
      r.pass.layer("text.extract.edges_out") = got.length.toDouble
      r.pass.layer("text.extract.urls") = got.flatMap(e => Array(e._1, e._2)).distinct.length.toDouble
    }
    // extraction is deterministic and checked on every pass, so the
    // references are built from the first pass's edges
    lazy val edges = once("edges")(edgeArray(read(edgesPath)))
    def checkRanks(ranks: DataFrame): Unit =
      Replay.close("pagerank", doubleMap(ranks), once("pagerank")(Replay.pageRank(edges)), 1e-6)
    def checkComponents(comps: DataFrame): Unit =
      Replay.exact("wcc", longMap(comps), once("wcc")(Replay.wcc(edges)))

    r.op("alg.pagerank") {
      val (res, callS) = r.timed(PageRank.run(read(edgesPath)))
      r.sink(res.ranks)
      (res, callS)
    } { case (res, callS) =>
      checkRanks(res.ranks)
      r.recordSteps("alg.pagerank", res.metrics, callS)
    }

    r.op("alg.wcc") {
      val (res, callS) = r.timed(ConnectedComponents.run(read(edgesPath)))
      r.sink(res.components)
      (res, callS)
    } { case (res, callS) =>
      checkComponents(res.components)
      r.recordSteps("alg.wcc", res.metrics, callS)
      val e = once("undirected")(Graph.undirected(read(edgesPath)).count())
      r.pass.layer("alg.wcc.step1_ms") = res.metrics.head.wallMs.toDouble
      r.pass.layer("alg.wcc.frontier_ratio") =
        res.metrics.map(_.edgesTraversed).sum.toDouble / (e * res.metrics.size)
    }

    val prDir = s"$work/ckpt-pagerank"
    val wccDir = s"$work/ckpt-wcc"
    var uninterrupted = Map.empty[Long, Double]

    r.op("core.ckpt.pagerank") {
      val res = PageRank.run(read(edgesPath), checkpointDir = Some(prDir))
      r.sink(res.ranks)
      res
    } { res =>
      uninterrupted = doubleMap(res.ranks)
      checkRanks(res.ranks)
      r.pass.steps ++= res.metrics
    }

    r.op("core.ckpt.wcc") {
      val res = ConnectedComponents.run(read(edgesPath), checkpointDir = Some(wccDir))
      r.sink(res.components)
      res
    } { res =>
      checkComponents(res.components)
      r.pass.steps ++= res.metrics
    }

    Lost.foreach(s => Files.deleteIfExists(Paths.get(s"$prDir/superstep=$s/manifest.json")))
    val resumeFrom = Superstep.latestComplete(prDir).fold(0)(_._1)
    r.op("core.ckpt.resume") {
      val res = PageRank.run(read(edgesPath), checkpointDir = Some(prDir), resume = true)
      r.sink(res.ranks)
      res
    } { res =>
      Replay.close("resumed pagerank vs uninterrupted", doubleMap(res.ranks), uninterrupted, 1e-12)
      val replayed = res.metrics.filter(_.superstep > resumeFrom)
      r.pass.steps ++= replayed
      r.pass.layer("core.ckpt.replayed_steps") = replayed.size.toDouble
      r.pass.layer("core.ckpt.mb") = (dirBytes(Paths.get(prDir)) + dirBytes(Paths.get(wccDir))) / 1048576.0
    }
  }

  def probes(in: String, work: String): Map[String, Double] = {
    EdgeExtract.edges(read(s"$in/pages")).write.parquet(s"$work/edges")
    adjacencyShape(read(s"$work/edges"))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

/** Power-law R-MAT graph: hub-driven wedge fan-out in triangle counting and
 * vote skew in label propagation. No text layer. The generator's quadrant
 * weights are skewed past the reference's (a = 0.76 instead of 0.57) so
 * that at this small scale the top hub's out-degree (about 6,000, parallel
 * edges included) still exceeds the adjacency chunk (4,096) and its row is
 * split. */
final class RmatHubs(spark: SparkSession, scale: Int, edgeFactor: Int) extends Part(spark) {
  val LpaRounds = 5
  val A = 0.76
  val B = 0.1
  val C = 0.1
  def params: String = s"s$scale-e$edgeFactor-a$A"

  def generate(in: String, seed: Long): Unit =
    GraphGen.rmat(spark, scale, edgeFactor, seed, A, B, C).write.parquet(s"$in/edges")

  def pass(r: Runner, in: String, work: String): Unit = {
    lazy val edges = once("edges")(edgeArray(read(s"$in/edges")))
    r.op("alg.triangles") {
      val tri = TriangleCount.perVertex(read(s"$in/edges"))
      r.sink(tri)
      tri
    } { tri =>
      val got = longMap(tri)
      Replay.exact("triangles", got, once("triangles")(Replay.triangles(edges)))
      r.pass.layer("alg.triangles.out") = got.values.sum / 3.0
    }

    r.op("alg.lpa") {
      val (res, callS) = r.timed(LabelPropagation.majorityLpa(read(s"$in/edges"), LpaRounds))
      r.sink(res.labels)
      (res, callS)
    } { case (res, callS) =>
      Replay.exact("majority lpa", longMap(res.labels),
        once("lpa")(Replay.majorityLpa(edges, LpaRounds)))
      r.recordSteps("alg.lpa", res.metrics, callS)
    }
  }

  def probes(in: String, work: String): Map[String, Double] = adjacencyShape(read(s"$in/edges"))
}

/** Near-duplicate detection on the engine's documents fixture (sf0.01, 500
 * documents, committed under `perfbench/data`): exact n-gram Jaccard pairs
 * (prefix-filtered join), their clusters, and MinHash LSH pairs. The only
 * part that reaches graft.dedup. */
final class CorpusDedup(spark: SparkSession, docs: Int) extends Part(spark) {
  val Shingle = 5
  val Threshold = 0.5
  val MaxShingleFreq = 1000
  val HashCount = 128
  val Bands = 32
  def params: String = s"d$docs"

  /** The first `docs` fixture documents with their ids permuted and their
   * letters rotated, both chosen by the seed. The rotation maps the
   * shingles of every document one-to-one, so every seed keeps the
   * fixture's exact-Jaccard pairs, clusters and join work. */
  def generate(in: String, seed: Long): Unit = {
    import spark.implicits._
    val src = read(CorpusDedup.Fixture).select("doc_id", "text").orderBy("doc_id").limit(docs)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val newId = src.map(_._1).sortBy(GraphGen.mix64(seed, _, 5L)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    val shift = 1 + java.lang.Long.remainderUnsigned(GraphGen.mix64(seed, 6L), 25L).toInt
    src.map { case (id, text) => (newId(id), CorpusDedup.rotate(text, shift)) }.toSeq
      .toDF("doc_id", "text").write.parquet(s"$in/docs")
  }

  private def corpus(in: String): Array[(Long, String)] = once("docs") {
    read(s"$in/docs").collect().map(r => (r.getLong(0), r.getString(1)))
  }

  def pass(r: Runner, in: String, work: String): Unit = {
    val pairsPath = s"$work/pairs"
    lazy val refPairs = once("pairs")(Replay.jaccardPairs(corpus(in), Shingle, Threshold))

    r.op("dedup.pairs") {
      r.sinkTo(Dedup.ngramJaccardPairs(read(s"$in/docs"), n = Shingle, threshold = Threshold,
        maxShingleFreq = MaxShingleFreq), pairsPath)
    } { _ =>
      val got = read(pairsPath).collect().map(p => (p.getLong(0), p.getLong(1)) -> p.getDouble(2)).toMap
      r.pass.layer("dedup.pairs.out") = got.size.toDouble
      // above the cap the join drops prefix shingles; a pair lost that way
      // is a failure, and its message names the cap as the cause
      val freq = once("prefix freq")(Replay.maxPrefixFreq(corpus(in), Shingle, Threshold))
      r.pass.layer("dedup.pairs.max_prefix_freq") = freq
      val cap = if (freq > MaxShingleFreq) s"binds: a prefix shingle occurs in $freq documents" else "does not bind"
      Replay.close(s"ngram jaccard pairs (maxShingleFreq $MaxShingleFreq $cap)", got, refPairs, 1e-9)
    }

    r.op("dedup.cluster") {
      val clusters = Dedup.nearDupClusters(read(s"$in/docs"), read(pairsPath))
      r.sink(clusters)
      clusters
    } { clusters =>
      val got = longMap(clusters.select("doc_id", "cluster"))
      r.pass.layer("dedup.clusters.out") = got.values.toSet.size.toDouble
      Replay.exact("near-dup clusters", got,
        once("clusters")(Replay.clusters(corpus(in).map(_._1), refPairs.keys)))
    }

    r.op("dedup.minhash") {
      val pairs = MinHash.nearDupPairs(read(s"$in/docs"), k = HashCount, bands = Bands,
        n = Shingle, threshold = Threshold)
      r.sink(pairs)
      pairs
    } { pairs =>
      val got = pairs.collect().map(p => (p.getLong(0), p.getLong(1)) -> p.getDouble(2)).toMap
      Replay.exact("minhash pairs", got,
        once("minhash")(Replay.minhashPairs(corpus(in), HashCount, Bands, Shingle, Threshold)))
    }
  }

  def probes(in: String, work: String): Map[String, Double] = {
    val docsDf = read(s"$in/docs")
    val candidates = MinHash.candidatePairs(
      MinHash.signatures(docsDf, HashCount, Shingle), Bands, HashCount / Bands).count()
    val verified = MinHash.nearDupPairs(docsDf, k = HashCount, bands = Bands, n = Shingle,
      threshold = Threshold).count()
    Map("dedup.minhash.precision" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }
}

object CorpusDedup {
  /** The engine's sf0.01 documents fixture, relative to the checkout root. */
  val Fixture = "perfbench/data/documents.parquet"

  /** Caesar rotation of the ASCII letters by `k`, each case onto itself. */
  def rotate(text: String, k: Int): String = text.map {
    case c if c >= 'a' && c <= 'z' => ('a' + (c - 'a' + k) % 26).toChar
    case c if c >= 'A' && c <= 'Z' => ('A' + (c - 'A' + k) % 26).toChar
    case c => c
  }
}
