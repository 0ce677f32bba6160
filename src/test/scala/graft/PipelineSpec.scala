package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import graft.core.Lineage
import graft.gen.GraphGen
import graft.text.{TextExtract, EdgeExtract}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("html->text extraction: pure function and Column expression agree byte-identically") {
    val pages = GraphGen.pages(spark, 200, seed = 1).cache()
    val mismatches = pages
      .withColumn("recomputed", TextExtract.extractCol(col("html")))
      .filter(col("recomputed") =!= col("text"))
      .count()
    assert(mismatches == 0, "Column-expression extraction diverged from the pure function")
  }

  test("stored text is byte-identical to extraction of stored html (north-rule invariant)") {
    val pages = GraphGen.pages(spark, 100, seed = 2)
    pages.select(col("url"), col("html"), col("text")).collect().foreach { r =>
      val html = new String(r.getAs[Array[Byte]]("html"), "UTF-8")
      assert(TextExtract.extract(html) == r.getString(2), s"url=${r.getString(0)}")
    }
  }

  test("extractor semantics: tags, script/style, entities, whitespace") {
    assert(TextExtract.extract("<p>a  b</p>") == "a b")
    assert(TextExtract.extract("<script>x<y</script>hi<style>a{}</style>") == "hi")
    assert(TextExtract.extract("a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;&nbsp;f")
      == "a & b <c> \"d\" 'e' f")
    assert(TextExtract.extract("<a href=\"x\">link</a> end") == "link end")
  }

  test("edge extraction builds a link graph with dense deterministic ids") {
    val pages = GraphGen.pages(spark, 300, seed = 3).cache()
    val edges = EdgeExtract.edges(pages).cache()
    assert(edges.count() > 0)
    // ids dense in [0, V)
    def allUrls =
      pages.select(col("url")).union(EdgeExtract.links(pages).select(col("dst_url").as("url")))
    val dict = EdgeExtract.urlDictionary(allUrls)
    val n = dict.count()
    val (mn, mx) = dict.agg(min("vid"), max("vid")).collect()(0) match {
      case r => (r.getLong(0), r.getLong(1))
    }
    assert(mn == 0L && mx == n - 1)
    // dictionary deterministic across evaluations
    val again = EdgeExtract.urlDictionary(allUrls)
    assert(dict.except(again).isEmpty)
    Lineage.release(dict)
    Lineage.release(again)
  }

  test("edges: ids replay the bucket rule on the driver; the result is the call's one cut") {
    val pages = GraphGen.pages(spark, 1000, seed = 1)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = EdgeExtract.edges(pages)
    // RDDs released by earlier suites may leave meanwhile: count only new ones
    val added = sc.getPersistentRDDs.keySet -- before
    // id rule: bucket = pmod(xxhash64(url), 256), id = prefix-summed
    // offset of the bucket + rank of the url within it
    val Href = """href="(http[^"]*)"""".r
    val links = pages.select(col("url"), col("html").cast("string")).collect()
      .flatMap(r => Href.findAllMatchIn(r.getString(1)).map(m => r.getString(0) -> m.group(1)))
    val urls = (pages.select(col("url")).collect().map(_.getString(0)) ++ links.map(_._2)).distinct
    def bucket(u: String): Int = {
      val b = u.getBytes("UTF-8")
      Math.floorMod(XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L), 256L).toInt
    }
    val byBucket = urls.groupBy(bucket)
    val offsets = (0 until 256).scanLeft(0L)((acc, b) => acc + byBucket.get(b).fold(0)(_.length))
    val id = byBucket.toSeq.flatMap { case (b, us) =>
      us.sorted.zipWithIndex.map { case (u, i) => u -> (offsets(b) + i) }
    }.toMap
    assert(id.values.toSeq.sorted == (0L until urls.length.toLong))
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == links.map { case (s, d) => (id(s), id(d)) }.sorted.toSeq)
    assert(added.size == 1, "only the result's blocks may stay persisted")
    assert(Lineage.isCut(edges))
    Lineage.release(edges)
  }

  test("end-to-end: pages -> edges -> pagerank produces mass ~ (1-d) + d*contribs") {
    val pages = GraphGen.pages(spark, 200, seed = 4)
    val edges = EdgeExtract.edges(pages)
    val ranks = graft.alg.PageRank.run(edges).ranks
    assert(ranks.count() > 0)
    assert(ranks.agg(min("rank")).collect()(0).getDouble(0) > 0.0)
  }

  test("generators are deterministic across invocations") {
    val a = GraphGen.rmat(spark, 7, 4, seed = 42).collect().toSeq
    val b = GraphGen.rmat(spark, 7, 4, seed = 42).collect().toSeq
    assert(a == b)
    val c = GraphGen.rmat(spark, 7, 4, seed = 43).collect().toSeq
    assert(a != c)
    // repartitioned input -> same rows (order-free)
    val d = GraphGen.rmat(spark, 7, 4, seed = 42).repartition(7).collect().toSet
    assert(d == a.toSet)
  }

  test("rmat degree distribution is skewed (power-law-ish)") {
    val edges = GraphGen.rmat(spark, 9, 8, seed = 1)
    val degs = graft.core.Graph.outDegrees(edges).select("deg")
      .collect().map(_.getLong(0)).sorted
    val maxDeg = degs.last
    val medianDeg = degs(degs.length / 2)
    assert(maxDeg > 8 * medianDeg, s"max=$maxDeg median=$medianDeg — expected heavy tail")
  }

  test("host graph collapses page-level links to weighted host edges") {
    val pages = Seq(
      ("https://a.com/1", "<a href=\"https://b.com/x\">x</a> <a href=\"https://b.com/y\">y</a> <a href=\"https://a.com/2\">self</a>"),
      ("https://a.com/2", "<a href=\"https://b.com/x\">x</a>"),
      ("https://b.com/x", "<a href=\"https://a.com/1\">back</a>"))
      .toDF("url", "html").withColumn("html", col("html").cast("binary"))
    val g = EdgeExtract.hostGraph(pages).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(g == Map(("a.com", "b.com") -> 3L, ("b.com", "a.com") -> 1L))
    val loops = EdgeExtract.hostGraph(pages, dropSelfLoops = false).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(loops(("a.com", "a.com")) == 1L && loops(("a.com", "b.com")) == 3L)
    // host(): port/path/query/fragment stripped
    val hosts = Seq("https://h.io:8080/p?q=1#f", "http://x.y.z/", "ftp://nope/a")
      .toDF("u").select(EdgeExtract.host(col("u"))).collect().map(_.getString(0))
    assert(hosts.toSeq == Seq("h.io", "x.y.z", ""))
  }

  test("anchor extraction: text paired with its href, trimmed, empties/non-http dropped") {
    val pages = Seq(
      ("https://a.com/1",
        "<a href=\"https://b.com/x\"> Click  Here </a>" +
          "<a class=\"z\" href=\"https://c.com/y\" rel=\"nofollow\">c page</a>" +
          "<a href=\"https://d.com/e\"><img src=\"i.png\"/></a>" + // empty anchor
          "<a href=\"/relative\">rel</a>"),                        // non-http
      ("https://a.com/2", "<A HREF='https://b.com/x'>click here</A>"))
      .toDF("url", "html").withColumn("html", col("html").cast("binary"))
    val got = EdgeExtract.linksWithAnchors(pages).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("https://a.com/1", "https://b.com/x", "Click  Here"),
      ("https://a.com/1", "https://c.com/y", "c page"),
      ("https://a.com/2", "https://b.com/x", "click here")))
  }

  test("topAnchors: salted two-phase equals one global window, count-then-anchor order") {
    // 40 targets × anchors kw0..kw6 with skewed multiplicities
    val pages = (0 until 200).flatMap { k =>
      val links = (0 until 5).map { j =>
        val t = (k * 13 + j * 29) % 40
        s"""<a href="https://t.example/$t">kw${(k + j) % 7}</a>"""
      }
      Seq((s"https://s.example/$k", links.mkString))
    }.toDF("url", "html").withColumn("html", col("html").cast("binary"))
    val fast = EdgeExtract.topAnchors(pages, k = 3, salts = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    // oracle: unsalted single global window
    import org.apache.spark.sql.expressions.Window
    val slow = EdgeExtract.linksWithAnchors(pages)
      .groupBy("dst_url", "anchor").agg(count(lit(1)).as("n"))
      .withColumn("a_rank", row_number().over(
        Window.partitionBy("dst_url").orderBy(col("n").desc, col("anchor"))).cast("int"))
      .filter(col("a_rank") <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(fast == slow)
    assert(fast.nonEmpty && fast.groupBy(_._1).forall(_._2.size <= 3))
  }

  test("entry: the edge cut is released once PageRank has run") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val top = SparkEntry.entry(spark)
    // RDDs released by earlier suites may leave meanwhile: count only new ones
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 1, "only PageRank's final state, which the result reads, stays")
    assert(top.count() == 20)
  }
}
