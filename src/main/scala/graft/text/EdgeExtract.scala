package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.core.Lineage

/**
 * pages(url, warc_ts, html, text, lang) → url→url edge table — the front of
 * the north-rule pipeline (the reference's equivalent entry point is the
 * edge-list parser, `/root/reference/src/totem/totem_graph.cu:30-251`; link
 * extraction itself has no reference implementation and is defined here).
 *
 * [[edges]] steps (all declarative, codegen'd — no UDFs), each read once
 * from a lineage cut ([[graft.core.Lineage]]) rather than recomputed:
 *  1. one href harvest: `regexp_extract_all` over the raw html, cut as
 *     `(src_url, dst_url)` — the regex runs once per page;
 *  2. one URL dictionary `(url, vid)` with dense deterministic ids
 *     ([[urlDictionary]]), built from that cut;
 *  3. edges = links hash-joined to the dictionary on both endpoints
 *     (`shuffle_hash` on the O(V) dictionary side, as in PageRank — no
 *     sort-merge join), returned as an eager cut.
 */
object EdgeExtract {

  private val HrefPattern = """(?i)<a\s[^>]*href\s*=\s*["']([^"'#\s>]+)["']"""

  /** (src_url, dst_url) pairs, duplicates preserved (parallel links are real
   * edges in the reference's multigraph model). Only absolute http(s) links
   * are kept. */
  def links(pages: DataFrame): DataFrame =
    pages.select(
      col("url").as("src_url"),
      explode(regexp_extract_all(col("html").cast("string"), lit(HrefPattern), lit(1)))
        .as("dst_url"))
      .filter(col("dst_url").startsWith("http"))

  /**
   * Deterministic dense vertex ids. Hash ids collide at 10^12 urls, so ids
   * come from a total order over urls. `zipWithIndex`-free, pure SQL:
   * a global `row_number` would single-task; instead ids are assigned per
   * hash bucket: bucket = `pmod(xxhash64(url), buckets)`, count per bucket,
   * prefix-sum the bucket offsets (tiny driver array), then id = bucket
   * offset + `row_number` by url within the bucket. O(n log n) shuffle, no
   * single-task bottleneck — survives 10^12 rows.
   *
   * Eager: the distinct bucketed urls are cut once (the bucket counts and
   * the `row_number` both read that cut, which is released before
   * returning), and the dictionary comes back as a [[Lineage.cut]] frame —
   * release it once every plan reading it has run.
   */
  def urlDictionary(allUrls: DataFrame, buckets: Int = 256): DataFrame = {
    val spark = allUrls.sparkSession
    val bucketed = Lineage.cut(allUrls.select(col("url")).distinct()
      .withColumn("b", pmod(xxhash64(col("url")), lit(buckets)).cast("int")))
    val counts = bucketed.groupBy("b").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until buckets).scanLeft(0L)((acc, b) => acc + counts.getOrElse(b, 0L))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until buckets).map(b => Row(b, offsets(b))), 1),
      StructType(Seq(StructField("b", IntegerType), StructField("off", LongType))))
    val dict = Lineage.cut(bucketed
      .withColumn("rn", row_number().over(Window.partitionBy("b").orderBy("url")).cast("long") - 1L)
      .join(broadcast(offDf), "b")
      .select(col("url"), (col("off") + col("rn")).as("vid")))
    Lineage.release(bucketed)
    dict
  }

  private val AnchorPattern =
    """(?i)<a\s[^>]*href\s*=\s*["']([^"'#\s>]+)["'][^>]*>([^<]*)</a>"""

  /** (src_url, dst_url, anchor) triples — [[links]] plus the anchor TEXT of
   * each link. Anchor text is how the web describes a page in third-party
   * words; aggregated per target it is a standard training-pair source
   * (query→doc relevance) and ranking signal. Both capture groups come from
   * `regexp_extract_all` over the same pattern and are `arrays_zip`ped, so
   * extraction stays one codegen'd projection — no UDF, no second scan.
   * Anchors are whitespace-trimmed; empty anchors and non-http targets are
   * dropped. */
  def linksWithAnchors(pages: DataFrame): DataFrame = {
    val h = col("html").cast("string")
    pages.select(
        col("url").as("src_url"),
        regexp_extract_all(h, lit(AnchorPattern), lit(1)).as("__u"),
        regexp_extract_all(h, lit(AnchorPattern), lit(2)).as("__t"))
      .select(col("src_url"), explode(arrays_zip(col("__u"), col("__t"))).as("__z"))
      .select(col("src_url"), col("__z.__u").as("dst_url"),
        trim(col("__z.__t")).as("anchor"))
      .filter(col("dst_url").startsWith("http") && length(col("anchor")) > 0)
  }

  /**
   * Top-k anchor texts per TARGET url by inbound count —
   * `(dst_url, anchor, n, a_rank)`, ties broken by anchor string so the
   * result is deterministic. Aggregation is a map-side-combinable
   * (dst, anchor) count; the per-target top-k is TWO-PHASE SALTED (same
   * argument as `Curation.capPerKey`): phase 1 ranks inside
   * (dst, hash(anchor) % salts) buckets — any true global top-k row is
   * beaten by at most k-1 rows, so it survives its bucket — and phase 2
   * ranks the ≤ salts·k survivors. A popular url with millions of distinct
   * anchors (the google.com case) never sorts more than its hottest
   * bucket's share in one task.
   */
  def topAnchors(pages: DataFrame, k: Int = 3, salts: Int = 16): DataFrame = {
    val counts = linksWithAnchors(pages)
      .groupBy(col("dst_url"), col("anchor")).agg(count(lit(1)).as("n"))
    val phase1 = counts
      .withColumn("__s", pmod(xxhash64(col("anchor")), lit(salts)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("dst_url"), col("__s"))
          .orderBy(col("n").desc, col("anchor"))))
      .filter(col("__rn") <= k)
    phase1
      .withColumn("a_rank", row_number().over(
        Window.partitionBy(col("dst_url"))
          .orderBy(col("n").desc, col("anchor"))).cast("int"))
      .filter(col("a_rank") <= k)
      .select(col("dst_url"), col("anchor"), col("n"), col("a_rank"))
  }

  /** Host part of an absolute http(s) url (authority minus port). */
  def host(url: Column): Column =
    regexp_extract(url, "^https?://([^/:?#]+)", 1)

  /**
   * Collapse the page-level link graph to a weighted HOST graph — the
   * standard first aggregation over a crawl (host-level rank, domain
   * spam analysis): `(src_host, dst_host, weight = #page-level links)`.
   * The quotient-graph analog of [[graft.core.Graph.contract]] where the
   * partition is the url's host, computed inline (no O(V) mapping join —
   * the "mapping" is a codegen'd regex on each endpoint). Intra-host links
   * are dropped when `dropSelfLoops`.
   */
  def hostGraph(pages: DataFrame, dropSelfLoops: Boolean = true): DataFrame = {
    val l = links(pages).select(
      host(col("src_url")).as("src_host"), host(col("dst_url")).as("dst_host"))
    val g = l.groupBy("src_host", "dst_host").agg(count(lit(1)).as("weight"))
    if (dropSelfLoops) g.filter(col("src_host") =!= col("dst_host")) else g
  }

  /** Full pipeline: pages → edges(src: Long, dst: Long). Dangling link
   * targets (urls never crawled) still get vertex ids — they are real
   * vertices of the web graph (zero out-degree).
   *
   * Eager: the harvest, the dictionary and the edge table all run inside
   * this call. The result is a [[Lineage.cut]] frame (so
   * [[graft.core.Graph.ensureCut]] does not cut it again); the link and
   * dictionary cuts are released before returning, so the result's blocks
   * are the only ones this call leaves persisted. */
  def edges(pages: DataFrame): DataFrame = {
    val l = Lineage.cut(links(pages))
    val dict = urlDictionary(pages.select(col("url")).union(l.select(col("dst_url").as("url"))))
    def ids(end: String) =
      dict.select(col("url").as(s"${end}_url"), col("vid").as(end)).hint("shuffle_hash")
    val out = Lineage.cut(l.join(ids("src"), "src_url").join(ids("dst"), "dst_url")
      .select(col("src"), col("dst")))
    Lineage.release(l)
    Lineage.release(dict)
    out
  }
}
