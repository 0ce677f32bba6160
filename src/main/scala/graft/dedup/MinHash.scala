package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.functions.BitmapOr
import graft.text.TextAnalysis

/**
 * MinHash + LSH near-duplicate detection:
 * shingle → k minhashes → b bands of r rows → band-bucket join → verify.
 *
 * Two hash families:
 *  - [[signatures]]: xxhash64(i, shingle) — fast 64-bit numeric minhash for
 *    production runs;
 *  - [[md5Signatures]]: lexicographic min of md5(i || '|' || shingle) hex —
 *    byte-identical in any engine with md5 (used by the DuckDB-checked
 *    oracle queries; slower, same statistics).
 *
 * Candidate pairs never come from a cross join: documents sharing a band
 * signature land in the same bucket, pairs are generated per bucket (each
 * pair once, at its first kept band — see [[bandJoin]]), then verified by
 * estimated Jaccard = fraction of equal minhash components.
 */
object MinHash {

  /** (id, sh) rows, one per distinct shingle of a document, with
   * normalization hoisted into a projection (inside the shingle lambda it
   * re-executes per element). The dedup is per document (a narrow
   * `array_distinct`); a min over repeats would be the same anyway. */
  private def shingleRows(docs: DataFrame, n: Int, id: String, text: String): DataFrame =
    docs.select(col(id), TextAnalysis.normalizeForShingles(col(text)).as("__t"))
      .select(col(id), explode(array_distinct(TextAnalysis.rawShingles(col("__t"), n))).as("sh"))

  /** (id, sig: array<long>) — k numeric minhashes over char n-gram shingles. */
  def signatures(docs: DataFrame, k: Int = 128, n: Int = 5,
                 id: String = "doc_id", text: String = "text"): DataFrame = {
    val sh = shingleRows(docs, n, id, text)
    val minhashes = (0 until k).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    sh.groupBy(id).agg(minhashes.head, minhashes.tail: _*)
      .select(col(id), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Candidate pairs from banding: b bands of r rows (k = b*r); a pair is a
   * candidate if ANY band puts both documents in one bucket of 2 to
   * `maxBucket` documents (larger, degenerate buckets are dropped to avoid
   * their quadratic pair count). One row per distinct pair: see
   * [[bandJoin]] for the rule that makes it so without a `distinct`.
   * Returned as an eager [[Lineage.cut]]; no other block outlives the call. */
  def candidatePairs(sigs: DataFrame, bands: Int, rows: Int,
                     id: String = "doc_id", maxBucket: Int = 2000): DataFrame =
    bandJoin(Seq(sigs.withColumn("is_new", lit(true))), bands, rows, id, maxBucket)(
      _.select("id_a", "id_b"))

  /** End-to-end: near-dup pairs with estimated Jaccard ≥ threshold — the
   * [[candidatePairs]] join plus the verify, as one eager [[Lineage.cut]]. */
  def nearDupPairs(docs: DataFrame, k: Int = 128, bands: Int = 32, n: Int = 5,
                   threshold: Double = 0.7,
                   id: String = "doc_id", text: String = "text"): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    bandJoin(Seq(signatures(docs, k, n, id, text).withColumn("is_new", lit(true))), bands,
      k / bands, id, maxBucket = 2000)(verify(k, threshold))
  }

  /**
   * Incremental (recrawl) near-dup detection: pairs between a NEW document
   * batch and an already-signed corpus, plus within the new batch — old×old
   * pairs are NEVER regenerated. This is the production shape: a pipeline
   * persists the signature store (id, sig), not the text, and each crawl
   * increment only pays O(new) signature computation plus the bucket joins
   * its own bands touch. `oldSigs` must come from the same (k, shingle-n,
   * hash-family) configuration.
   *
   * Pair orientation: id_a is always from the new batch; for new×new pairs
   * id_a < id_b (emitted once). Banding is complete (a pair with any equal
   * band is a candidate) up to `maxBucket`, through the same [[bandJoin]]
   * as [[candidatePairs]]; the result is an eager [[Lineage.cut]].
   *
   * Pass `k` (the signature width both stores were signed with) whenever
   * the caller knows it — it always does in the production shape, since it
   * configured the signing. With `k = 0` the width is derived from a
   * one-row probe of the store, and when the store is an unmaterialized
   * signing plan (as in the verify harness, which rebuilds it in-query)
   * that probe costs a FULL extra signature pass over the old corpus
   * before the real one (measured: the round-3 q_dedup_incremental ran
   * 12-13 s cold vs ~6 s with the probe eliminated).
   */
  def incrementalNearDupPairs(oldSigs: DataFrame, newSigs: DataFrame,
                              bands: Int, threshold: Double,
                              id: String = "doc_id",
                              maxBucket: Int = 2000,
                              k: Int = 0): DataFrame = {
    require(k >= 0, s"k must be >= 0 (0 = derive by probe), got $k")
    val rowsOpt =
      if (k > 0) {
        require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
        Some(k / bands)
      } else bandRows(oldSigs, newSigs, bands)
    if (rowsOpt.isEmpty)
      // both stores empty (first-ever increment with nothing crawled): no
      // pairs by definition — typed empty frame instead of a .head crash
      return newSigs.select(col(id).as("id_a"), col(id).as("id_b"),
        lit(0.0).as("est_jaccard")).limit(0)
    val rows = rowsOpt.get
    bandJoin(Seq(oldSigs.select(col(id), col("sig"), lit(false).as("is_new")),
        newSigs.select(col(id), col("sig"), lit(true).as("is_new"))),
      bands, rows, id, maxBucket)(verify(bands * rows, threshold))
  }

  /** Estimated Jaccard (share of equal minhashes) of each pair, kept at
   * ≥ `threshold`. */
  private def verify(k: Int, threshold: Double)(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
      (size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
        x => x)).cast("double") / lit(k)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)

  /**
   * The banding shared by every pair generator here. `stores` are (id,
   * sig, is_new) tables, each cut on its own (a union of two signing plans
   * would run both final aggregates in one task); pairs are probed from the
   * new side only (id_a new; id_a < id_b when both are new), so with every
   * row new this is the plain self-join.
   * Each band's key is an xxhash64 of its `rows` minhashes; a bucket
   * (band, key) is kept when it holds 2 to `maxBucket` documents.
   *
   * FIRST-KEPT-BAND rule: the bucket self-join meets a pair once per kept
   * bucket the two documents share, and only the row of the LOWEST such
   * band is kept — no `distinct` (whose partial and final aggregates cost
   * a memory page each in the task that ran them). The rule is row-local:
   * every document carries its band keys and a bitmask of its bands whose
   * bucket was kept, and the row survives iff no earlier band has equal
   * keys with its bit set. Equal keys mean one bucket, so the two
   * documents' bits agree there. This stays exact when the cap drops an
   * earlier band's bucket: that band's bit is clear, and the pair is kept
   * at the first band whose bucket survived.
   *
   * `finish` maps the kept rows (id_a, id_b, band, sig_a, sig_b) to the
   * result, which is returned as an eager [[Lineage.cut]]; every
   * intermediate is built once (both join sides read one in-bucket table)
   * and released before returning. Every aggregate and join build runs in
   * a stage of its own (the joins are shuffled hash joins), so a task holds
   * at most one memory-managed operator.
   */
  private def bandJoin(stores: Seq[DataFrame], bands: Int, rows: Int, id: String,
                       maxBucket: Int)(finish: DataFrame => DataFrame): DataFrame = {
    val keys = array((0 until bands).map(b =>
      xxhash64(concat_ws(",", (0 until rows).map(r =>
        col("sig")(b * rows + r).cast("string")): _*))): _*).as("keys")
    val parts = stores.map(s => Lineage.cut(s.select(col(id), col("sig"), col("is_new"), keys)))
    val keyed = parts.reduce(_ unionByName _)
    val banded = keyed.select(col(id), col("is_new"), posexplode(col("keys")).as(Seq("band", "bkey")))
    val buckets = banded.groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket && col("bn") > 1)
    val inBucket = Lineage.cut(
      banded.join(buckets.hint("shuffle_hash"), Seq("band", "bkey"), "left_semi"))
    val kept = inBucket.groupBy(id)
      .agg(BitmapOr.agg(col("band").cast("long"), (bands + 63) / 64).as("kept"))
    val perDoc = Lineage.cut(keyed.join(kept.hint("shuffle_hash"), id)
      .select(col(id), col("sig"), col("keys"), col("kept")))
    parts.foreach(Lineage.release)
    val band = col("band")
    def keptAt(i: Column): Column =
      call_function("shiftright", col("kept")(shiftright(i, 6)), pmod(i, lit(64)))
        .bitwiseAND(lit(1L)) === 1
    val joined = inBucket.filter(col("is_new"))
      .select(band, col("bkey"), col(id).as("id_a"))
      .join(inBucket.select(band, col("bkey"), col(id).as("id_b"), col("is_new").as("new_b"))
        .hint("shuffle_hash"), Seq("band", "bkey"))
      .filter(col("id_a") =!= col("id_b") && (!col("new_b") || col("id_a") < col("id_b")))
      .join(perDoc.select(col(id).as("id_a"), col("sig").as("sig_a"), col("keys").as("keys_a"),
        col("kept")).hint("shuffle_hash"), "id_a")
      .join(perDoc.select(col(id).as("id_b"), col("sig").as("sig_b"), col("keys").as("keys_b"))
        .hint("shuffle_hash"), "id_b")
      .filter(band === 0 || !exists(sequence(lit(0), band - 1),
        i => col("keys_a")(i) === col("keys_b")(i) && keptAt(i)))
    val out = Lineage.cut(finish(joined))
    Lineage.release(inBucket)
    Lineage.release(perDoc)
    out
  }

  /** k/bands from a one-row probe (both stores must agree on k);
   * None when both stores are empty. Fallback path — see the `k`
   * parameter of [[incrementalNearDupPairs]] for why callers that know
   * the width should pass it. */
  private def bandRows(oldSigs: DataFrame, newSigs: DataFrame, bands: Int): Option[Int] = {
    // array<...> length is not in the schema; contract: caller guarantees
    // equal k. Derive rows from a one-row probe of the old store.
    val k = oldSigs.select(size(col("sig"))).limit(1).collect()
      .headOption.map(_.getInt(0))
      .orElse(newSigs.select(size(col("sig"))).limit(1).collect()
        .headOption.map(_.getInt(0)))
    k.map { kk =>
      require(kk % bands == 0, s"k=$kk must be divisible by bands=$bands")
      kk / bands
    }
  }

  /** Cross-engine-exact md5 variant: (id, sig: array<string>). Used by the
   * DuckDB-checked oracle query — min is lexicographic over hex strings,
   * identical in Spark and DuckDB. */
  def md5Signatures(docs: DataFrame, k: Int, n: Int,
                    id: String = "doc_id", text: String = "text"): DataFrame = {
    val sh = shingleRows(docs, n, id, text)
    val minhashes = (0 until k).map(i =>
      min(md5(concat(lit(i.toString), lit("|"), col("sh")))).as(s"h$i"))
    sh.groupBy(id).agg(minhashes.head, minhashes.tail: _*)
      .select(col(id), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }
}
