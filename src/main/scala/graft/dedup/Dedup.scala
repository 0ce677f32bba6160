package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.text.TextAnalysis

/**
 * Deduplication operators for web-scale training-data pipelines: exact,
 * character-n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
 *
 * Shared conventions: input is a documents table with an id column and a
 * text column; "pair" outputs are (id_a, id_b, score) with id_a < id_b;
 * "dedup" outputs keep the minimum id per duplicate group (deterministic
 * keeper). Everything is shuffle-bounded: candidate generation always goes
 * through a bucket-join (hash, band, or plane signature), never a cross
 * join, so cost is O(Σ bucket²) with explicitly capped bucket sizes.
 */
object Dedup {

  /** Exact duplicate groups by content hash: (hash, n_docs, keeper). */
  def exactGroups(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.groupBy(md5(col(text)).as("hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(id)).as("keeper"))

  /** Exact dedup: one row per distinct text, the minimum id survives. */
  def dedupExact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val keepers = exactGroups(docs, id, text).select(col("keeper").as(id))
    docs.join(keepers, Seq(id), "left_semi")
  }

  /**
   * Character n-gram Jaccard similarity, EXACT, via prefix filtering
   * (Chaudhuri et al. SSJoin / Xiao et al. PPJoin): J = |A∩B| / |A∪B| over
   * DISTINCT shingle sets.
   *
   * Candidate generation: number every shingle (`sid`) in the global
   * (frequency, shingle) order — rarest first — and emit only each
   * document's PREFIX: its |A| - ⌈t·|A|⌉ + 1 lowest ids. Two sets with
   * J ≥ t must share a prefix shingle under any consistent total order (if
   * all prefix shingles were disjoint, the overlap would be too small), so
   * recall is 100%. Because hot stopword-shingles sort LAST they almost
   * never enter a prefix — this is what kills the O(Σ freq²)-pairs blowup
   * of a naive shared-shingle join at web scale. Candidates are then
   * verified with the exact intersection over each document's full set
   * (a bitmap over the ids, or the id array when the universe is large).
   *
   * One row per pair, without a `distinct`: a pair meets once per shared
   * prefix shingle, and only the row whose `sid` is the pair's FIRST
   * shared shingle (no common id below it in the two full sets) is kept.
   * This is exact. If any candidate row of a pair survives the filters,
   * the first common shingle s* of the full sets sorts at or before that
   * row's shingle in both documents, so it lies in both prefixes; its
   * frequency is at most the row's (ids follow frequency), so it passes
   * `maxShingleFreq`; and its ranks are no later, so its positional bound
   * is at least as large. Hence every such pair keeps exactly its s* row.
   *
   * `maxShingleFreq` remains a candidate-stage safety cap (a pair whose
   * ONLY shared prefix shingle is hotter than the cap is dropped); at
   * verify scale it never binds, so the DuckDB oracle (exhaustive join)
   * still matches exactly.
   *
   * Memory: every aggregate runs in a stage of its own and the joins are
   * shuffled hash joins, so a task holds at most one memory-managed
   * operator. There is no per-document window: each document's sorted id
   * array is its shingle list in prefix order, so the prefix (and each
   * shingle's rank) is read off it row by row. The shingle rows and the
   * per-document sets are each built once; the call returns its result as
   * an eager [[graft.core.Lineage.cut]] (the caller releases it) and
   * releases every intermediate it made.
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.7,
                        maxShingleFreq: Int = 1000,
                        id: String = "doc_id", text: String = "text",
                        bitmapMaxUniverse: Long = BitmapMaxUniverse): DataFrame = {
    // normalization hoisted into a projection: nested in the shingle lambda
    // it would re-execute per array element (O(L²) per document). Dedup is
    // PER DOCUMENT (array_distinct, a narrow pass)
    val sh = Lineage.cut(
      docs.select(col(id), TextAnalysis.normalizeForShingles(col(text)).as("__t"))
        .select(col(id), explode(array_distinct(TextAnalysis.rawShingles(col("__t"), n))).as("sh")))
    // dense shingle ids in the global (f, sh) prefix order; ids below
    // `underCap` are exactly the shingles with f <= maxShingleFreq
    val dict = graft.core.Ranking.globalRank(
      sh.groupBy("sh").agg(count(lit(1)).as("f")), Seq(col("f"), col("sh")), "sid",
      buckets = 32)
    val stats = dict.agg(count(lit(1)), count(when(col("f") <= maxShingleFreq, 1))).head()
    val (universe, underCap) = (stats.getLong(0), stats.getLong(1))
    // verify representation: two physical strategies, same exact semantics
    // (an AQE-style adaptive choice):
    //  - small shingle UNIVERSE (vocabulary-limited corpora — where, notably,
    //    candidate pruning is weakest and candidate counts largest): each
    //    doc's set is a fixed-width bitmap over the ids; |A∩B| =
    //    Σ bit_count(a & b) — pure integer ops, ~50× cheaper per pair than
    //    hashing arrays. BitmapOr sets one bit per shingle row into one
    //    mutable width-long buffer;
    //  - huge universe (real web text): the doc's id array (candidates are
    //    few there — discriminative shingles make the prefix filter
    //    selective).
    // Either way each document also gets its ids sorted, which is its
    // (f, sh)-ordered shingle list: the prefix is read off it row by row.
    val bitmaps = universe <= bitmapMaxUniverse
    val ids = array_sort(collect_list("sid")).as("ids")
    val byDoc = sh.join(dict.hint("shuffle_hash"), "sh").groupBy(id)
    val sets = Lineage.cut(
      if (bitmaps) byDoc.agg(ids,
        graft.functions.BitmapOr.agg(col("sid"), math.max(1, ((universe + 63) / 64).toInt)).as("bm"))
      else byDoc.agg(ids))
    val set = if (bitmaps) "bm" else "ids"
    Lineage.release(sh)
    // one row per prefix shingle: (id, sid, r = its 1-based rank in the
    // document, sz = the set size). The size rides inside the generator:
    // `select(size(ids), explode(..))` would copy the whole array into every
    // exploded row (O(L²) per document)
    val sz = size(col("ids"))
    val prefix = sets.select(col(id), explode(transform(
        slice(col("ids"), lit(1), (sz - ceil(lit(threshold) * sz) + 1).cast("int")),
        (x, i) => struct(x.as("sid"), (i + 1).as("r"), sz.as("sz")))).as("__p"))
      .select(col(id), col("__p.sid").as("sid"), col("__p.r").as("r"), col("__p.sz").as("sz"))
      .filter(col("sid") < underCap)
    // PPJoin POSITIONAL filter (Xiao et al.): a shared prefix shingle at
    // ranks (ra, rb) bounds the overlap by 1 + min(|A|-ra, |B|-rb)
    // (everything shared sorts at or after it), and J ≥ t needs overlap ≥
    // t/(1+t)·(|A|+|B|). For the FIRST common shingle the bound ≥ the true
    // overlap, so no qualifying pair is lost — but corpus-wide stopword-ish
    // shingles (late ranks everywhere) stop producing candidates.
    val alpha = lit(threshold / (1.0 + threshold))
    val cand = prefix.select(col(id).as("ia"), col("sid"), col("r").as("ra"), col("sz").as("na"))
      .join(prefix.select(col(id).as("ib"), col("sid"), col("r").as("rb"), col("sz").as("nb"))
        .hint("shuffle_hash"), "sid")
      .filter(col("ia") < col("ib"))
      // LENGTH filter (safe: J ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ t forces
      // the set sizes within a factor t of each other)
      .filter(least(col("na"), col("nb")) + lit(1e-9)
        >= lit(threshold) * greatest(col("na"), col("nb")))
      .filter(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb")) + lit(1e-9)
        >= alpha * (col("na") + col("nb")))
      .join(sets.select(col(id).as("ia"), col(set).as("sa")).hint("shuffle_hash"), "ia")
      .join(sets.select(col(id).as("ib"), col(set).as("sb")).hint("shuffle_hash"), "ib")
    val sid = col("sid")
    val (first, inter) =
      if (bitmaps) {
        // no common bit below sid: words before sid's word, then its low bits
        val word = shiftright(sid, 6).cast("int")
        val low = bitwise_not(call_function("shiftleft", lit(-1L), pmod(sid, lit(64L)).cast("int")))
        (!exists(sequence(lit(0), word), i => col("sa")(i).bitwiseAND(col("sb")(i))
          .bitwiseAND(when(i < word, lit(-1L)).otherwise(low)) =!= 0),
          aggregate(zip_with(col("sa"), col("sb"), (x, y) => bit_count(x.bitwiseAND(y))),
            lit(0), (acc, v) => acc + v))
      } else
        (!arrays_overlap(filter(col("sa"), x => x < sid), col("sb")),
          size(array_intersect(col("sa"), col("sb"))))
    val out = Lineage.cut(cand.filter(first)
      .select(col("ia"), col("ib"), col("na"), col("nb"), inter.cast("double").as("inter"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold))
    Lineage.release(sets)
    out
  }

  /** Universe cap for the bitmap verify path: 2^18 ids = 4 KiB/doc bitmap.
   * Vocabulary-limited corpora are exactly where candidate pruning is
   * weakest and candidate counts largest, and there the AND-popcount scan
   * (≤ 4096 long words/pair) stays far cheaper than hashing arrays —
   * measured on the bench 10× leg when the array path still held shingle
   * strings: forcing it at a 20k universe made the verify 2-3× SLOWER
   * despite the smaller per-pair footprint. The build side is the O(1)/row [[graft.functions.BitmapOr]]
   * aggregate, so the only width-proportional cost left is the per-pair
   * scan. The switch is execution-only: both paths produce identical
   * pairs. */
  final val BitmapMaxUniverse = 1L << 18

  /** Near-duplicate groups from a pair table: connected components over the
   * pair graph (HashMin), then keeper = min id per group. */
  def groupsFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.alg.ConnectedComponents.run(edges).components
      .select(col("vid").as("doc_id"), col("component").as("group_id"))
  }

  /**
   * Full-corpus near-duplicate clustering — the canonicalization stage of a
   * fuzzy-dedup pipeline (pairs → transitive closure → one keeper per
   * cluster): every document gets a cluster id = the minimum doc id of its
   * connected component in the near-dup pair graph (HashMin WCC, so the
   * cluster id IS the keeper id); documents in no pair are their own
   * singleton cluster. `pairs` can come from ANY candidate generator
   * ([[ngramJaccardPairs]], MinHash LSH band pairs, SimHash banded pairs,
   * embedding-cosine pairs) — the contract is just (id_a, id_b).
   *
   * Returns (id, cluster, is_keeper). Scale shape: the pair graph is tiny
   * relative to the corpus (near-dup rate ≪ 1), so the WCC runs on the
   * pairs only and the corpus joins in once at the end — no per-superstep
   * touch of the full document table.
   */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame,
                      id: String = "doc_id"): DataFrame = {
    // no cut here: the WCC reads its edge table in one job, into its own
    // cut of the symmetrized pairs, and releases that cut when it returns.
    // Both directions scan `pairs`, which is cheap for what the generators
    // here return (a cut) and for a stored table.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = graft.alg.ConnectedComponents.run(edges).components
    docs.select(col(id))
      .join(comp.select(col("vid").as(id), col("component")), Seq(id), "left")
      .select(col(id),
        coalesce(col("component"), col(id)).as("cluster"))
      .withColumn("is_keeper", col(id) === col("cluster"))
  }

  /** End-to-end fuzzy dedup: n-gram-Jaccard candidate pairs at `threshold`
   * → [[nearDupClusters]] → keep only each cluster's keeper row. */
  def dedupFuzzy(docs: DataFrame, n: Int = 5, threshold: Double = 0.7,
                 maxShingleFreq: Int = 1000,
                 id: String = "doc_id", text: String = "text"): DataFrame = {
    val pairs = ngramJaccardPairs(docs, n, threshold, maxShingleFreq, id, text)
    val keepers = nearDupClusters(docs, pairs, id)
      .filter(col("is_keeper")).select(col(id))
    docs.join(keepers, Seq(id), "left_semi")
  }

  /**
   * CORPUS-LEVEL paragraph dedup (CCNet-style, Wenzek et al. 2019, public):
   * split every document on newlines, keep only the globally FIRST
   * occurrence of each distinct trimmed non-empty paragraph (first =
   * minimum (id, position) — deterministic), and reassemble each document
   * from its surviving paragraphs in original order. Boilerplate repeated
   * across a crawl (navigation, cookie banners, license footers) survives
   * exactly once in the whole corpus.
   *
   * Output: (id, text_kept, n_kept) for every input document — text_kept is
   * "" when every paragraph of the document occurred earlier elsewhere.
   *
   * Scale design: the winner per paragraph is a packed-BIGINT min
   * grouped by the paragraph hash — a map-side-combinable hash aggregation, so
   * the exchange carries one candidate per (task, paragraph), never a
   * paragraph's full occurrence list; no windows. Reassembly sorts only
   * WITHIN one document (array_sort over its kept positions). Joining back
   * on the 128-bit content hash (md5) rather than the paragraph text keeps
   * the shuffled rows narrow; a hash collision would need 2^64 paragraphs.
   */
  def dedupParagraphs(docs: DataFrame, id: String = "doc_id",
                      text: String = "text"): DataFrame = {
    val paras = docs.select(col(id).as("id"),
        posexplode(filter(transform(split(col(text), "\n"), p => trim(p)),
          p => length(p) > 0)).as(Seq("pos", "para")))
      .withColumn("h", md5(col("para")))
    // winner key packed into ONE BIGINT (id * 2^20 + pos) so the census is a
    // hash aggregate, not a SortAggregate — min(struct) is not
    // hash-aggregable; same encoding + domain bounds as [[dedupSubstrings]]
    // (pos < 2^20 paragraphs per document, id < 2^43)
    val pkey = col("id") * lit(1048576L) + col("pos")
    // the packed key is globally unique per occurrence, so the semi-join
    // needs no hash column at all — winner keys ARE the kept occurrences
    val winners = paras.groupBy(col("h")).agg(min(pkey).as("wk"))
    val kept = paras.join(winners.select(col("wk")), pkey === col("wk"), "left_semi")
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("para")))).as("ps"))
      .select(col("id"),
        array_join(transform(col("ps"), p => p("para")), "\n").as("text_kept"),
        size(col("ps")).cast("long").as("n_kept"))
    docs.select(col(id).as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id").as(id),
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /**
   * Exact substring dedup at token-window granularity, after Lee et al.
   * 2021 ("Deduplicating Training Data Makes Language Models Better",
   * arXiv:2107.06499, public): any `n`-token window whose text occurs more
   * than once ACROSS THE CORPUS (including repeats within one document) is
   * removed from every occurrence except the globally first. The reference
   * engine has no text layer (Totem is graph-only); this is a
   * training-data-pipeline extension per the graft brief. Lee et al. build
   * a corpus-wide suffix array; at the fixed-window granularity the same
   * "no exact n-token span survives twice" guarantee reduces to a
   * hash census over all windows — the shape below.
   *
   * Deterministic contract (shared verbatim with the DuckDB oracle):
   *  - tokens = whitespace runs of the LOWERCASED text (the corpus
   *    tokenizer used by [[graft.text.Repetition]]);
   *  - window start s is 1-based and covers tokens [s, s+n-1]; its identity
   *    is md5 of the tokens joined by one space (128 bits — a collision
   *    needs ~2^64 distinct windows);
   *  - the surviving occurrence per window text = lexicographically
   *    smallest (id, s);
   *  - a token is removed iff ANY losing occurrence covers its position;
   *    kept tokens are re-joined by single spaces. (As in Lee et al.,
   *    removal can butt-splice previously distant tokens; downstream
   *    training treats the seam as a document boundary.)
   *
   * Output: (id, n_tokens, n_removed, text_kept) — one row per input doc,
   * `text_kept = ""` when everything was removed.
   *
   * Scale design: one explode yields O(total tokens) occurrence rows; the
   * census is a map-side-combinable `groupBy(h).agg(count, min(struct))`,
   * so the exchange carries one candidate per (task, window) — the same
   * shape as [[dedupParagraphs]]. Loser spans expand to at most n×losers
   * position rows (n is a small constant), and the rebuild is a token-level
   * anti-join + in-document array_sort: no global windows, no driver
   * collect, nothing quadratic in document length.
   */
  def dedupSubstrings(docs: DataFrame, n: Int = 8, id: String = "doc_id",
                      text: String = "text"): DataFrame = {
    require(n >= 2, s"window must span at least 2 tokens, got $n")
    val toks = docs.select(col(id).as("id"),
      regexp_extract_all(lower(col(text)), lit("[^ \\t\\n\\r]+"), lit(0)).as("t"))
    // docs shorter than n tokens have no windows (sequence() would descend
    // on a negative span, so the filter is load-bearing, not an optimization)
    val occ = toks.filter(size(col("t")) >= n)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("t")) - (n - 1)),
        s => struct(s.as("s"), md5(concat_ws(" ", slice(col("t"), s, lit(n)))).as("h"))))
      .as("o"))
      .select(col("id"), col("o.s").as("s"), col("o.h").as("h"))
    // winner key packed into ONE BIGINT (id * 2^20 + s): min(struct) is not
    // hash-aggregable (it plans a SortAggregate over every occurrence row —
    // two extra per-task sorts); min(BIGINT) keeps the census a pure
    // HashAggregate. Order-isomorphic to (id, s) while s < 2^20 (1M tokens
    // per document) and id < 2^43, both documented domain bounds; the DuckDB
    // oracle uses the same encoding, so the contract is shared verbatim.
    val key = col("id") * lit(1048576L) + col("s")
    val census = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(key).as("wkey"))
    val losers = occ.join(census, Seq("h"))
      .filter(col("c") >= 2 && key =!= col("wkey"))
    val removed = losers
      .select(col("id"), explode(sequence(col("s"), col("s") + (n - 1))).as("p"))
      .distinct()
    val tokens = toks
      .select(col("id"), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("p"), col("tok"))
    val rebuilt = tokens.join(removed, Seq("id", "p"), "left_anti")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("p"), col("tok")))).as("ps"))
      .select(col("id"),
        array_join(transform(col("ps"), x => x("tok")), " ").as("text_kept"),
        size(col("ps")).cast("long").as("n_kept"))
    toks.select(col("id"), size(col("t")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(id), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }
}
