package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Lineage
import graft.dedup.{Dedup, MinHash, SimHash}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
    (2L, "the quick brown fox jumped over the lazy dog"),     // near dup of 0
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy cat"),      // near dup of 0
    (5L, "zzz qqq xxx unrelated noise tokens www yyy")
  ).toDF("doc_id", "text").cache()

  test("exact dedup keeps min id per identical text") {
    val kept = Dedup.dedupExact(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L, 4L, 5L))
    val groups = Dedup.exactGroups(docs).filter(col("n_docs") > 1).collect()
    assert(groups.length == 1 && groups(0).getLong(2) == 0L)
  }

  test("ngram jaccard finds near-duplicate pairs above threshold only") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical
    assert(pairs.contains((0L, 2L)) || pairs.contains((0L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("jaccard value is exact for identical docs") {
    val j = Dedup.ngramJaccardPairs(docs, n = 4, threshold = 0.5)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .collect()(0).getDouble(2)
    assert(j == 1.0)
  }

  test("minhash LSH finds the same near-dups as exact jaccard (high threshold)") {
    val pairs = MinHash.nearDupPairs(docs, k = 64, bands = 16, n = 4, threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash estimated jaccard = 1 for identical docs") {
    val est = MinHash.nearDupPairs(docs, k = 64, bands = 16, n = 4, threshold = 0.6)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .collect()(0).getDouble(2)
    assert(est == 1.0)
  }

  test("incremental minhash: new-vs-all pairs exactly, old×old never emitted") {
    // new batch = even ids; expected = brute force over md5 signatures
    val isNew = col("doc_id") % 2 === 0
    val k = 8
    val oldSigs = MinHash.md5Signatures(docs.filter(!isNew), k, n = 4)
    val newSigs = MinHash.md5Signatures(docs.filter(isNew), k, n = 4)
    val got = MinHash.incrementalNearDupPairs(oldSigs, newSigs, bands = 4,
        threshold = 0.5, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val sigs = MinHash.md5Signatures(docs, k, n = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val expect = (for {
      a <- sigs.keys; b <- sigs.keys
      if a != b && a % 2 == 0 && (b % 2 == 1 || a < b)
      eqs = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      if (0 until 4).exists(band =>
        sigs(a)(2 * band) == sigs(b)(2 * band) &&
        sigs(a)(2 * band + 1) == sigs(b)(2 * band + 1))
      est = eqs.toDouble / k if est >= 0.5
    } yield (a, b, est)).toSet
    assert(got == expect)
    assert(got.nonEmpty)                         // 0-1 exact dups cross the split
    assert(got.forall { case (a, _, _) => a % 2 == 0 })  // id_a always new
    // first-crawl path: empty old store degenerates to within-batch pairs
    val empty = oldSigs.limit(0)
    val first = MinHash.incrementalNearDupPairs(empty, newSigs, bands = 4,
        threshold = 0.5, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first == expect.collect { case (a, b, _) if b % 2 == 0 => (a, b) })
  }

  test("simhash: identical docs at hamming 0; near dups within 10; unrelated far") {
    val fp = SimHash.fingerprints(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(0L), fp(2L)) < ham(fp(0L), fp(5L)))
    val pairs = SimHash.nearDupPairs(docs, maxDistance = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("groupsFromPairs groups transitive near-dups with min-id keeper") {
    val pairs = Seq((0L, 1L, 1.0), (1L, 2L, 0.9)).toDF("id_a", "id_b", "jaccard")
    val groups = Dedup.groupsFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(0L) == 0L && groups(1L) == 0L && groups(2L) == 0L)
  }

  test("nearDupClusters: transitive closure, singleton self-clusters, keeper flags") {
    // A~B and B~C but not A~C: one cluster via transitivity; 3 and 5 singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (0L, 4L)).toDF("id_a", "id_b")
    val rows = Dedup.nearDupClusters(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows.size == 6)
    Seq(0L, 1L, 2L, 4L).foreach(d => assert(rows(d)._1 == 0L, s"doc $d"))
    assert(rows(3L) == (3L, true) && rows(5L) == (5L, true))
    assert(rows(0L)._2 && !rows(1L)._2 && !rows(2L)._2 && !rows(4L)._2)
  }

  test("dedupFuzzy keeps one representative per near-dup cluster") {
    // at threshold 0.5 docs 0/1/2/4 are mutual near-dups (q_ngram_jaccard
    // config); 3 and 5 are unrelated -> 3 survivors, min ids
    val kept = Dedup.dedupFuzzy(docs, n = 5, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 5L))
  }

  test("prefix-filtered jaccard equals the exhaustive all-pairs computation") {
    // exactness of the PPJoin-style candidate stage: same pair set and same
    // jaccard values as brute force on the real documents table
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Dedup.ngramJaccardPairs(real, n = 5, threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sh = real.select(col("doc_id"),
        explode(graft.text.TextAnalysis.shingles(col("text"), 5)).as("sh"))
      .distinct().collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val ids = sh.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = sh(ids(i)); b = sh(ids(j))
      inter = (a & b).size
      jac = inter.toDouble / (a.size + b.size - inter) if jac >= 0.4
    } yield ((ids(i), ids(j)), jac)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"$k") }
    // both physical verify strategies (bitmap / string-array) are exact:
    // force the array path and compare
    val arr = Dedup.ngramJaccardPairs(real, n = 5, threshold = 0.4, bitmapMaxUniverse = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(arr.keySet == want.keySet)
    arr.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"array path $k") }
  }

  test("banded md5 simhash pairs are complete for d <= bands-1 (vs brute force)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fp = SimHash.md5Fingerprints(real).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = fp.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      h = java.lang.Long.bitCount(fp(ids(i)) ^ fp(ids(j))) if h <= 3
    } yield (ids(i), ids(j), h.toLong)).toSet
    val banded = SimHash.md5NearDupPairs(real, maxDistance = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
  }

  test("nearDupPairs enforces the pigeonhole recall contract") {
    intercept[IllegalArgumentException] {
      SimHash.nearDupPairs(docs, maxDistance = 10) // needs bands >= 11
    }
    // and the generalized banding accepts a wide-distance query when bands allow
    val wide = SimHash.nearDupPairs(docs, maxDistance = 10, bands = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((0L, 1L)))
  }

  test("works on the driver documents table") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.exactGroups(real, "doc_id", "text")
    assert(exact.count() > 0)
    val sh = SimHash.fingerprints(real, "doc_id", "text")
    assert(sh.count() == real.count())
  }

  test("incremental minhash: both stores empty returns an empty typed frame") {
    val none = MinHash.md5Signatures(docs, 8, n = 4).limit(0)
    val out = MinHash.incrementalNearDupPairs(none, none, bands = 4, threshold = 0.5)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "est_jaccard"))
    assert(out.count() == 0)
  }

  private def real = spark.read.parquet(s"${PlanShapeSpec.Sf}/documents.parquet")

  test("ngram jaccard with a binding maxShingleFreq equals a replay of the capped prefix rule") {
    // replay in plain Scala: distinct 5-gram sets, global (f, sh) order with
    // Spark's byte-wise string order, prefix = the |s| - ceil(t|s|) + 1
    // first shingles, prefix shingles above the cap dropped, then the
    // length and positional filters and the exact Jaccard
    val (t, cap) = (0.4, 8)
    val sets = real.select(col("doc_id"),
        explode(array_distinct(graft.text.TextAnalysis.shingles(col("text"), 5))).as("sh"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val freq = sets.values.toSeq.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    def before(a: String, b: String): Boolean =
      if (freq(a) != freq(b)) freq(a) < freq(b)
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    def replay(cap: Int): Map[(Long, Long), Double] = {
      val prefix = sets.map { case (d, s) =>
        val p = s.size - math.ceil(t * s.size).toInt + 1
        d -> s.toSeq.sortWith(before).take(p).zipWithIndex
          .collect { case (x, i) if freq(x) <= cap => x -> (i + 1) }.toMap
      }
      val alpha = t / (1.0 + t)
      val ids = sets.keys.toSeq.sorted
      (for {
        i <- ids.indices; j <- (i + 1) until ids.size
        (a, b) = (ids(i), ids(j)); (na, nb) = (sets(a).size, sets(b).size)
        if math.min(na, nb) + 1e-9 >= t * math.max(na, nb)
        if (prefix(a).keySet & prefix(b).keySet).exists(x =>
          1 + math.min(na - prefix(a)(x), nb - prefix(b)(x)) + 1e-9 >= alpha * (na + nb))
        inter = (sets(a) & sets(b)).size
        jac = inter.toDouble / (na + nb - inter) if jac >= t
      } yield (a, b) -> jac).toMap
    }
    val want = replay(cap)
    assert(want.size < replay(Int.MaxValue).size, "the cap must drop pairs here")
    for (universe <- Seq(Dedup.BitmapMaxUniverse, 0L)) {
      val out = Dedup.ngramJaccardPairs(real, n = 5, threshold = t, maxShingleFreq = cap,
        bitmapMaxUniverse = universe)
      val got = out.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      assert(got.map(_._1).distinct.length == got.length, "one row per pair")
      assert(got.toMap == want, s"bitmapMaxUniverse $universe")
      Lineage.release(out)
    }
  }

  /** Replay of capped banding in plain Scala: the pairs sharing some band
   * whose bucket holds 2 to `maxBucket` documents. */
  private def bandedReplay(sigs: Map[Long, Seq[Any]], bands: Int, rows: Int,
                           maxBucket: Int): Set[(Long, Long)] =
    (0 until bands).flatMap { b =>
      sigs.groupBy(_._2.slice(b * rows, (b + 1) * rows)).values
        .filter(g => g.size > 1 && g.size <= maxBucket)
        .flatMap(g => for (x <- g.keys; y <- g.keys if x < y) yield (x, y))
    }.toSet

  test("banding stays exact when the cap drops an earlier band: pair found through a later band") {
    // 60 signatures over a 3-value alphabet, 6 bands of 2: ~7 documents per
    // bucket, so maxBucket = 7 drops some buckets while pairs share several
    val rnd = new scala.util.Random(7)
    val (bands, rows, cap) = (6, 2, 7)
    val sigs = (0L until 60L).map(d => d -> Seq.fill(bands * rows)(rnd.nextInt(3).toLong)).toMap
    val sigDf = {
      val s = spark; import s.implicits._
      sigs.toSeq.toDF("doc_id", "sig")
    }
    val want = bandedReplay(sigs, bands, rows, cap)
    def firstShared(a: Long, b: Long): Int =
      (0 until bands).find(i => (i * rows until (i + 1) * rows).forall(j => sigs(a)(j) == sigs(b)(j))).get
    val viaLaterBand = want.filter { case (a, b) =>
      val f = firstShared(a, b)
      sigs.count(_._2.slice(f * rows, (f + 1) * rows) == sigs(a).slice(f * rows, (f + 1) * rows)) > cap
    }
    assert(viaLaterBand.nonEmpty, "some pair's first shared band must be capped")
    val cand = MinHash.candidatePairs(sigDf, bands, rows, maxBucket = cap)
    val got = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.distinct.length == got.length, "one row per pair")
    assert(got.toSet == want)
    Lineage.release(cand)
    // the incremental path shares the banding: new = even ids, every
    // candidate kept (threshold 0), estimate = share of equal minhashes
    val isNew = col("doc_id") % 2 === 0
    val inc = MinHash.incrementalNearDupPairs(sigDf.filter(!isNew), sigDf.filter(isNew),
      bands, threshold = 0.0, maxBucket = cap, k = bands * rows)
    val incGot = inc.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val incWant = want.toSeq.flatMap { case (x, y) =>
      val est = sigs(x).zip(sigs(y)).count { case (u, v) => u == v }.toDouble / (bands * rows)
      if (x % 2 == 0) Some((x, y, est)) else if (y % 2 == 0) Some((y, x, est)) else None
    }
    assert(incGot.length == incGot.distinct.length)
    assert(incGot.toSet == incWant.toSet)
    Lineage.release(inc)
  }

  test("candidatePairs on the documents table: one row per distinct pair, equal to the replay") {
    val sigs = MinHash.signatures(real, k = 128, n = 5)
    val want = bandedReplay(sigs.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap,
      32, 4, 2000)
    val cand = MinHash.candidatePairs(sigs, bands = 32, rows = 4)
    val got = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, "a pair meeting in several bands is emitted once")
    assert(got.toSet == want)
    Lineage.release(cand)
  }

  test("pair generators return one cut and release every intermediate") {
    val sc = spark.sparkContext
    def owns(what: String)(call: => DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val out = call
      // RDDs released by earlier suites may leave meanwhile: count new ones
      val added = sc.getPersistentRDDs.keySet -- before
      assert(Lineage.isCut(out), s"$what returns a cut")
      assert(added.size == 1, s"$what leaves its result only, found ${added.size} new RDDs")
      Lineage.release(out)
    }
    owns("ngramJaccardPairs")(Dedup.ngramJaccardPairs(real, n = 5, threshold = 0.5))
    owns("ngramJaccardPairs (id arrays)")(
      Dedup.ngramJaccardPairs(real, n = 5, threshold = 0.5, bitmapMaxUniverse = 0))
    owns("nearDupPairs")(MinHash.nearDupPairs(real, k = 128, bands = 32))
    owns("candidatePairs")(MinHash.candidatePairs(MinHash.signatures(real), bands = 32, rows = 4))
    val isNew = col("doc_id") % 5 === 0
    owns("incrementalNearDupPairs")(MinHash.incrementalNearDupPairs(
      MinHash.md5Signatures(real.filter(!isNew), k = 8, n = 5),
      MinHash.md5Signatures(real.filter(isNew), k = 8, n = 5),
      bands = 4, threshold = 0.5, k = 8))
  }
}
