package perfbench

import graft.oracle.Reference
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** A result that differs from its reference. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/**
 * Driver-side references the benchmark checks every result against. Graph
 * references delegate to `graft.oracle.Reference` after mapping vertex ids
 * to a dense range; the others are plain sequential replays of each
 * operator's documented semantics.
 */
object Replay {

  def ensure(cond: Boolean, msg: => String): Unit = if (!cond) throw new Mismatch(msg)

  /** Sorted distinct vertex ids of `edges`, and the edges over their dense
   * indexes. The mapping preserves order, so "lowest id" survives it. */
  private def dense(edges: Array[(Long, Long)]): (Array[Long], Array[(Long, Long)]) = {
    val ids = edges.flatMap { case (s, d) => Array(s, d) }.distinct.sorted
    val ix = ids.zipWithIndex.toMap
    (ids, edges.map { case (s, d) => (ix(s).toLong, ix(d).toLong) })
  }

  def pageRank(edges: Array[(Long, Long)]): Map[Long, Double] = {
    val (ids, de) = dense(edges)
    ids.zip(Reference.pageRank(ids.length, de.toSeq)).toMap
  }

  def wcc(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val (ids, de) = dense(edges)
    ids.zip(Reference.wcc(ids.length, de.toSeq).map(i => ids(i.toInt))).toMap
  }

  def triangles(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val simple = edges.filter { case (s, d) => s != d }
    val (ids, de) = dense(simple)
    ids.zip(Reference.triangles(ids.length, de.toSeq)).toMap
  }

  /** Synchronous majority-vote label propagation over the symmetrized
   * multigraph: each round every vertex takes the label held by most of its
   * neighbours (parallel edges vote once each), ties to the lowest label. */
  def majorityLpa(edges: Array[(Long, Long)], iterations: Int): Map[Long, Long] = {
    val (ids, de) = dense(edges)
    val nbrs = Array.fill(ids.length)(mutable.ArrayBuffer[Int]())
    de.foreach { case (s, d) => nbrs(s.toInt) += d.toInt; nbrs(d.toInt) += s.toInt }
    var label = Array.tabulate(ids.length)(identity)
    for (_ <- 1 to iterations) {
      val prev = label
      label = Array.tabulate(ids.length) { v =>
        val votes = mutable.HashMap[Int, Int]()
        nbrs(v).foreach(u => votes(prev(u)) = votes.getOrElse(prev(u), 0) + 1)
        if (votes.isEmpty) prev(v)
        else votes.toSeq.minBy { case (l, n) => (-n, l) }._1
      }
    }
    ids.indices.map(i => ids(i) -> ids(label(i))).toMap
  }

  /** Distinct character n-grams of the whitespace-collapsed, lower-cased
   * text, as `TextAnalysis.normalizeForShingles` + `rawShingles` define them. */
  def shingles(text: String, n: Int): Array[String] = {
    val t = text.toLowerCase.replaceAll("\\s+", " ")
    (0 to t.length - n).map(i => t.substring(i, i + n)).distinct.toArray
  }

  /** Every pair (a < b) whose shingle sets have Jaccard >= t, by comparing
   * all pairs. Pairs whose set sizes differ by more than the factor t are
   * skipped: their Jaccard is at most min/max < t. */
  def jaccardPairs(docs: Array[(Long, String)], n: Int, t: Double): Map[(Long, Long), Double] = {
    val dict = mutable.HashMap[String, Int]()
    val sets = docs.map { case (id, text) =>
      (id, shingles(text, n).map(s => dict.getOrElseUpdate(s, dict.size)))
    }
    val words = (dict.size + 63) / 64
    val bits = sets.map { case (_, s) =>
      val b = new Array[Long](words)
      s.foreach(i => b(i >> 6) |= 1L << (i & 63))
      b
    }
    val bySize = sets.indices.sortBy(i => sets(i)._2.length).toArray
    val out = new java.util.concurrent.ConcurrentHashMap[(Long, Long), Double]()
    java.util.stream.IntStream.range(0, bySize.length).parallel().forEach { x =>
      val i = bySize(x)
      val ni = sets(i)._2.length
      var y = x + 1
      while (y < bySize.length && ni >= t * sets(bySize(y))._2.length - 1e-9) {
        val j = bySize(y)
        val nj = sets(j)._2.length
        var inter = 0
        var w = 0
        while (w < words) { inter += java.lang.Long.bitCount(bits(i)(w) & bits(j)(w)); w += 1 }
        val jac = inter.toDouble / (ni + nj - inter)
        if (ni + nj > 0 && jac >= t) {
          val (a, b) = (sets(i)._1, sets(j)._1)
          out.put((math.min(a, b), math.max(a, b)), jac)
        }
        y += 1
      }
    }
    import scala.jdk.CollectionConverters._
    out.asScala.toMap
  }

  /** The largest corpus frequency (documents holding it) of any shingle in a
   * document's PPJoin prefix, as `Dedup.ngramJaccardPairs` builds it: the
   * |s| - ceil(t·|s|) + 1 least frequent of the document's distinct
   * shingles. The join drops prefix shingles above its `maxShingleFreq`
   * cap, so a result above the cap means the cap binds and can lose pairs. */
  def maxPrefixFreq(docs: Array[(Long, String)], n: Int, t: Double): Int = {
    val sets = docs.map { case (_, text) => shingles(text, n) }
    val freq = mutable.HashMap[String, Int]()
    sets.foreach(_.foreach(s => freq(s) = freq.getOrElse(s, 0) + 1))
    // ties in (frequency, shingle) order cannot change the prefix's largest
    // frequency, so sorting the frequencies alone is enough
    sets.iterator.filter(_.nonEmpty).map { s =>
      val f = s.map(freq).sorted
      f(s.length - math.ceil(t * s.length).toInt)
    }.maxOption.getOrElse(0)
  }

  /** Cluster id of every document:the smallest id among the documents its
   * pairs connect it to (itself when it is in no pair). */
  def clusters(ids: Array[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** MinHash LSH near-duplicate pairs as `MinHash.nearDupPairs` defines them:
   * k minima of xxhash64(i, shingle) (Spark's seed 42), `bands` bands of
   * k/bands rows, candidate pairs from band buckets of 2..maxBucket
   * documents, kept when the share of equal minima is >= t. */
  def minhashPairs(docs: Array[(Long, String)], k: Int, bands: Int, n: Int, t: Double,
                   maxBucket: Int = 2000): Map[(Long, Long), Double] = {
    val sigs = new Array[Array[Long]](docs.length)
    java.util.stream.IntStream.range(0, docs.length).parallel().forEach { d =>
      val sh = shingles(docs(d)._2, n).map(UTF8String.fromString)
      // a text shorter than n has no shingles and so no signature
      if (sh.nonEmpty) sigs(d) = Array.tabulate(k) { i =>
        val seed = XXH64.hashInt(i, 42L)
        var m = Long.MaxValue
        sh.foreach { s =>
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
          if (h < m) m = h
        }
        m
      }
    }
    val rows = k / bands
    val cand = mutable.HashSet[(Int, Int)]()
    for (b <- 0 until bands) {
      val buckets = docs.indices.filter(sigs(_) != null).groupBy(d => sigs(d).slice(b * rows, (b + 1) * rows).toSeq)
      buckets.values.filter(g => g.size > 1 && g.size <= maxBucket).foreach { g =>
        for (x <- g; y <- g if docs(x)._1 < docs(y)._1) cand += ((x, y))
      }
    }
    cand.iterator.flatMap { case (x, y) =>
      val eq = (0 until k).count(i => sigs(x)(i) == sigs(y)(i)).toDouble / k
      if (eq >= t) Some((docs(x)._1, docs(y)._1) -> eq) else None
    }.toMap
  }

  /** Same keys and equal values. */
  def exact[K, V](what: String, got: Map[K, V], want: Map[K, V]): Unit = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    ensure(missing.isEmpty && extra.isEmpty,
      s"$what: ${missing.size} of ${want.size} expected keys missing (e.g. ${missing.take(3).mkString(",")}), " +
        s"${extra.size} unexpected (e.g. ${extra.take(3).mkString(",")})")
    val diff = want.filter { case (key, v) => got(key) != v }
    ensure(diff.isEmpty, s"$what: ${diff.size} of ${want.size} values differ, " +
      diff.take(3).map { case (key, v) => s"$key: got ${got(key)} want $v" }.mkString("; "))
  }

  /** Same keys and values within `rtol` relative tolerance. */
  def close[K](what: String, got: Map[K, Double], want: Map[K, Double], rtol: Double): Unit = {
    exact(what + " keys", got.map { case (key, _) => key -> () }, want.map { case (key, _) => key -> () })
    val diff = want.filter { case (key, v) => math.abs(got(key) - v) > rtol * math.abs(v) + 1e-15 }
    ensure(diff.isEmpty, s"$what: ${diff.size} of ${want.size} values outside rtol $rtol, " +
      diff.take(3).map { case (key, v) => s"$key: got ${got(key)} want $v" }.mkString("; "))
  }
}
