package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Similarity search over an embedding column (array<float>).
 *
 *  - [[cosine]]: codegen'd zip_with/aggregate dot product — no UDF;
 *  - [[bruteForceTopK]]: exact top-k, broadcast the (small) query side so
 *    the corpus is scanned exactly once, no shuffle of the big side;
 *  - [[lshTopK]]: random-hyperplane LSH — corpus bucketed by sign signature,
 *    queries probe their own bucket (+ optional multi-probe at Hamming
 *    distance 1), top-k within probed buckets. The scale path: bucket count
 *    grows 2^planes, each query touches O(corpus / 2^planes · probes) rows.
 *
 * Embedding near-dup (cosine ≥ τ pair mining) reuses the same plane
 * signatures as the bucket join — [[cosineNearDupPairs]].
 */
object Ann {

  /** Cosine similarity of two float-array columns (double math). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  /**
   * Exact cosine top-k per query: (query_id, vec_id, sim, rank).
   * Queries are broadcast; ties break on corpus id for determinism.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     id: String = "vec_id", vec: String = "embedding",
                     qid: String = "query_id", qvec: String = "q_embedding"): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col(qid), col(id),
        round(cosine(col(qvec), col(vec)), 9).as("sim"))
    val w = Window.partitionBy(qid).orderBy(col("sim").desc, col(id))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-gaussian hyperplane component in INTEGER units:
   * Σ_{j<4} (md5_48("plane|p|i|j") mod 100000) − 200000 ∈ [−200000, 199996]
   * (md5_48 = first 12 hex digits of md5 of the UTF-8 string, as a 48-bit
   * integer — the q_neg_sample replay-oracle device). md5, not xxhash64:
   * any SQL engine with md5 reproduces the identical matrix, so the whole
   * LSH path is DuckDB-replayable. Evaluated ONCE on the driver per
   * (plane, dim) and embedded as array literals — the plane matrix is
   * data-independent, so per-row hashing would be pure waste. */
  private[ann] def planeComponent(plane: Int, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 4).map { j =>
      val hex = md.digest(s"plane|$plane|$i|$j"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16) % 100000L
    }.sum - 200000L
  }

  /** Embedding quantized to exact integer micro-units: floor(x·10⁶ + 0.5)
   * as BIGINT — the cross-engine discipline shared with the feature-prop
   * and DSIR oracles (identical FLOOR formula on both engines). */
  private[ann] def quantized(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))

  /** Sign signature over `planes` md5-derived hyperplanes: long bucket key,
   * bit p set iff Σ_i xn_i·C[p][i] ≥ 0 — EXACT BIGINT arithmetic, so the
   * signature is order-independent and bit-identical in any engine (no
   * "green by summation-order luck": |xn| ≲ 2²⁰ · |C| < 2¹⁸ · dims ≲ 2¹³
   * keeps the sum far inside 2⁶³). The per-row cost is one codegen'd
   * integer dot product per plane against literal arrays — cheaper than
   * the per-row-hashing scheme it replaces. `offset` selects an
   * independent plane family (multi-table LSH draws table t at offset
   * t·planes); `dim` is the (uniform) embedding dimension. */
  def planeSignature(vec: Column, planes: Int, dim: Int, offset: Int = 0): Column = {
    val xq = quantized(vec)
    (0 until planes).map { p =>
      val row = Array.tabulate(dim)(i => planeComponent(offset + p, i))
      val dot = aggregate(zip_with(xq, lit(row), (x, c) => x * c),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** O(1) driver probe for the uniform embedding dimension (reads one row;
   * the plane matrix literal needs the width up front). An empty corpus or
   * a null first vector degrades to width 1 — every downstream join is
   * empty/null-bucketed anyway, matching the old lazy API's empty result
   * instead of throwing at plan-construction time. A corpus whose rows
   * disagree with the probed width nulls the zip_with dot and scores sign
   * bit 0 (callers own dimension uniformity, as [[cosine]] already does). */
  private def probeDim(df: DataFrame, vec: String): Int = {
    val r = df.select(size(col(vec)).as("d")).head(1)
    if (r.isEmpty || r(0).isNullAt(0)) 1 else math.max(1, r(0).getInt(0))
  }

  /** All XOR masks of Hamming weight ≤ radius over `planes` bits — the
   * multi-probe sequence (probe count: Σ_{r≤radius} C(planes, r), a
   * vanishing fraction of the 2^planes buckets as planes grow with corpus
   * size). Generic in the radius so the recall knob never silently caps. */
  private[graft] def probeMasks(planes: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap {
      case 0 => Seq(0L)
      case r => (0 until planes).combinations(r)
        .map(_.map(1L << _).reduce(_ | _)).toSeq
    }

  /**
   * LSH-bucketed approximate top-k. Two independent recall knobs, neither
   * rebucketing the corpus per query:
   *  - `multiProbe`: also probe the buckets within `probeRadius` Hamming
   *    bit-flips of the query signature (Lv et al., "Multi-Probe LSH");
   *  - `tables`: OR over `tables` independent plane families (classic
   *    Indyk–Motwani amplification) — a neighbor missed with probability
   *    (1−P₁) per table survives all L tables with (1−P₁)^L.
   * The scale parameterization: planes ≈ log2(corpus / target bucket
   * size), so each table's probed fraction (Σ C(planes,r) / 2^planes)
   * collapses as the corpus grows — radius 2 at 20 planes touches 211 of
   * 1M buckets, and L tables cost L such probes plus L corpus signature
   * passes.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 8,
              multiProbe: Boolean = true, probeRadius: Int = 1, tables: Int = 1,
              id: String = "vec_id", vec: String = "embedding",
              qid: String = "query_id", qvec: String = "q_embedding"): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val radius = if (multiProbe) probeRadius else 0
    val masks = probeMasks(planes, radius)
    val dim = probeDim(corpus, vec)
    val scored = (0 until tables).map { t =>
      // NOT persisted: each table's signed copy is read exactly once (its
      // bucket join) in the returned plan, and a cache-manager entry could
      // never be unregistered from inside this lazy API anyway
      val c = corpus.withColumn("bkey",
        planeSignature(col(vec), planes, dim, offset = t * planes))
      val qsig = queries.withColumn("sig",
        planeSignature(col(qvec), planes, dim, offset = t * planes))
      val probes = qsig.select(col("*"), explode(array(
        masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)).as("bkey"))
      probes.join(c, "bkey")
        .select(col(qid), col(id), round(cosine(col(qvec), col(vec)), 9).as("sim"))
    }.reduce(_ unionByName _).distinct()
    val w = Window.partitionBy(qid).orderBy(col("sim").desc, col(id))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, candidates from
   * shared plane-signature buckets (+1-bit multiprobe for recall). */
  /**
   * Margin-based candidate mining (the LASER/CCMatrix bitext-mining score,
   * ratio variant): margin(q, c) = cos(q, c) / ((avgK(q) + avgK(c)) / 2),
   * where avgK(x) is the mean cosine of x's k nearest neighbors — the
   * normalization that suppresses hub vectors whose raw cosine is high
   * against EVERYTHING. Returns each query's top-`m` candidates by margin:
   * (query_id, vec_id, sim, margin, rank).
   *
   * Cross-engine exactness: cosines quantize to integer nano-units
   * (floor(cos·1e9 + 0.5)), so the k-NN averages are exact BIGINT sums and
   * margin = sim_n · 2k / (qsum_n + csum_n) is one double expression both
   * engines evaluate identically. A non-positive denominator (possible
   * only when a vector's whole neighborhood is anti-correlated) scores
   * 0.0 rather than null so the margin ordering stays engine-identical.
   *
   * Plan shape (pinned in `PlanShapeSpec`): the query side broadcasts (as
   * in [[bruteForceTopK]]) into a nested-loop join with the corpus, and
   * that per-query top-k is persisted. The corpus is scanned three times:
   * for the query top-k, to semi-join the ≤ |Q|·k candidate vectors out of
   * it, and against those candidates broadcast back. The semi-join
   * broadcasts the distinct candidate ids (a broadcast hash join), so the
   * corpus is never shuffled by `vec_id`. Outside the persisted top-k the
   * plan has 6 shuffle exchanges and 1 broadcast nested-loop join (corpus ×
   * candidates); the one exchange that moves corpus-derived rows is the
   * `cSum` `row_number` window partitioned by `__cid`, over the corpus ×
   * candidates product (a partial `WindowGroupLimit` cuts it on the map
   * side to k rows per candidate and task). At mining scale substitute the
   * LSH/IVF top-k for the brute-force stages; the margin arithmetic is
   * unchanged.
   */
  def marginTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int,
                 id: String = "vec_id", vec: String = "embedding",
                 qid: String = "query_id", qvec: String = "q_embedding"): DataFrame = {
    val simN = (a: Column, b: Column) =>
      floor(cosine(a, b) * lit(1e9) + lit(0.5)).cast("long")
    val top = corpus.join(broadcast(queries))
      .filter(col(id) =!= col(qid))
      .select(col(qid), col(id), simN(col(qvec), col(vec)).as("sim_n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(qid).orderBy(col("sim_n").desc, col(id))))
      .filter(col("rank") <= k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val qSum = top.groupBy(qid).agg(sum("sim_n").as("qsum"))
    val candVecs = corpus
      .join(broadcast(top.select(col(id)).distinct()), Seq(id), "left_semi")
      .select(col(id).as("__cid"), col(vec).as("__ce"))
    val cSum = corpus.join(broadcast(candVecs))
      .filter(col(id) =!= col("__cid"))
      .select(col("__cid"), col(id), simN(col("__ce"), col(vec)).as("sim_n"))
      .withColumn("r", row_number().over(
        Window.partitionBy("__cid").orderBy(col("sim_n").desc, col(id))))
      .filter(col("r") <= k)
      .groupBy("__cid").agg(sum("sim_n").as("csum"))
    top.join(qSum, Seq(qid))
      .join(cSum.withColumnRenamed("__cid", id), Seq(id))
      .select(col(qid), col(id),
        round(col("sim_n").cast("double") / lit(1e9), 9).as("sim"),
        when(col("qsum") + col("csum") > 0,
          round(col("sim_n").cast("double") * lit(2.0 * k)
            / (col("qsum") + col("csum")).cast("double"), 6))
          .otherwise(lit(0.0)).as("margin"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(qid).orderBy(col("margin").desc, col(id))))
      .filter(col("rank") <= m)
  }

  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, planes: Int = 8,
                         id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val sig = corpus.withColumn("sig",
        planeSignature(col(vec), planes, probeDim(corpus, vec)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val expanded = sig.select(col(id), col(vec), explode(array(
      (col("sig") +: (0 until planes).map(p => col("sig").bitwiseXOR(lit(1L << p)))): _*))
      .as("bkey"))
    val base = sig.withColumnRenamed("sig", "bkey")
    expanded.select(col("bkey"), col(id).as("id_a"), col(vec).as("va"))
      .join(base.select(col("bkey"), col(id).as("id_b"), col(vec).as("vb")), "bkey")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 9).as("sim"))
      .distinct()
      .filter(col("sim") >= threshold)
  }

  /**
   * Semantic (embedding-space) benchmark decontamination: flag every corpus
   * vector whose max cosine against ANY benchmark vector reaches
   * `threshold` — the eval-leakage filter n-gram decontamination misses
   * (paraphrases). Scale shape: eval sets are tiny relative to a training
   * corpus, so the benchmark side is BROADCAST and the corpus is scanned
   * once with a codegen'd cosine fold — no shuffle of the big side (the
   * same contract as [[bruteForceTopK]]; an LSH pre-filter via
   * [[planeSignature]] only pays once the benchmark outgrows a broadcast).
   * Output: (id, contaminated) for every corpus row.
   */
  def semanticContaminated(corpus: DataFrame, benchmark: DataFrame, threshold: Double,
                           id: String = "vec_id", vec: String = "embedding",
                           bvec: String = "b_embedding"): DataFrame = {
    val hit = corpus.join(broadcast(benchmark))
      .filter(round(cosine(col(vec), col(bvec)), 9) >= threshold)
      .select(col(id)).distinct()
      .withColumn("contaminated", lit(true))
    corpus.select(col(id)).join(hit, Seq(id), "left")
      .select(col(id), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): k-means the embedding
   * corpus, then mine cosine-≥ τ duplicate pairs ONLY within each cluster —
   * the clustering is what makes semantic dedup tractable at corpus scale
   * (all-pairs is O(n²); within-cluster is O(Σ |cluster|²) with k chosen so
   * clusters fit the budget, the same bucketed-pairs contract as
   * [[cosineNearDupPairs]] with learned buckets instead of random planes).
   * Keeper rule: a row is dropped iff a SAME-CLUSTER near-duplicate with a
   * smaller id exists (deterministic min-id representative; the paper keeps
   * the member farthest from the centroid — representative choice does not
   * change the kept-set size, and min-id is cross-engine checkable).
   *
   * Returns (id, cid, keep) for every corpus row. `assignments` must carry
   * (id, cid) — pass `KMeans.run(corpus, k, iters).assignments` (kept as an
   * explicit argument so the trained model can be reused across runs).
   */
  def semDedup(corpus: DataFrame, assignments: DataFrame, threshold: Double,
               id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val assigned = corpus.join(assignments.select(col(id), col("cid")), id)
    val dropped = assigned.select(col("cid"), col(id).as("id_a"), col(vec).as("va"))
      .join(assigned.select(col("cid"), col(id).as("id_b"), col(vec).as("vb")), "cid")
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("va"), col("vb")), 9) >= threshold)
      .select(col("id_b").as(id)).distinct()
      .withColumn("__drop", lit(true))
    assigned.select(col(id), col("cid"))
      .join(dropped, Seq(id), "left")
      .select(col(id), col("cid"), col("__drop").isNull.as("keep"))
  }

  /** Exact all-pairs cosine ≥ threshold — O(n²) baseline for tests/oracles. */
  def bruteForceNearDupPairs(corpus: DataFrame, threshold: Double,
                             id: String = "vec_id", vec: String = "embedding"): DataFrame =
    corpus.select(col(id).as("id_a"), col(vec).as("va"))
      .join(corpus.select(col(id).as("id_b"), col(vec).as("vb")), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 9).as("sim"))
      .filter(col("sim") >= threshold)
}
