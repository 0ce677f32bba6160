package graft

import org.apache.spark.sql.functions._
import graft.alg.PageRank
import graft.gen.GraphGen
import graft.oracle.Reference

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def edgesOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("chain: rank symmetry (reference unittest property)") {
    // totem_page_rank_unittest.cu:96-127 — symmetric positions equal rank
    val edges = GraphGen.chain(spark, 10)
    val ranks = toMap[Double](PageRank.run(edges).ranks)
    for (i <- 0 until 5)
      assert(math.abs(ranks(i.toLong) - ranks(9L - i)) < 1e-12)
    assert(ranks.values.forall(_ > 0))
  }

  test("star: hub rank exceeds leaf ranks, leaves equal") {
    val edges = GraphGen.star(spark, 16)
    val ranks = toMap[Double](PageRank.run(edges).ranks)
    assert(ranks(0L) > ranks(1L))
    for (i <- 2 until 16) assert(math.abs(ranks(i.toLong) - ranks(1L)) < 1e-12)
  }

  test("matches oracle allclose(1e-6) on RMAT scale 8") {
    val edges = GraphGen.rmat(spark, 8, 8, seed = 42).cache()
    val es = edgesOf(edges)
    val v = (es.map(_._1) ++ es.map(_._2)).max.toInt + 1
    // oracle runs over all ids 0..max; engine only over ids with edges —
    // compare on the engine's vertex set with the oracle computed on the
    // same dense universe requires identical V; restrict both to touched ids
    val touched = (es.map(_._1) ++ es.map(_._2)).toSet
    // engine V = touched.size; build a compacted id space for the oracle
    val idMap = touched.toSeq.sorted.zipWithIndex.map { case (g, i) => g -> i.toLong }.toMap
    val compact = es.map { case (s, d) => (idMap(s), idMap(d)) }
    val expected = Reference.pageRank(touched.size, compact)
    val actual = toMap[Double](PageRank.run(edges).ranks)
    touched.toSeq.sorted.zipWithIndex.foreach { case (g, i) =>
      assert(math.abs(actual(g) - expected(i)) <= 1e-6,
        s"vid=$g: ${actual(g)} vs ${expected(i)}")
    }
  }

  test("zero-out-degree sinks handled like the reference (finite, skipped)") {
    // 0->1, 2->1: vertex 1 is a pure sink
    val edges = Seq((0L, 1L), (2L, 1L)).toDF("src", "dst")
    val expected = Reference.pageRank(3, Seq((0L, 1L), (2L, 1L)))
    val actual = toMap[Double](PageRank.run(edges).ranks)
    (0 until 3).foreach(i =>
      assert(math.abs(actual(i.toLong) - expected(i)) <= 1e-12))
    assert(actual.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("convergence mode reaches stable ranks and reports iterations") {
    // well-mixed graph: power iteration converges far faster than the 0.85
    // worst-case rate, keeping the test quick
    val edges = graft.core.Graph.undirected(GraphGen.uniform(spark, 60, 500, seed = 17))
    val res = PageRank.runUntilConverged(edges, tol = 1e-6, maxIter = 100)
    assert(res.metrics.nonEmpty)
    assert(res.metrics.last.converged)
    assert(res.ranks.agg(min("rank")).collect()(0).getDouble(0) > 0.0)
  }

  test("warm start: same fixed point, fewer supersteps on a recrawl delta") {
    val g1 = graft.core.Graph.undirected(GraphGen.uniform(spark, 60, 500, seed = 17))
    val prev = PageRank.runUntilConverged(g1, tol = 1e-8)
    // recrawl delta: a handful of new links among existing pages
    val extra = Seq((1L, 58L), (58L, 1L), (3L, 44L), (44L, 3L), (7L, 31L), (31L, 7L))
      .toDF(graft.core.Graph.SRC, graft.core.Graph.DST)
    val g2 = g1.unionByName(extra).distinct()
    val cold = PageRank.runUntilConverged(g2, tol = 1e-8)
    val warm = PageRank.runUntilConverged(g2, tol = 1e-8, warmStart = Some(prev.ranks))
    val c = toMap[Double](cold.ranks); val w = toMap[Double](warm.ranks)
    assert(c.keySet == w.keySet)
    assert(c.forall { case (k, v) => math.abs(w(k) - v) <= 1e-6 })
    assert(warm.metrics.size < cold.metrics.size,
      s"warm ${warm.metrics.size} vs cold ${cold.metrics.size} supersteps")
    // from the graph's own fixed point, one superstep suffices
    val idem = PageRank.runUntilConverged(g2, tol = 1e-8, warmStart = Some(warm.ranks))
    assert(idem.metrics.size == 1 && idem.metrics.last.converged)
  }

  test("per-superstep metrics carry edge traversals (GTEPS basis)") {
    val edges = GraphGen.chain(spark, 10)
    val e = edges.count()
    val res = PageRank.run(edges)
    assert(res.metrics.size == 5) // PAGE_RANK_ROUNDS
    assert(res.metrics.forall(_.edgesTraversed == e))
  }

  test("personalized: hand-computed chain values, 2 rounds") {
    // 0→1→2, seed {0}: round1 value = (0.15, 0.85, 0);
    // round2 = (0.15, 0.1275, 0.7225)
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r = toMap[Double](PageRank.personalized(edges, Seq(0L), rounds = 2).ranks)
    assert(math.abs(r(0L) - 0.15) < 1e-12)
    assert(math.abs(r(1L) - 0.1275) < 1e-12)
    assert(math.abs(r(2L) - 0.7225) < 1e-12)
  }

  test("personalized: mass never reaches vertices unreachable from the seeds") {
    val edges = Seq((0L, 1L), (2L, 3L)).toDF("src", "dst")
    val r = toMap[Double](PageRank.personalized(edges, Seq(0L), rounds = 5).ranks)
    assert(r(2L) == 0.0 && r(3L) == 0.0, "disconnected component must stay at 0")
    assert(r(0L) > 0 && r(1L) > 0)
  }

  test("spamMass equals the hand-composed run + personalized ratio exactly") {
    // guards the shared-graph path: one adjacency/degree init feeding both
    // loops must be bit-identical to two independent inits
    val edges = GraphGen.rmat(spark, 8, 8, seed = 7).cache()
    val seeds = edges.select(col("src").as("vid")).union(edges.select(col("dst")))
      .distinct().orderBy(col("vid")).limit(3).collect().map(_.getLong(0)).toSeq
    val pr = PageRank.run(edges).ranks
      .select(col("vid"), round(col("rank"), 6).as("pr"))
    val tr = PageRank.personalized(edges, seeds).ranks
      .select(col("vid"), round(col("rank"), 6).as("tr"))
    val composed = pr.join(tr, Seq("vid"))
      .select(col("vid"), col("pr"), col("tr"),
        round((col("pr") - col("tr")) / col("pr"), 6).as("spam_mass"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val fused = PageRank.spamMass(edges, seeds)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(fused.keySet == composed.keySet)
    fused.foreach { case (v, t) => assert(t == composed(v), s"vid=$v") }
    // untrusted-ish sanity: seeds hold all restart mass, so their own spam
    // mass is far below the graph maximum
    val masses = fused.view.mapValues(_._3).toMap
    assert(seeds.map(masses).max < masses.values.max)
  }

  test("weighted: unit weights reproduce the unweighted reference semantics exactly") {
    val edges = graft.gen.GraphGen.rmat(spark, 8, 8, seed = 11)
    val unweighted = toMap[Double](PageRank.run(edges).ranks)
    val weighted = toMap[Double](PageRank.runWeighted(
      edges.withColumn("weight", lit(1L))).ranks)
    assert(unweighted.keySet == weighted.keySet)
    unweighted.foreach { case (v, r) =>
      assert(math.abs(weighted(v) - r) < 1e-12, s"vid=$v: ${weighted(v)} vs $r")
    }
  }

  test("weighted: hand-computed 1 round with uneven weights, string vids") {
    // a→b (w=3), a→c (w=1): wdeg(a)=4; stored after init = 1/3 each.
    // round 1 (final, undivided): value(b) = 0.05 + 0.85·(1/3·3) = 0.9
    //   wait — stored is 1/3, mailbox(b) = 1/3·3 = 1.0 → 0.05 + 0.85 = 0.9
    //   mailbox(c) = 1/3·1 → 0.05 + 0.85/3; mailbox(a) = 0 → 0.05
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "weight")
    val r = PageRank.runWeighted(edges, rounds = 1).ranks.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.05) < 1e-12)
    assert(math.abs(r("b") - 0.9) < 1e-12)
    assert(math.abs(r("c") - (0.05 + 0.85 / 3.0)) < 1e-12)
  }
}
