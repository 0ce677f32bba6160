package graft

import org.apache.spark.sql.functions._
import graft.alg.ConnectedComponents
import graft.gen.GraphGen
import graft.oracle.Reference
import graft.text.EdgeExtract

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("4-component chain: labels = min vid per component (reference unittest)") {
    // totem_cc_unittest.cu:103-143 semantics on chain_4_comp_40_nodes-style input
    val edges = GraphGen.disconnectedChains(spark, 4, 10)
    val comp = toMap[Long](ConnectedComponents.run(edges).components)
    assert(comp.size == 40)
    for (v <- 0 until 40) assert(comp(v.toLong) == (v / 10) * 10L)
  }

  test("single chain is one component labeled 0") {
    val comp = toMap[Long](ConnectedComponents.run(GraphGen.chain(spark, 25)).components)
    assert(comp.values.forall(_ == 0L))
  }

  test("matches union-find oracle on RMAT graph (treated undirected)") {
    val edges = GraphGen.rmat(spark, 7, 4, seed = 7).cache()
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val touched = (es.map(_._1) ++ es.map(_._2)).toSet.toSeq.sorted
    val idMap = touched.zipWithIndex.map { case (g, i) => g -> i.toLong }.toMap
    val inv = idMap.map(_.swap)
    val oracle = Reference.wcc(touched.size, es.map { case (s, d) => (idMap(s), idMap(d)) })
    val actual = toMap[Long](ConnectedComponents.run(edges).components)
    touched.foreach { g =>
      assert(actual(g) == inv(oracle(idMap(g).toInt)),
        s"vid=$g: ${actual(g)} vs ${inv(oracle(idMap(g).toInt))}")
    }
  }

  test("component sizes aggregate (component_set_t analog)") {
    val edges = GraphGen.disconnectedChains(spark, 3, 5)
    val sizes = ConnectedComponents.componentSizes(
      ConnectedComponents.run(edges).components).collect()
    assert(sizes.length == 3)
    assert(sizes.forall(_.getLong(1) == 5L))
  }

  test("warm start from a snapshot reaches the identical fixpoint on a grown graph") {
    val old = GraphGen.rmat(spark, 7, 4, seed = 11).cache()
    // recrawl adds bridges that merge previously separate components
    val extra = Seq((1L, 100L), (3L, 77L), (0L, 5L)).toDF("src", "dst")
    val full = old.union(extra)
    val prev = ConnectedComponents.run(old).components
    val warm = ConnectedComponents.run(full, warmStart = Some(prev))
    val cold = ConnectedComponents.run(full)
    assert(toMap[Long](warm.components) == toMap[Long](cold.components))
  }

  test("warm start from the exact fixpoint converges in one superstep") {
    val edges = GraphGen.rmat(spark, 6, 4, seed = 3).cache()
    val cold = ConnectedComponents.run(edges)
    val warm = ConnectedComponents.run(edges, warmStart = Some(cold.components))
    assert(toMap[Long](warm.components) == toMap[Long](cold.components))
    assert(warm.metrics.size == 1, s"expected 1 superstep, got ${warm.metrics.size}")
    assert(warm.metrics.last.converged)
  }

  test("warm start superstep count tracks the extension, not the diameter") {
    // snapshot covers chain 0..19; the recrawl appends 20..24 — a warm start
    // only needs label 0 to cross the 5 new hops (+1 quiet step), while a
    // cold start walks the full 25-vertex label diameter, a partition-local
    // union-find run of the chain per superstep (14 supersteps on this
    // session's 4 hash partitions)
    val prev = ConnectedComponents.run(GraphGen.chain(spark, 20)).components
    val full = GraphGen.chain(spark, 25)
    val warm = ConnectedComponents.run(full, warmStart = Some(prev))
    val cold = ConnectedComponents.run(full)
    assert(toMap[Long](warm.components) == toMap[Long](cold.components))
    assert(warm.metrics.size <= 7, s"warm took ${warm.metrics.size} supersteps")
    assert(cold.metrics.size == 14, s"cold took ${cold.metrics.size} supersteps")
    assert(warm.metrics.size < cold.metrics.size)
  }

  test("per-partition labeler: chained rows collapse to their tree's minimum") {
    // (src, comp, nbrs); rows 1-3 chain through 8 and 9, row 4 stands alone
    val rows = Seq((5L, 5L, Array(3L, 8L)), (8L, 8L, Array(9L)), (9L, 3L, Array(12L)),
      (20L, 20L, Array(21L)))
    val closed = ConnectedComponents.localLabels(rows.iterator).toSeq
    assert(closed.toMap == Map(3L -> 3L, 5L -> 3L, 8L -> 3L, 9L -> 3L, 12L -> 3L,
      20L -> 20L, 21L -> 20L))
    assert(closed.size == 7, "one candidate per distinct vertex")
    // a 2-vertex cap flushes after every row here: each candidate is still an
    // id of the vertex's component, and no higher than any row it sits in
    val component = Seq(Set(3L, 5L, 8L, 9L, 12L), Set(20L, 21L))
      .flatMap(c => c.map(_ -> c)).toMap
    val capped = ConnectedComponents.localLabels(rows.iterator, cap = 2).toSeq
    capped.foreach { case (v, c) => assert(component(v).contains(c), s"vid=$v cand=$c") }
    val best = capped.groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).min }
    for ((src, comp, nbrs) <- rows; v <- src +: nbrs.toSeq)
      assert(best(v) <= comp, s"vid=$v: ${best(v)} > $comp")
  }

  test("crawl link graph: exact labels in 2 supersteps") {
    val edges = EdgeExtract.edges(GraphGen.pages(spark, 1000, seed = 1)).cache()
    val es = edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ids = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val ix = ids.zipWithIndex.toMap
    val oracle = Reference.wcc(ids.size, es.map { case (s, d) => (ix(s).toLong, ix(d).toLong) })
    val res = ConnectedComponents.run(edges)
    assert(toMap[Long](res.components) == ids.map(v => v -> ids(oracle(ix(v)).toInt)).toMap)
    // one superstep closes every partition's forest, the next finds no change
    assert(res.metrics.size == 2, s"took ${res.metrics.size} supersteps")
    assert(res.metrics.last.converged)
    edges.unpersist()
  }

  test("directed edges are symmetrized (weak connectivity)") {
    val edges = Seq((0L, 1L), (2L, 1L)).toDF("src", "dst")
    val comp = toMap[Long](ConnectedComponents.run(edges).components)
    assert(comp.values.toSet == Set(0L))
  }
}
