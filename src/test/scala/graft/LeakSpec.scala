package graft

import org.apache.spark.sql.functions._
import graft.alg.{Anf, Centrality, MaxFlow, Traversals}
import graft.gen.GraphGen

/** What a call leaves pinned: the cached RDDs it adds to the block manager
 * and does not release before it returns. A loop that drops a superseded
 * lineage cut without [[graft.core.Lineage.release]] leaves up to one entry
 * per level here (garbage collection reclaims some of them first). */
class LeakSpec extends SparkSpec {

  /** How many persisted RDDs `call` leaves behind. RDDs released by earlier
   * suites may leave meanwhile: count only new ones. */
  private def leftPinned(call: => Any): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    call
    (sc.getPersistentRDDs.keySet -- before).size
  }

  private lazy val chain = GraphGen.chain(spark, 30)
  private lazy val grid = GraphGen.grid(spark, 12, 12)

  test("stConnected leaves nothing pinned") {
    var found = false
    assert(leftPinned { found = Traversals.stConnected(chain, 0L, 29L) } == 0)
    assert(found)
  }

  test("exactNeighborhood leaves nothing pinned") {
    assert(leftPinned(Anf.exactNeighborhood(grid, maxH = 4)) == 0)
  }

  test("multiSourceBfs leaves at most its result pinned") {
    assert(leftPinned(Centrality.multiSourceBfs(grid, Seq(0L, 77L, 143L))) <= 1)
  }

  test("betweenness and edgeBetweenness leave at most their results pinned") {
    assert(leftPinned(Centrality.betweenness(grid, Seq(0L, 77L, 143L))) <= 1)
    assert(leftPinned(Centrality.edgeBetweenness(grid, Seq(0L, 77L, 143L))) <= 1)
  }

  test("maxFlow leaves at most the capacities and the final residual pinned") {
    val e = grid.withColumn("weight", ((col("src") + col("dst")) % 3 + 1).cast("double"))
    var value = 0.0
    assert(leftPinned { value = MaxFlow.maxFlow(e, 0L, 143L).value } <= 2)
    assert(value > 0.0)
  }
}
