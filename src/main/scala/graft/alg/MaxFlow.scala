package graft.alg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{Graph, Lineage}

/**
 * Max-flow — Edmonds-Karp (BFS augmenting paths) over the bidirectional
 * residual-edge table built by [[Graph.bidirectional]]; the reference's
 * counterpart is a lock-free push-relabel
 * (`/root/reference/src/alg/totem_maxflow.cu:479-580`), also a
 * single-machine algorithm. Like APSP this is a SMALL-GRAPH UTILITY (the
 * link-graph north rule does not exercise flow): each augmentation is a
 * distributed BFS over residual>0 edges plus an O(path) driver-side walk,
 * so it is correct at any size but does O(V·E) augmentations worst-case.
 */
object MaxFlow {

  final case class Result(value: Double, flows: DataFrame)

  /** `edges` must carry (src, dst, weight>0) capacities; parallel edges
   * combine. Returns the max s→t flow value and per-edge flows. */
  def maxFlow(edges: DataFrame, s: Long, t: Long, maxAugmentations: Int = 10000): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(s != t, "source and sink must differ")

    val cap = edges.groupBy(col(Graph.SRC).as("u"), col(Graph.DST).as("v"))
      .agg(sum(col("weight").cast("double")).as("cap"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // residual table carries BOTH directions; reverse starts at 0
    var residual = Lineage.cut(
      cap.select(col("u"), col("v"), col("cap").as("r"))
        .unionByName(cap.select(col("v").as("u"), col("u").as("v"), lit(0.0).as("r")))
        .groupBy("u", "v").agg(sum("r").as("r")))

    var total = 0.0
    var augmenting = true
    var rounds = 0
    while (augmenting && rounds < maxAugmentations) {
      rounds += 1
      // BFS over residual > 0, recording a parent per discovered vertex
      val live = residual.filter(col("r") > 0).persist(StorageLevel.MEMORY_AND_DISK)
      var parents = Seq((s, -1L)).toDF("vid", "parent")
      var frontier = parents.select("vid")
      var bfsCuts = List.empty[DataFrame] // released once the path is walked
      var reachedT = false
      var exhausted = false
      while (!reachedT && !exhausted) {
        val next = live.join(frontier, live("u") === frontier("vid"))
          .groupBy(col("v").as("vid")).agg(min("u").as("parent"))
          .join(parents.select(col("vid").as("__seen")), col("vid") === col("__seen"), "left_anti")
        val nextC = Lineage.cut(next)
        bfsCuts ::= nextC
        if (nextC.isEmpty) exhausted = true
        else {
          parents = Lineage.cut(parents.unionByName(nextC))
          bfsCuts ::= parents
          frontier = nextC.select("vid")
          reachedT = !nextC.filter(col("vid") === t).isEmpty
        }
      }
      if (!reachedT) augmenting = false
      else {
        // walk the parent chain driver-side (O(path) rows via the collected
        // parent map — BFS tree is at most V rows, small-graph utility)
        val pmap = parents.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val path = Iterator.iterate(t)(pmap).takeWhile(_ != s).toList.reverse
        val hops = (s :: path).zip(path) // (u, v) pairs along the path
        val hopDf = hops.toDF("u", "v")
        val bottleneck = residual.join(broadcast(hopDf), Seq("u", "v"))
          .agg(min("r")).collect()(0).getDouble(0)
        total += bottleneck
        val deltas = hops.map { case (u, v) => (u, v, -bottleneck) } ++
          hops.map { case (u, v) => (v, u, bottleneck) }
        val deltaDf = deltas.toDF("u", "v", "d")
        val old = residual
        residual = Lineage.cut(
          residual.join(broadcast(deltaDf), Seq("u", "v"), "left")
            .select(col("u"), col("v"), (col("r") + coalesce(col("d"), lit(0.0))).as("r")))
        Lineage.release(old)
      }
      live.unpersist(blocking = false)
      bfsCuts.foreach(Lineage.release)
    }
    val flows = cap.join(residual, Seq("u", "v"))
      .select(col("u").as(Graph.SRC), col("v").as(Graph.DST),
        (col("cap") - col("r")).as("flow"))
      .filter(col("flow") > 0)
    Result(total, flows)
  }
}
