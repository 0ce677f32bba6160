package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.core.{Superstep, StepResult}
import graft.gen.GraphGen
import graft.alg.ConnectedComponents

class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val json = new ObjectMapper()

  private def manifest(dir: String, ss: Int): JsonNode =
    json.readTree(Paths.get(s"$dir/superstep=$ss/manifest.json").toFile)

  /** Five vertices whose `x` counts the supersteps run, checkpointed to
   * `dir`; superstep `ss` reports `edges(ss)` traversed edges. */
  private def countUp(dir: String, maxSupersteps: Int, resume: Boolean = false,
                      edges: Int => Long = _ => 5L, convergeAt: Int = -1): Superstep.Outcome =
    Superstep.run(spark.range(5).select(col("id").as("vid"), lit(0).as("x")),
      Superstep.Config(maxSupersteps = maxSupersteps, checkpointDir = Some(dir),
        resume = resume)) { (state, ss) =>
      StepResult(state.withColumn("x", col("x") + 1), edges(ss), converged = ss == convergeAt)
    }

  test("checkpoints write manifests with lineage and metrics") {
    val dir = tmpDir("ckpt")
    val init = spark.range(10).select(col("id").as("vid"), lit(0).as("x"))
    val out = Superstep.run(init,
      Superstep.Config(maxSupersteps = 3, checkpointDir = Some(dir))) { (state, ss) =>
      StepResult(state.withColumn("x", col("x") + 1), edgesTraversed = 10L, converged = ss == 3)
    }
    assert(out.supersteps == 3)
    (1 to 3).foreach { ss =>
      assert(Files.exists(Paths.get(s"$dir/superstep=$ss/manifest.json")))
      assert(!Files.exists(Paths.get(s"$dir/superstep=$ss/manifest.json.tmp")))
      val m = manifest(dir, ss)
      assert(m.path("superstep").asInt() == ss)
      assert(m.path("status").asText() == "complete")
      assert(m.path("edges_traversed").asLong() == 10L)
      val parts = m.path("partitions")
      assert(parts.isArray && parts.size() > 0)
      var rows = 0L
      parts.forEach(p => rows += p.path("rows").asLong())
      assert(rows == 10L && m.path("state_rows").asLong() == 10L)
      assert(m.path("lineage").path("data").asText() == s"$dir/superstep=$ss/data")
      val parent = m.path("lineage").path("parent")
      if (ss > 1) assert(parent.asText() == s"$dir/superstep=${ss - 1}/data")
      else assert(parent.isNull)
    }
    assert(out.state.agg(min("x")).collect()(0).getInt(0) == 3)
  }

  test("TableIO format seam: checkpoints honor graft.table.format") {
    val dir = tmpDir("fmt")
    spark.conf.set(graft.sources.TableIO.FormatKey, "json")
    try {
      val init = spark.range(4).select(col("id").as("vid"), lit(0L).as("x"))
      val out = Superstep.run(init,
        Superstep.Config(maxSupersteps = 2, checkpointDir = Some(dir))) { (state, ss) =>
        StepResult(state.withColumn("x", col("x") + 1L), edgesTraversed = 4L, converged = ss == 2)
      }
      assert(out.state.agg(min("x")).collect()(0).getLong(0) == 2L)
      // the checkpoint table really is json, not parquet
      val files = Files.list(Paths.get(s"$dir/superstep=2/data")).toArray.map(_.toString)
      assert(files.exists(_.endsWith(".json")), s"no json part files in ${files.mkString(",")}")
      assert(!files.exists(_.endsWith(".parquet")), "parquet written despite json format conf")
      // resume reads back through the same seam
      val resumed = Superstep.run(
        spark.range(4).select(col("id").as("vid"), lit(99L).as("x")),
        Superstep.Config(maxSupersteps = 3, checkpointDir = Some(dir), resume = true)) { (state, ss) =>
        StepResult(state.withColumn("x", col("x") + 1L), edgesTraversed = 4L, converged = ss == 3)
      }
      assert(resumed.state.agg(min("x")).collect()(0).getLong(0) == 3L)
    } finally spark.conf.unset(graft.sources.TableIO.FormatKey)
  }

  test("resume continues from the last complete superstep") {
    val dir = tmpDir("resume")
    // run 2 of 5 supersteps, "crash"
    Superstep.run(spark.range(5).select(col("id").as("vid"), lit(0).as("x")),
      Superstep.Config(maxSupersteps = 2, checkpointDir = Some(dir))) { (state, _) =>
      StepResult(state.withColumn("x", col("x") + 1), 5L, converged = false)
    }
    assert(Superstep.latestComplete(dir).map(_._1).contains(2))
    // resume to completion: must NOT re-run supersteps 1-2
    var executed = 0
    val out = Superstep.run(
      spark.range(5).select(col("id").as("vid"), lit(999).as("x")), // ignored on resume
      Superstep.Config(maxSupersteps = 5, checkpointDir = Some(dir), resume = true)) { (state, ss) =>
      executed += 1
      assert(ss >= 3, s"superstep $ss re-executed after resume")
      StepResult(state.withColumn("x", col("x") + 1), 5L, converged = ss == 5)
    }
    assert(executed == 3)
    assert(out.state.agg(min("x")).collect()(0).getInt(0) == 5)
    // ledger includes the pre-crash supersteps read back from manifests
    assert(out.metrics.map(_.superstep) == Seq(1, 2, 3, 4, 5))
  }

  test("manifests stay valid JSON when the checkpoint dir contains a quote") {
    val dir = tmpDir("ckpt\"quote")
    assert(dir.contains("\""))
    countUp(dir, maxSupersteps = 2)
    (1 to 2).foreach { ss =>
      val m = manifest(dir, ss)
      assert(m.path("status").asText() == "complete")
      assert(m.path("lineage").path("data").asText() == s"$dir/superstep=$ss/data")
    }
    assert(manifest(dir, 2).path("lineage").path("parent").asText() == s"$dir/superstep=1/data")
    assert(Superstep.latestComplete(dir).map(_._1).contains(2))
    val out = countUp(dir, maxSupersteps = 3, resume = true)
    assert(out.metrics.map(_.superstep) == Seq(1, 2, 3))
    assert(out.state.agg(min("x")).collect()(0).getInt(0) == 3)
  }

  test("the ledger read back on resume equals the first run's metrics") {
    val dir = tmpDir("ledger")
    val first = countUp(dir, maxSupersteps = 3, edges = ss => 7L * ss, convergeAt = 3)
    val resumed = countUp(dir, maxSupersteps = 5, resume = true, edges = ss => 7L * ss)
    assert(resumed.metrics.map(_.superstep) == Seq(1, 2, 3, 4, 5))
    def key(m: graft.core.StepMetrics) = (m.superstep, m.wallMs, m.edgesTraversed, m.converged)
    assert(resumed.metrics.take(3).map(key) == first.metrics.map(key))
    assert(first.metrics.map(_.converged) == Seq(false, false, true))
    assert(resumed.metrics.drop(3).map(_.edgesTraversed) == Seq(28L, 35L))
  }

  test("a truncated or unparseable manifest is not a resume point") {
    val dir = tmpDir("truncated")
    countUp(dir, maxSupersteps = 4)
    // cut superstep 4's manifest just past its status field, as a crash
    // mid-write would have left it
    val mf4 = Paths.get(s"$dir/superstep=4/manifest.json")
    val text = Files.readString(mf4)
    val cut = text.indexOf("\"complete\"") + "\"complete\"".length + 1
    Files.writeString(mf4, text.substring(0, cut))
    assert(Superstep.latestComplete(dir).map(_._1).contains(3))
    Files.writeString(Paths.get(s"$dir/superstep=3/manifest.json"), "not json")
    assert(Superstep.latestComplete(dir).map(_._1).contains(2))
    Files.writeString(Paths.get(s"$dir/superstep=2/manifest.json"),
      """{"superstep":2,"status":"running"}""")
    assert(Superstep.latestComplete(dir).map(_._1).contains(1))
    // resume replays supersteps 2-4 on top of superstep 1's state
    var executed = Seq.empty[Int]
    val out = Superstep.run(spark.range(5).select(col("id").as("vid"), lit(0).as("x")),
      Superstep.Config(maxSupersteps = 4, checkpointDir = Some(dir), resume = true)) { (state, ss) =>
      executed :+= ss
      StepResult(state.withColumn("x", col("x") + 1), 5L, converged = false)
    }
    assert(executed == Seq(2, 3, 4))
    assert(out.metrics.map(_.superstep) == Seq(1, 2, 3, 4))
    assert(out.state.agg(min("x")).collect()(0).getInt(0) == 4)
    assert(Superstep.latestComplete(dir).map(_._1).contains(4))
  }

  test("WCC with checkpointing resumes mid-iteration to the same answer") {
    val edges = GraphGen.chain(spark, 12).cache()
    val dir = tmpDir("wccckpt")
    // full run for reference
    val expected = toMap[Long](ConnectedComponents.run(edges).components)
    // partial run: cap supersteps below convergence, then resume
    ConnectedComponents.run(edges, checkpointDir = Some(dir), maxSupersteps = 3)
    val resumed = ConnectedComponents.run(edges, checkpointDir = Some(dir), resume = true)
    assert(toMap[Long](resumed.components) == expected)
  }

  test("cut-before-probe executes the step plan exactly once per superstep") {
    // the convergence pattern every iterative alg uses: cut, then probe the
    // materialized frame. A probe on the UNcut plan would re-run the UDF and
    // double the accumulator.
    val acc = spark.sparkContext.longAccumulator("rowEvals")
    val touch = udf((x: Long) => { acc.add(1); x })
    val init = spark.range(100).select(col("id").as("vid"), lit(0L).as("x"))
    val out = Superstep.run(init, Superstep.Config(maxSupersteps = 3)) { (state, ss) =>
      val next = state.select(col("vid"), touch(col("x") + 1).as("x"))
      val cut = graft.core.Lineage.cut(next)
      val anyNegative = !cut.filter(col("x") < 0).isEmpty // convergence-style probe
      StepResult(cut, 0L, converged = anyNegative || ss == 3)
    }
    assert(graft.core.Lineage.isCut(out.state))
    assert(acc.value == 300,
      s"step plan ran ${acc.value} row-evals; expected 300 = rows × supersteps (single execution)")
  }

  test("superstep loop releases previous states' checkpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Superstep.run(
      spark.range(50).select(col("id").as("vid"), lit(0L).as("x")),
      Superstep.Config(maxSupersteps = 10)) { (state, ss) =>
      StepResult(state.withColumn("x", col("x") + 1), 0L, converged = ss == 10)
    }
    assert(out.state.count() == 50)
    val after = spark.sparkContext.getPersistentRDDs.size
    // 10 intermediate states were cut; without Lineage.release they all
    // linger in the block manager until ContextCleaner GC
    assert(after - before <= 2, s"persistent RDDs grew $before -> $after")
  }

  test("metrics expose GTEPS per superstep") {
    val edges = GraphGen.chain(spark, 50)
    val res = graft.alg.PageRank.run(edges)
    res.metrics.foreach { m => assert(m.gteps > 0.0) }
  }
}
