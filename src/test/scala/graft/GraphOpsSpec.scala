package graft

import org.apache.spark.sql.functions._
import graft.core.{Graph, Partitioning, Adjacency}
import graft.gen.GraphGen
import graft.mm.Multimodal

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("undirected/reverse/vertices/degrees") {
    val e = Seq((0L, 1L), (1L, 2L), (0L, 1L)).toDF("src", "dst")
    assert(Graph.undirected(e).count() == 4) // dedup + both dirs
    assert(Graph.symmetrized(e).count() == 6) // multiplicity kept
    assert(Graph.reverse(e).filter(col("src") === 1L && col("dst") === 0L).count() == 2)
    assert(Graph.vertices(e).count() == 3)
    val deg = toMap[Long](Graph.outDegrees(e))
    assert(deg(0L) == 2L && deg(1L) == 1L) // multiplicity counted (CSR row len)
  }

  test("ensureCut: cuts derived plans, passes through scans and cut frames") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    // derived (distinct ⇒ shuffle per re-read): cut, owned by the callee
    val (d1, own1) = Graph.ensureCut(e.distinct())
    assert(own1 && graft.core.Lineage.isCut(d1) && d1.count() == 3)
    // already-cut input: passed through, NOT owned (caller releases)
    val (d2, own2) = Graph.ensureCut(d1)
    assert(!own2 && (d2 eq d1))
    graft.core.Lineage.release(d1)
    // narrow plan (project+filter only): re-reading is cheaper than a
    // block-manager copy — passed through uncut (the 67M-edge parquet
    // scan that OOM'd the scaling leg is this shape)
    val (d3, own3) = Graph.ensureCut(e.filter(col("src") =!= col("dst")))
    assert(!own3 && !graft.core.Lineage.isCut(d3))
    // union+distinct (undirected): every re-read pays the shuffle — cut
    val (d4, own4) = Graph.ensureCut(Graph.undirected(e))
    assert(own4 && graft.core.Lineage.isCut(d4) && d4.count() == 6)
    graft.core.Lineage.release(d4)
  }

  test("reciprocity: hand oracle, self-loops and duplicates excluded") {
    // {(0,1),(1,0),(1,2)} -> 2 of 3 reciprocated; self-loop + dup ignored
    val e = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 2L), (0L, 1L)).toDF("src", "dst")
    val r = Graph.reciprocity(e).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - 0.666667) < 1e-9)
    // fully symmetric graph -> 1.0; one-way chain -> 0.0
    val sym = Graph.reciprocity(Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")).collect()(0)
    assert(sym.getDouble(2) == 1.0)
    val chain = Graph.reciprocity(Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")).collect()(0)
    assert(chain.getDouble(2) == 0.0)
  }

  test("power-law exponent: CSN discrete MLE hand oracle, tail cut at dmin") {
    // out-degrees 3, 2 (tail) and 1 (below dmin=2, excluded):
    // alpha = 1 + 2 / (ln(3/1.5) + ln(2/1.5))
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (4L, 5L), (4L, 6L), (7L, 8L))
      .toDF("src", "dst")
    val r = Graph.powerLawExponent(e).collect()(0)
    val expected = 1.0 + 2.0 / (math.log(3 / 1.5) + math.log(2 / 1.5))
    assert(r.getLong(0) == 2L)
    assert(math.abs(r.getDouble(1) - expected) < 6e-7) // 6-decimal rounding
    // RMAT tail exponent lands in the plausible heavy-tail band
    val rm = Graph.powerLawExponent(GraphGen.rmat(spark, 8, 8, seed = 7))
      .collect()(0).getDouble(1)
    assert(rm > 1.2 && rm < 5.0, s"rmat alpha=$rm")
  }

  test("degree distribution matches groupBy of degrees") {
    val e = GraphGen.star(spark, 5) // hub deg 4, leaves deg 1
    val dist = Graph.degreeDistribution(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist(4L) == 1L && dist(1L) == 4L)
  }

  test("permute preserves structure with dense relabeled ids") {
    val e = GraphGen.chain(spark, 10)
    val p = Graph.permute(e, seed = 5)
    assert(p.count() == e.count())
    val vs = Graph.vertices(p).collect().map(_.getLong(0)).sorted
    assert(vs.toSeq == (0L until 10L))
    // degree multiset preserved
    val d1 = Graph.outDegrees(e).select("deg").collect().map(_.getLong(0)).sorted.toSeq
    val d2 = Graph.outDegrees(p).select("deg").collect().map(_.getLong(0)).sorted.toSeq
    assert(d1 == d2)
  }

  test("subgraph keeps only edges between kept vertices") {
    val e = GraphGen.chain(spark, 10)
    val kept = (0L to 4L).toDF("vid")
    val sub = Graph.subgraph(e, kept)
    assert(Graph.vertices(sub).collect().map(_.getLong(0)).max == 4L)
    assert(sub.count() == 8) // edges 0-1..3-4 both directions
  }

  test("summary counts self-loops and duplicates") {
    val e = Seq((0L, 0L), (0L, 1L), (0L, 1L), (2L, 1L)).toDF("src", "dst")
    val s = Graph.summary(e).collect()(0)
    assert(s.getLong(0) == 3) // vertices
    assert(s.getLong(1) == 4) // edges
    assert(s.getLong(2) == 1) // self loops
    assert(s.getLong(3) == 1) // dup edges
  }

  test("adjacency chunking splits hubs, preserves degree and neighbors") {
    val e = GraphGen.star(spark, 1000) // hub with deg 999
    val adj = Adjacency.build(e, chunkSize = 100)
    val hubRows = adj.filter(col("src") === 0L).collect()
    assert(hubRows.length >= 9, s"hub not chunked: ${hubRows.length} rows")
    assert(hubRows.forall(_.getLong(1) == 999L)) // total degree on every chunk
    assert(hubRows.map(_.getSeq[Long](2).size).sum == 999)
    val leafRows = adj.filter(col("src") === 5L).collect()
    assert(leafRows.length == 1 && leafRows(0).getSeq[Long](2) == Seq(0L))
  }

  test("scatter and expand over a split hub match the per-edge answers") {
    // hub 0 has out-degree 7 (two parallel edges), so chunkSize 2 splits it
    // into 4 rows; leaf 4 sends to the hub twice, and 10 sends nothing
    val e = Seq((0L, 1L), (0L, 3L), (0L, 4L), (0L, 6L), (0L, 10L), (0L, 1L), (0L, 6L),
      (3L, 0L), (4L, 0L), (4L, 0L), (10L, 11L)).toDF("src", "dst")
    val adj = Adjacency.build(e, chunkSize = 2)
    assert(adj.filter(col("src") === 0L).count() == 4)
    val from = Graph.vertices(e).filter(col("vid") =!= 10L)
      .select(col("vid"), (col("vid") * 10 + 1).as("x"))
    val perEdge = e.join(from, col("src") === col("vid"))
      .groupBy(col("dst").as("vid")).agg(sum("x").as("s"))
    assert(toMap[Long](Adjacency.scatter(adj, from, col("x"), sum(_), "s")) ==
      toMap[Long](perEdge))
    val frontier = Seq(0L, 4L).toDF("vid")
    assert(Adjacency.expand(adj, frontier).as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 3L, 4L, 6L, 10L))
    // keyed by root: each root gets its own distinct out-neighbours
    val keyed = Seq((1L, 0L), (2L, 0L), (2L, 4L)).toDF("root", "vid")
    assert(Adjacency.expand(adj, keyed, "root").as[(Long, Long)].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 6L, 10L).map(1L -> _) ++ Seq(0L, 1L, 3L, 4L, 6L, 10L).map(2L -> _))
  }

  test("edge-balanced buckets: each bucket carries ~equal edge mass") {
    val e = GraphGen.rmat(spark, 9, 8, seed = 2)
    val buckets = Partitioning.edgeBalancedBuckets(e, 8)
    val mass = buckets.groupBy("bucket").agg(sum("deg").as("m"))
      .collect().map(_.getLong(1))
    val total = mass.sum.toDouble
    assert(mass.length == 8)
    // no bucket more than 2x the fair share (power-law input!)
    assert(mass.forall(_ <= total / 8 * 2.2), mass.mkString(","))
  }

  test("modularity: perfect split of disconnected cliques ~ high Q") {
    val e = GraphGen.complete(spark, 4).union(
      GraphGen.complete(spark, 4).select(col("src") + 10, col("dst") + 10))
    val parts = Graph.vertices(e).select(col("vid"), (col("vid") >= 10L).cast("int").as("part"))
    val q = Partitioning.modularity(e, parts)
    assert(q > 0.4, s"Q=$q")
  }

  test("multimodal: feature extraction and resize preserve schema and determinism") {
    val media = Multimodal.syntheticMedia(spark, 20, seed = 3).cache()
    val feats = Multimodal.imageFeatures(media).collect()
    assert(feats.length == 20)
    feats.foreach { f =>
      assert(f.mean_luma >= 0 && f.mean_luma <= 255)
      assert(math.abs(f.feature.sum - 1.0f) < 1e-3) // normalized histogram
    }
    val resized = Multimodal.resize(media, maxSide = 16).collect()
    assert(resized.forall(m => m.width <= 16 || m.height <= 16))
    // raw8 invariant survives the resize: one byte per pixel
    assert(resized.forall(m => m.payload.length == m.width * m.height),
      resized.map(m => s"${m.payload.length} vs ${m.width}x${m.height}").mkString(","))
    // deterministic
    val feats2 = Multimodal.imageFeatures(media).collect()
    assert(feats.map(_.mean_luma).toSeq == feats2.map(_.mean_luma).toSeq)
  }

  test("multimodal: REAL PNG decode via javax.imageio matches a hand oracle") {
    import graft.mm.MediaRow
    // 4x2 grayscale gradient PNG rendered in-test
    val img = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val grays = Array(0, 51, 102, 153, 204, 255, 30, 60)
    for (y <- 0 until 2; x <- 0 until 4) {
      val g = grays(y * 4 + x)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(MediaRow(7L, "image", bos.toByteArray, "png", 0, 0, 0L)).toDS()
    val f = Multimodal.imageFeatures(media).collect()(0)
    // decoded dimensions come from the codec, not the (zeroed) metadata
    assert(f.width == 4 && f.height == 2)
    // gray pixel (r=g=b=v) under (77r+150g+29b)>>8 = (256*v)>>8 = v
    val expected = grays.map(_.toDouble).sum / grays.length
    assert(math.abs(f.mean_luma - expected) < 1e-9, s"${f.mean_luma} vs $expected")
  }

  test("multimodal: REAL JPEG decode via javax.imageio — hand oracle + mixed corpus") {
    import graft.mm.MediaRow
    // uniform gray 128: a solid block is DC-only, so JPEG reproduces it
    // within quantizer error — a tight hand oracle despite lossiness
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, (128 << 16) | (128 << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(MediaRow(9L, "image", bos.toByteArray, "jpeg", 0, 0, 0L)).toDS()
    val f = Multimodal.imageFeatures(media).collect()(0)
    assert(f.width == 8 && f.height == 8)
    assert(math.abs(f.mean_luma - 128.0) <= 2.0, f.mean_luma.toString)

    // mixed corpus: PNG twins match their raw8 originals EXACTLY (lossless,
    // and gray (v,v,v) survives the BT.601 integer luma as v); JPEG twins
    // approximate them (per-block DC preservation bounds the mean shift)
    val raw = Multimodal.syntheticMedia(spark, 20, seed = 3)
    val mixed = Multimodal.syntheticMediaMixed(spark, 20, seed = 3)
    val byFmt = mixed.collect().groupBy(_.format).view.mapValues(_.length).toMap
    assert(byFmt == Map("raw8" -> 12, "png" -> 4, "jpeg" -> 4), byFmt.toString)
    val fr = Multimodal.imageFeatures(raw).collect().map(x => x.media_id -> x).toMap
    Multimodal.imageFeatures(mixed).collect().foreach { g =>
      val r = fr(g.media_id)
      assert(g.width == r.width && g.height == r.height, s"dims of ${g.media_id}")
      if (g.media_id % 5 == 3)
        assert(math.abs(g.mean_luma - r.mean_luma) < 8.0, s"jpeg twin ${g.media_id}")
      else
        assert(g.mean_luma == r.mean_luma, s"lossless twin ${g.media_id}")
    }
  }

  test("multimodal: REAL WAV decode via javax.sound.sampled matches a hand oracle") {
    import graft.mm.MediaRow
    // known 16-bit signed mono samples, wrapped into a WAV container in-test
    val samples = Array[Short](0, 16384, -16384, 32767, -32768, 0, 8192, -8192)
    val pcm = new Array[Byte](samples.length * 2)
    java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asShortBuffer().put(samples)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(MediaRow(9L, "audio", bos.toByteArray, "wav", 0, 0, 1L)).toDS()
    val f = Multimodal.audioFeatures(media).collect()(0)
    assert(f.n_samples == samples.length && f.sample_rate == 8000.0)
    // all sample values are exact in float (k/2^15, |k| ≤ 2^15) so the rms
    // hand oracle is exact up to double-sum rounding
    val xs = samples.map(_ / 32768.0)
    val rms = math.sqrt(xs.map(x => x * x).sum / xs.length)
    assert(math.abs(f.rms - rms) < 1e-12, s"${f.rms} vs $rms")
    // sign pairs (>=0 vs <0): changes at 16384→-16384, →32767, →-32768, →0, 8192→-8192
    assert(math.abs(f.zcr - 5.0 / 7.0) < 1e-12, s"zcr ${f.zcr}")
    // rawpcm8 deterministic headerless test format
    val raw = Seq(MediaRow(10L, "audio",
      Array[Byte](128.toByte, 255.toByte, 0.toByte), "rawpcm8", 0, 0, 0L)).toDS()
    val g = Multimodal.audioFeatures(raw).collect()(0)
    assert(g.n_samples == 3 && g.sample_rate == 8000.0)
    assert(math.abs(g.rms - math.sqrt((0.0 + math.pow(127 / 128.0, 2) + 1.0) / 3)) < 1e-7)
  }

  test("multimodal: REAL y4m video demux+decode matches a hand-built stream") {
    import graft.mm.MediaRow
    // hand-built YUV4MPEG2 stream: 4x2 C420, 3 frames of known luma +
    // nonzero chroma (which the luma decode must SKIP, not absorb)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("YUV4MPEG2 W4 H2 F30:1 Ip A1:1 C420jpeg\n".getBytes(ascii))
    val lumas = Array(
      Array[Int](0, 10, 20, 30, 40, 50, 60, 70),
      Array[Int](5, 15, 25, 35, 45, 55, 65, 75),
      Array[Int](200, 201, 202, 203, 204, 205, 206, 207))
    lumas.foreach { fr =>
      bos.write("FRAME\n".getBytes(ascii))
      fr.foreach(bos.write)
      bos.write(Array[Byte](99, 98, 97, 96)) // 2+2 chroma bytes (w*h/2)
    }
    val (info, frames) = Multimodal.decodeY4m(bos.toByteArray, mediaId = 1L)
    assert(info.width == 4 && info.height == 2 && info.nFrames == 3)
    assert(info.fpsNum == 30 && info.fpsDen == 1 && info.durationMs == 100L)
    assert(frames.map(_.pixels.toSeq) == lumas.toSeq.map(_.map(_.toByte).toSeq))

    // frame sampling emits every k-th decoded luma plane as a raw8 image
    // row with the HEADER dimensions; imageFeatures consumes it unchanged
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(MediaRow(3L, "video", bos.toByteArray, "y4m", 0, 0, 0L)).toDS()
    val sampled = Multimodal.sampleFrames(media, everyK = 2).collect()
      .sortBy(_.media_id)
    assert(sampled.map(_.media_id).toSeq == Seq(3000000L, 3000002L))
    assert(sampled.forall(m => m.width == 4 && m.height == 2 && m.format == "raw8"))
    val feats = Multimodal.imageFeatures(
        Multimodal.sampleFrames(media, everyK = 2)).collect()
      .sortBy(_.media_id)
    assert(math.abs(feats(0).mean_luma - lumas(0).sum / 8.0) < 1e-12)
    assert(math.abs(feats(1).mean_luma - lumas(2).sum / 8.0) < 1e-12)

    // per-clip stream stats over the whole synthetic corpus (real parser
    // on every row) + mono colorspace (no chroma to skip)
    val corpus = Multimodal.syntheticY4m(spark, 12, seed = 5).cache()
    val vf = Multimodal.videoFeatures(corpus).collect()
    assert(vf.length == 12)
    vf.foreach { v =>
      assert(v.fps == 30.0 && v.n_frames >= 2 && v.n_frames <= 5)
      assert(v.mean_luma >= 0 && v.mean_luma <= 255)
      assert(v.duration_ms == v.n_frames * 1000L / 30L)
    }
    val mono = ("YUV4MPEG2 W2 H2 Cmono\nFRAME\n".getBytes(ascii)
      ++ Array[Byte](1, 2, 3, 4))
    val (mi, mf) = Multimodal.decodeY4m(mono, mediaId = 4L)
    assert(mi.colorspace == "mono" && mi.nFrames == 1 && mi.fpsNum == 25)
    assert(mf(0).pixels.toSeq == Seq[Byte](1, 2, 3, 4))

    // C422 with ODD width: chroma planes are 2 × ceil(w/2) × h = 8 bytes
    // per frame (w·h = 6 would drift the second frame's offset)
    val b422 = new java.io.ByteArrayOutputStream()
    b422.write("YUV4MPEG2 W3 H2 F25:1 C422\n".getBytes(ascii))
    val l422 = Array(Array[Int](1, 2, 3, 4, 5, 6), Array[Int](7, 8, 9, 10, 11, 12))
    l422.foreach { fr =>
      b422.write("FRAME\n".getBytes(ascii))
      fr.foreach(b422.write)
      b422.write(Array[Byte](90, 91, 92, 93, 94, 95, 96, 97)) // 2·ceil(3/2)·2
    }
    val (i422, f422) = Multimodal.decodeY4m(b422.toByteArray, mediaId = 5L)
    assert(i422.nFrames == 2)
    assert(f422.map(_.pixels.toSeq) == l422.toSeq.map(_.map(_.toByte).toSeq))

    // high-bit-depth streams (2 bytes/sample) are rejected, not misparsed;
    // 420paldv's letters-only suffix must NOT trip the depth probe
    val p10 = ("YUV4MPEG2 W2 H2 C420p10\nFRAME\n".getBytes(ascii)
      ++ Array.fill[Byte](12)(0))
    intercept[IllegalArgumentException] { Multimodal.decodeY4m(p10, mediaId = 6L) }
    val paldv = ("YUV4MPEG2 W2 H2 C420paldv\nFRAME\n".getBytes(ascii)
      ++ Array.fill[Byte](6)(7))
    val (ip, fp) = Multimodal.decodeY4m(paldv, mediaId = 7L)
    assert(ip.nFrames == 1 && fp(0).pixels.length == 4)
  }

  test("assortativity: star is maximally disassortative; matches driver-side Pearson") {
    val star = graft.gen.GraphGen.star(spark, 6)
    val r = Graph.assortativity(star).collect()(0).getDouble(0)
    assert(math.abs(r - (-1.0)) < 1e-12)
    // random graph vs driver-side Pearson over symmetrized endpoint degrees
    val g2 = graft.gen.GraphGen.uniform(spark, 25, 140, seed = 9)
    val es = Graph.undirected(g2).collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    val deg = es.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val xs = es.map(e => deg(e._1)); val ys = es.map(e => deg(e._2))
    def mean(a: Seq[Double]) = a.sum / a.size
    val (mx, my) = (mean(xs), mean(ys))
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum)
    val sy = math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
    val expected = cov / (sx * sy)
    val got = Graph.assortativity(g2).collect()(0).getDouble(0)
    assert(math.abs(got - expected) < 1e-9, s"$got vs $expected")
  }

  test("deterministic graph sampling: edge and induced-vertex variants") {
    val e = (0L until 400L).map(i => (i % 97, (i * 7 + 3) % 97)).toDF("src", "dst")
      .filter(col("src") =!= col("dst")).distinct()
    val n = e.count()
    // fraction 1 keeps everything, 0 keeps nothing; sample is a subset
    assert(Graph.sampleEdges(e, 1.0).count() == n)
    assert(Graph.sampleEdges(e, 0.0).count() == 0)
    val s = Graph.sampleEdges(e, 0.3)
    assert(s.count() > 0 && s.count() < n)
    assert(s.except(e).count() == 0)
    // partitioning-invariant (deterministic hash, no RNG)
    val a = s.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.sampleEdges(e.repartition(11), 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // induced sample: surviving edges have BOTH endpoints in the kept set,
    // and every edge between two kept vertices survives
    val sv = Graph.sampleVerticesInduced(e, 0.5)
    val keptV = sv.select(col("src").as("vid"))
      .union(sv.select(col("dst"))).distinct()
    assert(Graph.subgraph(e, keptV).except(sv).count() == 0)
    assert(sv.except(e).count() == 0)
  }

  test("sampleNeighbors: bounded fan-out, subset, salted equals global window") {
    val e = (0L until 600L).map(i => (i % 23, (i * 7 + 3) % 101)).toDF("src", "dst")
      .filter(col("src") =!= col("dst")).distinct().cache()
    val k = 5
    val s = Graph.sampleNeighbors(e, k)
    // at most k per source; sources with deg <= k keep ALL their edges
    val fanOut = s.groupBy("src").count().collect().map(_.getLong(1))
    assert(fanOut.forall(_ <= k) && fanOut.nonEmpty)
    val degs = e.groupBy("src").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sampled = s.groupBy("src").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(degs.forall { case (v, d) => sampled.getOrElse(v, 0L) == math.min(d, k.toLong) })
    assert(s.except(e).count() == 0)
    // salted two-phase equals the single-window form, and is deterministic
    // under physical repartitioning
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(toSet(s) == toSet(Graph.sampleNeighbors(e, k, salts = 1)))
    assert(toSet(s) == toSet(Graph.sampleNeighbors(e.repartition(13), k)))
    e.unpersist()
  }

  test("sampleKHop: unrolled driver-side reference, hop structure, chain degeneracy") {
    val e = (0L until 600L).map(i => (i % 23, (i * 7 + 3) % 101)).toDF("src", "dst")
      .filter(col("src") =!= col("dst")).distinct().cache()
    val seeds = Seq(0L, 1L, 2L).toDF("vid")
    val fanouts = Seq(3, 2)
    val got = Graph.sampleKHop(e, seeds, fanouts).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

    // driver-side unroll: per hop, rank the frontier's edges by the same
    // md5 key and keep fanout; next frontier = all sampled dsts
    val adj: Map[Long, Seq[Long]] = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    var frontier = Set(0L, 1L, 2L)
    val want = scala.collection.mutable.Set[(Int, Long, Long)]()
    for ((k, i) <- fanouts.zipWithIndex) {
      val picked = frontier.toSeq.flatMap { v =>
        adj.getOrElse(v, Seq.empty)
          .sortBy(d => (md5hex(s"${v}_$d"), s"${v}_$d"))
          .take(k).map(d => (i + 1, v, d))
      }
      want ++= picked
      frontier = picked.map(_._3).toSet
    }
    assert(got == want.toSet)
    // hop-1 sources are exactly the seeds that have out-edges
    assert(got.filter(_._1 == 1).map(_._2) == seedsWithOutEdges(adj, Set(0L, 1L, 2L)))
    e.unpersist()
  }

  private def seedsWithOutEdges(adj: Map[Long, Seq[Long]], seeds: Set[Long]): Set[Long] =
    seeds.filter(v => adj.get(v).exists(_.nonEmpty))

  test("sampleKHop: a sink seed produces no blocks; fanout covers a chain fully") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val fromSink = Graph.sampleKHop(chain, Seq(3L).toDF("vid"), Seq(2, 2))
    assert(fromSink.count() == 0L)
    val full = Graph.sampleKHop(chain, Seq(0L).toDF("vid"), Seq(1, 1)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == Set((1, 0L, 1L), (2, 1L, 2L)))
  }

  test("contract: quotient graph aggregates collapsed edge multiplicity") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L)).toDF("src", "dst")
    val m = Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L)).toDF("vid", "part")
    val g = Graph.contract(e, m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(g == Map((0L, 1L) -> 2L, (1L, 0L) -> 1L))
    val loops = Graph.contract(e, m, dropSelfLoops = false).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(loops == Map((0L, 1L) -> 2L, (1L, 0L) -> 1L,
      (0L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  test("snapshotDiff: added, removed, kept edges between two crawls") {
    import spark.implicits._
    val old = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val neu = Seq((0L, 1L), (2L, 3L), (3L, 4L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.snapshotDiff(old, neu).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got == Map((0L, 1L) -> "kept", (1L, 2L) -> "removed",
      (2L, 3L) -> "kept", (3L, 4L) -> "added"))
    // identical snapshots: everything kept
    assert(Graph.snapshotDiff(old, old).collect().forall(_.getString(2) == "kept"))
  }

  test("rich club: clique saturates at 1, star collapses past k=1") {
    // K4: every degree 3 — φ(0..2) = 1.0, k ≥ 3 empties the club
    val k4 = (for (i <- 0L until 4L; j <- i + 1 until 4L) yield (i, j)).toDF("src", "dst")
    val rk4 = Graph.richClub(k4, maxK = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for (k <- 0L to 2L) assert(rk4(k) == ((4L, 6L, 1.0)), s"k=$k: ${rk4(k)}")
    assert(rk4(3L) == ((0L, 0L, 0.0)) && rk4(4L) == ((0L, 0L, 0.0)))
    // star S4: φ(0) = 2n/((n+1)n) = 2/(n+1); k=1 leaves only the hub → 0
    val star = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val rs = Graph.richClub(star, maxK = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rs(0L) == ((5L, 4L, 0.4)) && rs(1L) == ((1L, 0L, 0.0)))
  }

  test("degree gini: 0 on a regular graph; star closed form; driver-side reference") {
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    val rc = Graph.degreeGini(cycle).collect()(0)
    assert(rc.getLong(0) == 6L && rc.getDouble(1) == 0.0)
    // star S4: degrees [1,1,1,1,4] -> G = 3/2 − (n+2)/(n+1) = 0.3
    val star = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graph.degreeGini(star).collect()(0).getDouble(1) == 0.3)
    // hashed graph vs driver-side formula
    val es = (0L until 300L).map(i => ((i * 13 + 5) % 50, (i * 29 + 11) % 50))
      .filter(p => p._1 != p._2)
    val undirected = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val degs = undirected.groupBy(_._1).map(_._2.size.toLong).toSeq.sorted
    val n = degs.size.toLong
    val ws = degs.zipWithIndex.map { case (d, i) => (i + 1L) * d }.sum
    val ref = BigDecimal(2.0 * ws / (n * degs.sum) - (n + 1.0) / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Graph.degreeGini(es.toDF("src", "dst")).collect()(0)
    assert(got.getLong(0) == n && math.abs(got.getDouble(1) - ref) < 2e-6)
  }
}
