package graft

import org.apache.spark.sql.functions._

import graft.algo.RandomWalks
import graft.multimodal.MediaPipeline

class RandomWalksSpec extends SparkTestBase {

  private def edgeSet: Set[(Long, Long)] = GraphFixture.edgeList
    .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet

  test("deepWalk paths follow real edges and are reproducible") {
    val w1 = RandomWalks.deepWalk(GraphFixture.graph.edges, 1, 6)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toList).toMap
    val w2 = RandomWalks.deepWalk(GraphFixture.graph.edges, 1, 6)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toList).toMap
    assert(w1 == w2, "walks must be deterministic")
    val es = edgeSet
    for ((_, path) <- w1) {
      assert(path.length == 6)
      path.sliding(2).foreach { case List(a, b) => assert(es.contains((a, b)), s"($a,$b) not an edge") }
    }
  }

  test("node2vec paths follow real edges") {
    val walks = RandomWalks.node2vec(GraphFixture.graph.edges, p = 1.0, q = 0.8, pathLength = 5)
      .collect().map(r => r.getSeq[Long](2).toList)
    val es = edgeSet
    assert(walks.nonEmpty)
    walks.foreach { path =>
      assert(path.length == 5)
      path.sliding(2).foreach { case List(a, b) => assert(es.contains((a, b))) }
    }
  }

  test("node2vec transition distribution matches the normalized rejection scheme") {
    // graph where cur=1 with prev=0 has all three d(prev,x) classes:
    //   back: 0 (d=0)   common: 2 (0-2 is an edge, d=1)   out: 3 (d=2)
    import spark.implicits._
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 1L), (0L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val (p, q, attempts) = (0.5, 4.0, 4)
    // exact per-class probability of the bounded rejection sampler:
    // uniform candidate (deg 3), accept a_c = (1/{p,1,q})/top, forced last draw
    val top = math.max(1.0, math.max(1.0 / p, 1.0 / q))
    val a = Map(0L -> 1.0 / p / top, 2L -> 1.0 / top, 3L -> 1.0 / q / top)
    val r = 1.0 - a.values.sum / 3.0
    val geo = (0 until attempts - 1).map(t => math.pow(r, t)).sum
    val forced = math.pow(r, attempts - 1)
    val expected = a.map { case (c, ac) => c -> (ac * geo / 3.0 + forced / 3.0) }
    // under the pre-fix unnormalized scheme P(back)=P(common)=0.443 — this
    // spec rejects it (expected here: back 0.588, common 0.310, out 0.102)
    val walks = RandomWalks.node2vec(edges, p = p, q = q, walksPerVertex = 3000,
      pathLength = 6, attempts = attempts)
      .collect().map(_.getSeq[Long](2).toList)
    val nexts = walks.flatMap(_.sliding(3).collect {
      case List(0L, 1L, x) => x
    })
    assert(nexts.length > 2000, s"need samples through (prev=0,cur=1), got ${nexts.length}")
    val emp = nexts.groupBy(identity).view.mapValues(_.length.toDouble / nexts.length).toMap
    for ((c, exp) <- expected) {
      val e = emp.getOrElse(c, 0.0)
      assert(math.abs(e - exp) < 0.04, f"class $c: empirical $e%.3f vs expected $exp%.3f")
    }
  }

  test("deepWalk is hub-safe: star graph with a 300k-degree hub") {
    // the round-1 collect_list adjacency made the hub one giant array row;
    // the positional index keeps it 300k ordinary rows. Walks must complete
    // and alternate hub/leaf.
    val n = 300000L
    val spark2 = spark
    import spark2.implicits._
    val edges = spark.range(1, n + 1)
      .select(lit(0L).as("src"), col("id").as("dst"), lit(1L).as("weight"))
    val walks = RandomWalks.deepWalk(edges, walksPerVertex = 1, pathLength = 4).cache()
    assert(walks.count() == n + 1)
    val p = (i: Int) => element_at(col("path"), i)
    val badLeafStarts = walks.where(col("start") =!= 0L)
      .where(p(2) =!= 0L || p(3) === 0L || p(4) =!= 0L).count()
    val badHubStarts = walks.where(col("start") === 0L)
      .where(p(2) === 0L || p(3) =!= 0L || p(4) === 0L).count()
    walks.unpersist()
    assert(badLeafStarts == 0L && badHubStarts == 0L)
  }

  test("wide draw reaches neighbor indices beyond 2000003 and stays near-uniform") {
    // a single mix() is bounded by 2000003, so `mix mod deg` could NEVER
    // select idx >= 2000003 on a mega-hub (and carried ~2x modulo bias near
    // deg 10^6) — this spec rejects that scheme
    val deg = 5000000L
    val draws = spark.range(0, 20000)
      .select(RandomWalks.draw(col("id"), lit(1), lit(deg), 42L).cast("long").as("d"))
      .cache()
    val mx = draws.agg(max(col("d"))).head().getLong(0)
    val mn = draws.agg(min(col("d"))).head().getLong(0)
    assert(mn >= 0L && mx < deg)
    assert(mx >= 2000003L, s"draw never exceeded 2000003 (max=$mx) — range not widened")
    // rough uniformity: 5 equal buckets each within 25% of expected mass
    val buckets = draws.groupBy((col("d") * 5 / deg).cast("long").as("b")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    draws.unpersist()
    assert(buckets.keySet == Set(0L, 1L, 2L, 3L, 4L))
    buckets.values.foreach(c => assert(math.abs(c - 4000.0) < 1000.0, s"bucket skew: $buckets"))
  }

  test("metaPath2Vec alternates vertex kinds per the meta path") {
    val g = GraphFixture.graph
    val kinds = g.vertices.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val walks = RandomWalks.metaPath2Vec(g.edges, g.vertices, Seq("conv", "tool"), pathLength = 5)
      .collect().map(r => r.getSeq[Long](2).toList)
    assert(walks.nonEmpty)
    walks.foreach { path =>
      path.zipWithIndex.foreach { case (v, i) =>
        assert(kinds(v) == (if (i % 2 == 0) "conv" else "tool"), s"$path kind mismatch at $i")
      }
    }
  }
}

class MediaPipelineSpec extends SparkTestBase {

  test("media pipeline: deterministic stub decode, correct shapes, frame offsets") {
    val media = MediaPipeline.syntheticMedia(spark, 30)
    val f1 = MediaPipeline.extractFeatures(media, dim = 16, frames = 4).collect()
    val f2 = MediaPipeline.extractFeatures(media.repartition(7), dim = 16, frames = 4).collect()
    assert(f1.map(x => (x.media_id, x.features.toList)).sortBy(_._1).toSeq ==
      f2.map(x => (x.media_id, x.features.toList)).sortBy(_._1).toSeq)
    f1.foreach { f =>
      assert(f.features.length == 16)
      if (f.kind == "video") assert(f.frame_offsets.length == 4 && f.frame_offsets.head == 0L)
      else assert(f.frame_offsets.isEmpty)
    }
  }

  test("PPM decode is real: round-trip + hand-computed pooled luminance") {
    import graft.multimodal.RawCodecs
    // 2x2 image: white, black, black, white — 2x2 grid pooling = identity
    val rgb = Array[Byte](-1, -1, -1, 0, 0, 0, 0, 0, 0, -1, -1, -1)
    val enc = RawCodecs.encodePpm(2, 2, rgb)
    val Some((w, h, dec)) = RawCodecs.decodePpm(enc)
    assert(w == 2 && h == 2 && dec.toSeq == rgb.toSeq)
    val feats = RawCodecs.poolLuminance(w, h, dec, grid = 2)
    assert(math.abs(feats(0) - 1.0f) < 1e-5 && math.abs(feats(3) - 1.0f) < 1e-5)
    assert(math.abs(feats(1)) < 1e-5 && math.abs(feats(2)) < 1e-5)
    // comment + whitespace variants parse too
    val commented = ("P6\n# a comment\n 2 2\n255\n").getBytes("US-ASCII") ++ rgb
    assert(RawCodecs.decodePpm(commented).exists(_._1 == 2))
    assert(RawCodecs.decodePpm("nonsense".getBytes).isEmpty)
    // header running straight into pixel data (no whitespace after maxval)
    // must be REJECTED, not silently shifted by one byte
    val noSep = "P6 2 2 255".getBytes("US-ASCII") ++ Array.fill[Byte](13)(7)
    assert(RawCodecs.decodePpm(noSep).isEmpty)
  }

  test("WAV decode walks the RIFF chunk list (LIST/fact chunks, 18-byte fmt)") {
    import graft.multimodal.RawCodecs
    val rate = 8000
    val samples = Array.tabulate(64)(i => (i * 100).toShort)
    // canonical encode, then rebuild with a LIST chunk and an 18-byte fmt
    // (cbSize=0) BEFORE data — a legal layout the old fixed-offset parser
    // silently rejected into the stub path
    val listBody = "INFOtest!".getBytes("US-ASCII") // odd size → exercises padding
    val fmt18 = java.nio.ByteBuffer.allocate(18).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      .putShort(0).array()
    val dataLen = samples.length * 2
    val body = java.nio.ByteBuffer
      .allocate(4 + 8 + listBody.length + 1 + 8 + 18 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    body.put("WAVE".getBytes("US-ASCII"))
    body.put("LIST".getBytes("US-ASCII")).putInt(listBody.length).put(listBody).put(0.toByte)
    body.put("fmt ".getBytes("US-ASCII")).putInt(18).put(fmt18)
    body.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(body.putShort)
    val payload = body.array()
    val wav = java.nio.ByteBuffer.allocate(8 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(payload.length).put(payload).array()
    val Some((gotRate, dec)) = RawCodecs.decodeWav(wav)
    assert(gotRate == rate && dec.toSeq == samples.toSeq)
  }

  test("decoded flag: real raw decode true, compressed-stub false") {
    val media = MediaPipeline.syntheticMedia(spark, 12)
    val feats = MediaPipeline.extractFeatures(media, dim = 16).collect()
    feats.foreach { f =>
      if (f.kind == "video") assert(!f.decoded, s"video ${f.media_id} must be stub")
      else assert(f.decoded, s"${f.kind} ${f.media_id} must be real decode")
    }
  }

  test("WAV decode is real: round-trip + sine RMS ~ A/sqrt(2)") {
    import graft.multimodal.RawCodecs
    val rate = 8000
    val samples = Array.tabulate(800)(i => (math.sin(2 * math.Pi * 400 * i / rate) * 16384).toShort)
    val Some((gotRate, dec)) = RawCodecs.decodeWav(RawCodecs.encodeWav(rate, samples))
    assert(gotRate == rate && dec.toSeq == samples.toSeq)
    val rms = RawCodecs.rmsWindows(dec, 16)
    val expected = (16384.0 / 32768.0) / math.sqrt(2.0)
    rms.foreach(r => assert(math.abs(r - expected) < 0.02, s"rms $r vs $expected"))
  }

  test("image/audio features come from real decode, not the stub") {
    val media = MediaPipeline.syntheticMedia(spark, 12)
    val feats = MediaPipeline.extractFeatures(media, dim = 16).collect()
    // gradient image: left grid column darker than right (red ramps with x)
    val img = feats.filter(_.kind == "image")
    assert(img.nonEmpty)
    img.foreach { f => assert(f.features(0) < f.features(3), s"${f.features.toList}") }
    // sine audio: all RMS windows near A/sqrt(2), far from the stub's [0,1) noise spread
    val aud = feats.filter(_.kind == "audio")
    assert(aud.nonEmpty)
    val expected = (12000.0 / 32768.0) / math.sqrt(2.0)
    aud.foreach { f =>
      f.features.foreach(r => assert(math.abs(r - expected) < 0.03, s"${f.features.toList}"))
    }
  }

  test("resize plan computes scales without touching bytes") {
    import spark.implicits._
    val got = MediaPipeline.resizePlan(
      Seq((1L, 2000, 1000), (2L, 100, 50)).toDF("media_id", "width", "height"), 512)
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))).toMap
    assert(got(1L) == (512, 256))
    assert(got(2L) == (100, 50))
  }
}

class StreamingSpec extends SparkTestBase {

  test("streaming windowed tool counts match the batch window aggregation") {
    import graft.streaming.TranscriptStream
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-w").toString
    val t = GraphFixture.transcripts
    t.write.mode("overwrite").parquet(dir)
    // duplicate a slice so the (conv_id, turn_idx) dedup stage is EXERCISED,
    // and mirror that dedup on the batch side — the semantics under test
    t.limit(40).write.mode("append").parquet(dir)

    val q = TranscriptStream.toolWindowCounts(
        TranscriptStream.readTranscripts(spark, dir), window_ = "5 minutes")
      .writeStream.outputMode("update").format("memory").queryName("tw").start()
    q.processAllAvailable(); q.stop()

    val got = spark.sql(
        "SELECT window.start AS ws, tool, max(turns) AS turns FROM tw GROUP BY 1, 2")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = t.dropDuplicates("conv_id", "turn_idx")
      .where(col("tool").isNotNull)
      .groupBy(window(col("ts"), "5 minutes"), col("tool"))
      .agg(count(lit(1)).as("turns"))
      .select(col("window.start").as("ws"), col("tool"), col("turns"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == exp)
  }

  test("streaming conv-tool counts match the batch derivation on the same data") {
    import graft.streaming.TranscriptStream
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val t = GraphFixture.transcripts
    t.write.mode("overwrite").parquet(dir)
    // duplicate a slice to exercise the dedup stage
    t.limit(50).write.mode("append").parquet(dir)

    val stream = TranscriptStream.readTranscripts(spark, dir)
    val q = TranscriptStream.convToolCounts(stream)
      .writeStream.outputMode("update").format("memory").queryName("ct").start()
    q.processAllAvailable(); q.stop()

    val got = spark.sql("SELECT conv_id, tool, max(weight) AS weight FROM ct GROUP BY 1,2")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = t.where(col("tool").isNotNull).groupBy("conv_id", "tool").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == exp)
  }

  test("foreachBatch edge merge over two micro-batches equals the batch derivation") {
    import graft.streaming.TranscriptStream
    import graft.sources.ParquetDirTableIO
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-m").toString
    val root = java.nio.file.Files.createTempDirectory("graft-stream-io").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    val t = GraphFixture.transcripts.cache()
    // two single-file slices → with maxFilesPerTrigger=1, two micro-batches;
    // sliceB re-ships 30 of sliceA's turns (cross-batch duplicates the
    // watermarked dedup state must drop)
    val sliceA = t.where(col("turn_idx") % 2 === 0)
    val sliceB = t.where(col("turn_idx") % 2 === 1).unionByName(sliceA.limit(30))
    sliceA.coalesce(1).write.mode("append").parquet(dir)
    sliceB.coalesce(1).write.mode("append").parquet(dir)

    val io = new ParquetDirTableIO(root)
    val stream = spark.readStream.schema(TranscriptStream.transcriptSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = TranscriptStream.edgeMergeSink(stream, io, "edges", ckpt)
    q.processAllAvailable(); q.stop()

    val snaps = io.snapshots("edges")
    assert(snaps.size >= 2, s"expected >=2 delta snapshots, got $snaps")

    def edges: Map[(String, String), Long] =
      TranscriptStream.readEdges(spark, io, "edges")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = edges
    val exp = t.dropDuplicates("conv_id", "turn_idx").where(col("tool").isNotNull)
      .groupBy("conv_id", "tool").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == exp)

    // exactly-once under foreachBatch replay: re-merging an already-committed
    // batchId is a no-op (the commit marker short-circuits it)
    TranscriptStream.mergeBatch(io, "edges", sliceA, 0L)
    assert(edges == exp)

    // compaction folds the deltas into one snapshot without changing the view
    TranscriptStream.compact(spark, io, "edges")
    assert(io.snapshots("edges").exists(_.contains("compact_")), "no compaction written")
    assert(edges == exp)
    TranscriptStream.compact(spark, io, "edges") // idempotent: no new deltas
    assert(edges == exp)

    // a post-compaction delta folds on top of the compacted base
    // orderBy before limit: the slice is evaluated in TWO jobs (the merge
    // write and the expected-side collect) — an unordered limit could pick
    // different rows each time
    val extra = t.orderBy("conv_id", "turn_idx").limit(25)
    TranscriptStream.mergeBatch(io, "edges", extra, 99L)
    val expPlus = t.dropDuplicates("conv_id", "turn_idx").where(col("tool").isNotNull)
      .unionByName(extra.where(col("tool").isNotNull))
      .groupBy("conv_id", "tool").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(edges == expPlus)
  }

  test("streaming sessionization equals the batch derivation on closed sessions") {
    import java.sql.Timestamp
    import graft.streaming.TranscriptStream
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-se").toString
    // +1 day offset: a turn at exactly epoch 0 ties the initial watermark (0)
    // and the event-time-timeout late filter drops it (boundary is inclusive)
    def ts(min: Long) = new Timestamp((1440L + min) * 60000L)
    def row(c: String, i: Int, tool: String, m: Long) = (c, i, "user", "x", tool, ts(m))
    // gap = 10 min: conv a splits at the 25-min jump; conv b is a singleton
    val turns = Seq(
      row("a", 0, "search", 0), row("a", 1, null, 5),
      row("a", 2, "code", 30), row("a", 3, "search", 35),
      row("b", 0, null, 2))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // single part-file so the file source cannot split the real turns across
    // micro-batches (a split would advance the watermark between them and
    // late-drop the earliest turn — observed flake)
    turns.coalesce(1).write.mode("overwrite").parquet(dir)

    val q = TranscriptStream.sessionStatsStream(
        TranscriptStream.readTranscripts(spark, dir), gapSeconds = 600L,
        watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("se").start()
    // batch 1: all real turns at watermark 0 — only the close-by-gap session
    // (a/0, closed when the 30-min turn arrives) can be emitted
    q.processAllAvailable()
    // a far-future sentinel advances the watermark past every open session's
    // last-turn + gap, so the remaining sessions close by event-time timeout
    Seq(row("zz", 0, null, 20000L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()

    val got = spark.sql("SELECT * FROM se")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val exp = graft.derive.Sessionize.sessionStats(turns, gapSeconds = 600L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(exp.size == 3, s"fixture must yield 3 batch sessions, got $exp")
    assert(got == exp, s"streaming closed sessions $got != batch $exp")
  }

  test("edgeMergeSink restart from checkpoint: no duplicate deltas, view equals batch derivation") {
    import graft.streaming.TranscriptStream
    import graft.sources.ParquetDirTableIO
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-rs").toString
    val root = java.nio.file.Files.createTempDirectory("graft-stream-rsio").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-rsck").toString
    val t = GraphFixture.transcripts.cache()
    val sliceA = t.where(col("turn_idx") % 2 === 0)
    // sliceB re-ships 30 of sliceA's turns: the watermarked dedup state must
    // survive the restart (it is checkpoint state) to drop them
    val sliceB = t.where(col("turn_idx") % 2 === 1).unionByName(sliceA.limit(30))
    val io = new ParquetDirTableIO(root)
    // watermark must cover the fixture's 60-minute ts span: on restart the
    // checkpointed watermark (max seen ts − delay) is ENFORCED on the next
    // batch, so a 10-minute delay would drop most of sliceB as late data —
    // that is Spark's documented watermark semantics (late data beyond the
    // delay is droppable), not a property of the sink under test here
    def startQuery() = TranscriptStream.edgeMergeSink(
      spark.readStream.schema(TranscriptStream.transcriptSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir),
      io, "edges", ckpt, watermark = "2 hours")

    // run 1: process sliceA, then the query is STOPPED (killed between
    // micro-batches)
    sliceA.coalesce(1).write.mode("append").parquet(dir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val afterA = io.snapshots("edges")
    assert(afterA.nonEmpty, "run 1 must commit at least one delta")

    // new data lands while the query is down; run 2 restarts from the SAME
    // checkpoint dir — it must pick up where run 1 left off
    sliceB.coalesce(1).write.mode("append").parquet(dir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val afterB = io.snapshots("edges")
    // the restart must not have re-committed run 1's batches: run 1's
    // snapshots survive verbatim and every new one has a later batch id
    assert(afterA.toSet.subsetOf(afterB.toSet), s"restart rewrote deltas: $afterA vs $afterB")
    assert(afterB.size > afterA.size, s"restart committed no new delta: $afterA vs $afterB")
    assert((afterB.toSet -- afterA.toSet).forall(_ > afterA.max),
      s"restart reused batch ids: $afterA vs $afterB")

    val exp = t.dropDuplicates("conv_id", "turn_idx").where(col("tool").isNotNull)
      .groupBy("conv_id", "tool").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def edges: Map[(String, String), Long] =
      TranscriptStream.readEdges(spark, io, "edges")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(edges == exp, "restarted stream must equal the batch derivation (no dup counting)")

    // run 3: restart with NO new input — a pure replay must not change the
    // view (Spark may still run an empty watermark-advance batch; any new
    // snapshot must therefore carry zero increments)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val afterIdle = io.snapshots("edges")
    assert(afterB.toSet.subsetOf(afterIdle.toSet))
    (afterIdle.toSet -- afterB.toSet).foreach { s =>
      assert(io.read(spark, s).count() == 0, s"idle restart wrote increments in $s")
    }
    assert(edges == exp)
  }
}
