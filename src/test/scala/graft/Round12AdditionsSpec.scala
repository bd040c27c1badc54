package graft

import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, MultimodalOps, PqOps}

/** Round 12: the VERDICT r11 fix list — real audio decode through the
  * three-way gate (hand-rolled PCM WAV encoder vs javax.sound decoder vs
  * the DuckDB formula oracle), and the ADVICE r11 latent-null fixes
  * (surgical decontamination's row-for-row contract over null text).
  */
class Round12AdditionsSpec extends SparkSpec {
  import spark.implicits._

  private def decodeDir(dir: java.nio.file.Path) =
    MultimodalOps.decodeAudio(spark,
      spark.read.format("binaryFile").load(dir.toString)).collect().toSeq

  test("WAV round trip pins the FULL signed 16-bit sample range (VERDICT r11 #1)") {
    // Every boundary of the signed 16-bit domain, hand-encoded mono:
    // an unsigned read maps -32768 -> 32768 (sum off by 65536), a
    // byte-swapped read scrambles every value — both break exact sums.
    val samples = Array(-32768, 32767, 0, -1, 1)
    withTempDir("graft_wav_spec") { dir =>
      java.nio.file.Files.write(dir.resolve("aud_7.wav"),
        MultimodalOps.wavBytes(1, MultimodalOps.WavSampleRate,
          samples.length, (f, _) => samples(f)))
      val out = decodeDir(dir)
      assert(out.size == 1)
      val d = out.head
      assert(d.doc_id == 7L && d.n_channels == 1L && d.sample_rate == 8000L)
      assert(d.n_frames == samples.length.toLong)
      assert(d.sum_ch0 == samples.map(_.toLong).sum && d.sum_ch1 == 0L)
      assert(d.min_sample == -32768L, "Short.MinValue must survive the round trip")
      assert(d.max_sample == 32767L, "Short.MaxValue must survive the round trip")
    }
  }

  test("WAV stereo decode separates interleaved channels exactly") {
    // ch0 and ch1 get disjoint value ranges: a swapped or mis-strided
    // interleave read moves mass between the per-channel sums.
    withTempDir("graft_wav_spec") { dir =>
      java.nio.file.Files.write(dir.resolve("aud_2.wav"),
        MultimodalOps.wavBytes(2, MultimodalOps.WavSampleRate, 3,
          (f, ch) => if (ch == 0) 100 + f else -(200 + f)))
      val d = decodeDir(dir).head
      assert(d.n_channels == 2L && d.n_frames == 3L)
      assert(d.sum_ch0 == 303L && d.sum_ch1 == -603L)
    }
  }

  test("WAV fixture tree: decoded stats match the generation formula, mono and stereo") {
    // doc 0 -> mono, doc 1 -> stereo (wavChannels alternates by id); the
    // formula recomputation here is the Scala third of the three-way
    // gate (DuckDB recomputes it blind in the registered oracle).
    val docs = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    withTempDir("graft_wav_spec") { dir =>
      MultimodalOps.writeWavFixtureTree(docs, dir.toString)
      val out = decodeDir(dir).map(d => d.doc_id -> d).toMap
      assert(out.keySet == Set(0L, 1L))
      for ((id, text) <- Seq(0L -> "the quick brown fox jumps over the lazy dog",
        1L -> "pack my box with five dozen liquor jugs")) {
        val chn = MultimodalOps.wavChannels(id)
        val fr = MultimodalOps.wavFrames(text.length.toLong)
        val s = MultimodalOps.wavSample(text, chn) _
        val all = for (f <- 0 until fr; ch <- 0 until chn) yield (ch, s(f, ch).toLong)
        val d = out(id)
        assert(d.n_channels == chn.toLong && d.n_frames == fr.toLong)
        assert(d.sum_ch0 == all.collect { case (0, v) => v }.sum)
        assert(d.sum_ch1 == all.collect { case (1, v) => v }.sum)
        assert(d.min_sample == all.map(_._2).min && d.max_sample == all.map(_._2).max)
        assert(d.min_sample < 0L && d.max_sample > 0L,
          "the multiplier must wrap 16 bits so both signs are exercised")
      }
    }
  }

  test("resampleAudio keeps exactly the even frames (sums, count, range)") {
    val frames = Array(10, -20, 30, -40, 50) // kept: 10, 30, 50
    withTempDir("graft_wav_spec") { dir =>
      java.nio.file.Files.write(dir.resolve("aud_4.wav"),
        MultimodalOps.wavBytes(1, MultimodalOps.WavSampleRate,
          frames.length, (f, _) => frames(f)))
      val d = MultimodalOps.resampleAudio(spark,
        spark.read.format("binaryFile").load(dir.toString)).collect().head
      assert(d.n_frames == 3L && d.sample_rate == 4000L)
      assert(d.sum_ch0 == 90L && d.sum_ch1 == 0L)
      assert(d.min_sample == 10L && d.max_sample == 50L,
        "range must be over KEPT samples only — dropped frames must not leak in")
    }
  }

  test("GIF multi-frame round trip: sampled frames match the formula; odd frames skipped") {
    val text = "the quick brown fox jumps over the lazy dog tonight again"
    // doc 3: 4 frames (3 % 4 + 1), frames 0 and 2 sampled at stride 2
    val docs = Seq((3L, text)).toDF("doc_id", "text")
    withTempDir("graft_wav_spec") { dir =>
      MultimodalOps.writeGifFixtureTree(docs, dir.toString)
      val out = MultimodalOps.sampleFramesReal(spark,
        spark.read.format("binaryFile").load(dir.toString)).collect()
        .map(d => d.frame_idx -> d).toMap
      assert(out.keySet == Set(0L, 2L), s"stride-2 must keep frames 0,2 of 4: ${out.keySet}")
      val (w, h) = (MultimodalOps.gifWidth(text.length.toLong), MultimodalOps.gifHeight(3L))
      for (f <- Seq(0, 2)) {
        val expected = (0 until w * h)
          .map(p => MultimodalOps.gifPixel(text, w, h)(f, p).toLong).sum
        assert(out(f.toLong).width == w.toLong && out(f.toLong).height == h.toLong)
        assert(out(f.toLong).sum_gray == expected,
          s"frame $f gray sum must round-trip the 256-gray palette exactly")
      }
    }
  }

  test("qualityCalibrated excludes null-scored docs from n AND the ranked rows") {
    // doc 2 has null text -> null quality_score; with 3 non-null docs the
    // percentiles must be 0, 0.5, 1 (n=3), not quartiles of n=4
    val docs = Seq(
      (0L, Option("alpha words here for the first document body")),
      (1L, Option("beta words and some more filler tokens to vary the score")),
      (2L, Option.empty[String]),
      (3L, Option("gamma a third scored document with its own shape")))
      .toDF("doc_id", "text").withColumn("source", lit("s1"))
      .withColumn("lang", lit("en"))
    val out = graft.ops.TextOps.qualityCalibrated(docs, p = 0.0)
      .select("doc_id", "pct").as[(Long, Double)].collect().toMap
    assert(!out.contains(2L), "a null-scored doc must not rank")
    assert(out.values.toSeq.sorted == Seq(0.0, 0.5, 1.0),
      s"percentiles must calibrate against n=3 scored docs, got $out")
  }

  // ---- persisted ANN index lifecycle (VERDICT r11 #5) ----

  /** Deterministic irregular 64-dim vector for id i. */
  private def seedVec(i: Long): Seq[Double] =
    Seq.tabulate(64)(j => (((i * 31 + j * 7) % 13) - 6).toDouble / 6.0)

  private def baseCorpus = (0L until 16L).map(i => (i, seedVec(i)))
    .toDF("vec_id", "embedding")

  test("annIndexIncremental: exact-duplicate delta resolves to its index twin at ADC distance 0") {
    val base = baseCorpus
    val cb = PqOps.trainCodebook(base)
    // delta 100 = byte-identical copy of seed 5; seed 5's codes are its
    // own subspace slices (seeds ARE the codebook), so the ADC distance
    // is exactly (a - 2a) + a = 0.0 in IEEE arithmetic
    val delta = Seq((100L, seedVec(5L))).toDF("vec_id", "embedding")
    val out = PqOps.annIndexIncremental(PqOps.annIndex(base, cb), delta, cb)
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((100L, 5L, Some(0.0))))
  }

  test("annIndexIncremental: a bucket-orphan delta keeps its row as (-1, null)") {
    val base = Seq((0L, Seq.fill(64)(1.0))).toDF("vec_id", "embedding")
    val cb = PqOps.trainCodebook(base, k = 1)
    // negating a vector flips every hyperplane dot's sign, so the delta's
    // bucket is the index vector's complement — no candidates
    val delta = Seq((10L, Seq.fill(64)(-1.0))).toDF("vec_id", "embedding")
    val out = PqOps.annIndexIncremental(PqOps.annIndex(base, cb), delta, cb)
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((10L, -1L, None)),
      "a delta vector whose bucket holds no index entries must survive with a loud no-match row")
  }

  test("annIndexLoop: later batches query earlier batches' PERSISTED codes (VERDICT r11 #5)") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = baseCorpus
    val cb = PqOps.trainCodebook(base)
    // a genuinely new direction: verify it shares NO seed's code tuple,
    // so the only zero-distance candidate for its later copy is itself
    val v = Seq.tabulate(64)(j => ((j * 11) % 17 - 8).toDouble / 4.0)
    val m = cb.length
    val subDim = 64 / m
    val argmins = (0 until m).map { s =>
      val xs = v.slice(s * subDim, (s + 1) * subDim)
      cb(s).zipWithIndex.minBy { case (cw, _) =>
        xs.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
      }._2
    }
    assert(argmins.distinct.size > 1,
      s"self-check: v must not share any single seed's code tuple, got $argmins")
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_loop")
    try {
      val indexDir = dir.resolve("index").toString
      PqOps.annIndex(base, cb).write.parquet(indexDir)
      val verdicts = collection.mutable.Map.empty[Long, Seq[(Long, Long, Option[Double])]]
      val input = MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamingSemantic.annIndexLoop(
        spark, input.toDF().toDF("vec_id", "embedding"), indexDir, cb) {
        (batch, id) =>
          verdicts(id) = batch.as[(Long, Long, Option[Double])].collect().toSeq
      }.start()
      try {
        input.addData((200L, v)) // batch 0: new vector, unknown to the seed index
        q.processAllAvailable()
        input.addData((300L, v)) // batch 1: exact copy of batch 0's vector
        q.processAllAvailable()
      } finally q.stop()
      // batch 0's vector can at best match a seed (none at distance 0)
      assert(verdicts(0L).size == 1 && verdicts(0L).head._1 == 200L)
      // batch 1's copy resolves to vec 200 at ADC distance == its own
      // quantization error — 200's codes exist ONLY because batch 0
      // appended them, which is the persisted-growth property under test
      val (vid, nn, dist) = verdicts(1L).head
      assert(vid == 300L && nn == 200L,
        s"batch 1 must match batch 0's persisted codes, got nn=$nn")
      assert(dist.exists(_ >= 0.0))
      // and the index on disk now carries base + both batches
      val idx = spark.read.parquet(indexDir).select("vec_id")
        .as[Long].collect().toSet
      assert(idx == (0L until 16L).toSet + 200L + 300L)
    } finally graft.ops.FixtureDirs.rmTree(dir)
  }

  test("compactAnnIndex collapses at-least-once re-appends; compacted index still answers") {
    val base = baseCorpus
    val cb = PqOps.trainCodebook(base)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_compact")
    try {
      val indexDir = dir.resolve("index").toString
      PqOps.annIndex(base, cb).write.parquet(indexDir)
      // simulate an at-least-once replay: the same batch's codes appended
      // twice — byte-identical rows, the exact duplicates distinct() owes
      val batch = Seq((200L, seedVec(3L))).toDF("vec_id", "embedding")
      PqOps.annIndex(batch, cb).write.mode("append").parquet(indexDir)
      PqOps.annIndex(batch, cb).write.mode("append").parquet(indexDir)
      val (before, after) = graft.streaming.StreamingSemantic
        .compactAnnIndex(spark, indexDir, numFiles = 2)
      assert(before == 18L && after == 17L,
        s"compaction must collapse exactly the replayed row: $before -> $after")
      // the compacted generation still answers incremental queries
      val out = PqOps.annIndexIncremental(spark.read.parquet(indexDir),
        Seq((300L, seedVec(3L))).toDF("vec_id", "embedding"), cb)
        .as[(Long, Long, Option[Double])].collect().toSeq
      assert(out.map(r => (r._1, r._2)) == Seq((300L, 3L)),
        s"copy of seed 3 must resolve to vec 3 at distance 0 post-compaction, got $out")
    } finally graft.ops.FixtureDirs.rmTree(dir)
  }

  test("decontaminateSurgicalStream: batch parity, stateless in Append mode (VERDICT r11 #2)") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // benchmark doc 0 (0 % 50 == 0) + four training shapes: embedded
    // contamination, full contamination, clean, and sub-n short
    val bench = "b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val train = Seq(
      (1L, s"t1 t2 $bench t12 t13"), // contaminated mid-document
      (2L, "b1 b2 b3 b4 b5 b6 b7 b8"), // fully contaminated -> ''
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"), // clean -> verbatim
      (4L, "short doc")) // < n tokens: verbatim
    val batch = DedupOps.decontaminateSurgical(
      ((0L, bench) +: train).toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    val digests = bench.split(" ").sliding(8)
      .map(w => graft.functions.Hashing.md5Hex(w.mkString(" "))).toSet
    val input = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingOps.decontaminateSurgicalStream(
      spark, input.toDF().toDF("doc_id", "text"), digests)
    // Append mode start proves zero streaming state (an aggregate or
    // join would demand Update/Complete or a watermark)
    val query = out.writeStream.format("memory").queryName("surgical_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      input.addData(train: _*)
      query.processAllAvailable()
      val streamed = spark.table("surgical_stream")
        .as[(Long, String)].collect().toMap
      assert(streamed == batch,
        "stream and batch surgical decontamination must agree row-for-row")
      assert(streamed(2L) == "" && streamed(3L) == train(2)._2)
    } finally query.stop()
  }

  test("decontaminateSurgical: a null-text training doc survives as '' (ADVICE r11)") {
    // doc 0 is benchmark-side (0 % 50 == 0); docs 1 (null text) and 2
    // are training-side. Row-for-row contract: BOTH training docs come
    // back; the null-text one as the empty string, exactly as the
    // oracle's coalesce(text_clean, '') emits it.
    val docs = Seq((0L, Option("b1 b2 b3 b4 b5 b6 b7 b8")),
      (1L, Option.empty[String]),
      (2L, Option("c1 c2 c3 c4 c5 c6 c7 c8 c9")))
      .toDF("doc_id", "text")
    val out = DedupOps.decontaminateSurgical(docs)
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 2L), "every training doc must survive")
    assert(out(1L) == "", "null text must clean to '' — not null, not a dropped row")
    assert(out(2L) == "c1 c2 c3 c4 c5 c6 c7 c8 c9")
  }
}
