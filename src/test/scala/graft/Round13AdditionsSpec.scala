package graft

import org.apache.spark.sql.functions._

import graft.ops.{BpeReference, MultimodalOps, PqOps, SimilarityOps}

/** Round 13: the VERDICT r12 fix list — measured recall for the
  * persisted-index incremental ANN path (probe-1 and the multi-probe
  * lever), the parameterized GIF frame-stride contract, the size-bounded
  * driver-side BPE training regime, and the second audio container
  * (mu-law) through the WAV gate.
  */
class Round13AdditionsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic irregular 64-dim vector for id i (the Round12 ANN
    * fixture vector, reused so the two specs exercise one geometry). */
  private def seedVec(i: Long): Seq[Double] =
    Seq.tabulate(64)(j => (((i * 31 + j * 7) % 13) - 6).toDouble / 6.0)

  // ---- ann_recall_incremental (VERDICT r12 #1) ----

  test("annRecallIncremental: one row per delta vector, recall@1 in {0, 1}") {
    // ids 0..59: annSplitIsIndex routes 16,20,...,56 to the delta
    val corpus = (0L until 60L).map(i => (i, seedVec(i)))
      .toDF("vec_id", "embedding")
    val deltaIds = (0L until 60L).filter(i => i >= 16 && i % 4 == 0)
    val out = SimilarityOps.annRecallIncremental(corpus)
      .as[(Long, Double)].collect().toMap
    assert(out.keySet == deltaIds.toSet,
      "every delta vector must appear in its own evaluation, orphan or not")
    assert(out.values.forall(r => r == 0.0 || r == 1.0),
      "truth size is 1 per query, so recall@1 is exactly 0 or 1")
  }

  test("annRecallIncremental: an exact-copy delta scores 1.0; a bucket orphan scores 0.0 (miss)") {
    // delta 16 = byte-identical copy of seed 5: same bucket, ADC distance
    // exactly 0.0 to candidate 5, and 5 IS the exact nearest -> hit
    val hitCorpus = ((0L until 16L).map(i => (i, seedVec(i))) :+ ((16L, seedVec(5L))))
      .toDF("vec_id", "embedding")
    val hit = SimilarityOps.annRecallIncremental(hitCorpus)
      .as[(Long, Double)].collect().toMap
    assert(hit == Map(16L -> 1.0))
    // delta 16 = the negation of every index vector: all 8 hyperplane
    // signs flip, so its bucket (and every hamming-1 neighbor of it) is
    // empty of index rows -> the (-1, null) orphan row matches no truth
    // row and MUST count as a miss, not vanish from the evaluation
    val orphanCorpus = ((0L until 16L).map(i => (i, Seq.fill(64)(1.0))) :+
      ((16L, Seq.fill(64)(-1.0)))).toDF("vec_id", "embedding")
    val orphan = SimilarityOps.annRecallIncremental(orphanCorpus)
      .as[(Long, Double)].collect().toMap
    assert(orphan == Map(16L -> 0.0),
      "an orphan delta keeps a visible 0.0 recall row")
    val mp = SimilarityOps.annRecallIncrementalMultiProbe(orphanCorpus)
      .as[(Long, Double)].collect().toMap
    assert(mp == Map(16L -> 0.0),
      "the complement bucket is hamming-8 away: still orphan under hamming-1 probing")
  }

  test("multi-probe incremental: candidate superset — no probe-1 match is lost, orphans only shrink") {
    val corpus = (0L until 60L).map(i => (i, seedVec(i)))
      .toDF("vec_id", "embedding")
    val base = corpus.filter(PqOps.annSplitIsIndex())
    val delta = corpus.filter(!PqOps.annSplitIsIndex())
    val cb = PqOps.trainCodebook(base)
    val idx = PqOps.annIndex(base, cb)
    val p1 = PqOps.annIndexIncremental(idx, delta, cb)
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val mp = PqOps.annIndexIncrementalMultiProbe(idx, delta, cb)
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(p1.keySet == mp.keySet)
    val p1Orphans = p1.filter(_._2._1 == -1L).keySet
    val mpOrphans = mp.filter(_._2._1 == -1L).keySet
    assert(mpOrphans.subsetOf(p1Orphans),
      "hamming-1 probing strictly widens the candidate set: it can only resolve orphans")
    // per delta vector, the multi-probe ADC minimum can never be LARGER
    // than probe-1's — probe-1's winning candidate is still probed
    for ((q, (nn, d)) <- p1 if nn != -1L) {
      val (mnn, md) = mp(q)
      assert(mnn != -1L && md.get <= d.get,
        s"q=$q: mp dist ${md.get} must be <= probe-1 dist ${d.get}")
    }
    // and on this fixture the measured recall lift is real (the PLANS.md
    // number): mean mp recall >= mean probe-1 recall
    val r1 = SimilarityOps.annRecallIncremental(corpus)
      .agg(avg("recall_at_k")).head().getDouble(0)
    val rmp = SimilarityOps.annRecallIncrementalMultiProbe(corpus)
      .agg(avg("recall_at_k")).head().getDouble(0)
    assert(rmp >= r1, s"multi-probe mean recall $rmp < probe-1 $r1")
  }

  test("annRecallIncremental: empty corpus yields an empty evaluation, never throws") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
    assert(SimilarityOps.annRecallIncremental(empty).isEmpty)
  }

  // ---- parameterized GIF stride (VERDICT r12 #6) ----

  test("sampleFramesReal stride parameter prunes at the container, not post-hoc") {
    // doc 3 -> 4 frames (gifFrames), so stride 2 samples {0, 2} and
    // stride 3 samples {0, 3}: a sampler that decoded everything and
    // filtered afterwards could still pass ONE stride by luck, not both
    withTempDir("graft_gif_stride") { dir =>
      val text = "stride contract fixture text"
      val (w, h) = (MultimodalOps.gifWidth(text.length.toLong), MultimodalOps.gifHeight(3L))
      java.nio.file.Files.write(dir.resolve("vid_3.gif"),
        MultimodalOps.gifBytes(w, h, MultimodalOps.gifFrames(3L),
          MultimodalOps.gifPixel(text, w, h)))
      val files = spark.read.format("binaryFile").load(dir.toString)
      def sampled(stride: Int): Seq[Long] =
        MultimodalOps.sampleFramesReal(spark, files, stride)
          .collect().map(_.frame_idx).sorted.toSeq
      assert(sampled(2) == Seq(0L, 2L))
      assert(sampled(3) == Seq(0L, 3L))
      // sums still match the formula for the stride-3 frames
      val got = MultimodalOps.sampleFramesReal(spark, files, 3)
        .collect().map(f => f.frame_idx -> f.sum_gray).toMap
      val exp = Seq(0, 3).map(f => f.toLong ->
        (0 until w * h).map(p => MultimodalOps.gifPixel(text, w, h)(f, p).toLong).sum).toMap
      assert(got == exp)
    }
  }

  // ---- second audio container: G.711 mu-law (VERDICT r12 #3) ----

  /** Minimal mu-law WAV with RAW code bytes (no companding) — the spec's
    * probe container for pinning the JDK decode table itself. */
  private def rawUlawWav(codes: Array[Byte]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(44 + codes.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + codes.length).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(7).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
    buf.put("data".getBytes).putInt(codes.length).put(codes)
    buf.array()
  }

  test("JDK ULAW->PCM codec agrees with the standard G.711 decode formula on all 256 codes") {
    val raw = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(
        rawUlawWav(Array.tabulate(256)(_.toByte))))
    val pcm = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(pcm, raw)
    val out = dec.readAllBytes()
    assert(out.length == 512)
    for (c <- 0 until 256) {
      val jdk = (((out(2 * c) & 0xff) | (out(2 * c + 1) << 8)).toShort).toInt
      assert(jdk == MultimodalOps.ulawDecode(c),
        s"code $c: jdk=$jdk formula=${MultimodalOps.ulawDecode(c)}")
    }
  }

  test("mu-law companding round-trip tolerance contract over the full 16-bit range") {
    // max error 644 comes from the clip: |x| in (32635, 32768] all land
    // on the top reconstruction point 32124; within the unclipped range
    // the worst cell is the top segment's half-step 512; zero is exact
    var worst = 0
    var worstUnclipped = 0
    var x = -32768
    while (x <= 32767) {
      val rt = MultimodalOps.ulawDecode(MultimodalOps.ulawEncode(x))
      assert(x == 0 || rt == 0 || (rt < 0) == (x < 0),
        s"sign flipped: $x -> $rt")
      val err = math.abs(rt - x)
      if (err > worst) worst = err
      if (math.abs(x) <= 32635 && err > worstUnclipped) worstUnclipped = err
      x += 1
    }
    assert(MultimodalOps.ulawDecode(MultimodalOps.ulawEncode(0)) == 0)
    assert(worst == 644, s"global worst-case drifted: $worst (contract: 644)")
    assert(worstUnclipped <= 512,
      s"unclipped worst-case $worstUnclipped exceeds the top-segment half-step")
  }

  test("decodeAudioCompanded end-to-end: writer -> JDK expand matches the Scala round-trip recompute") {
    val docs = Seq((0L, "companded fixture zero"), (1L, "stereo interleave one!"),
      (3L, "a"), (5L, "~~~ high codes ~~~")).toDF("doc_id", "text")
    withTempDir("graft_ulaw_spec") { dir =>
      MultimodalOps.writeUlawFixtureTree(docs, dir.toString)
      val got = MultimodalOps.decodeAudioCompanded(spark,
          spark.read.format("binaryFile").load(dir.toString))
        .collect().map(d => d.doc_id -> d).toMap
      for ((id, text) <- Seq((0L, "companded fixture zero"),
        (1L, "stereo interleave one!"), (3L, "a"), (5L, "~~~ high codes ~~~"))) {
        val chn = MultimodalOps.wavChannels(id)
        val fr = MultimodalOps.wavFrames(text.length.toLong)
        val s = (f: Int, ch: Int) => MultimodalOps.ulawDecode(
          MultimodalOps.ulawEncode(
            MultimodalOps.wavSample(text, chn)(f, ch))).toLong
        val all = for (f <- 0 until fr; ch <- 0 until chn) yield (ch, s(f, ch))
        val d = got(id)
        assert(d.n_channels == chn && d.n_frames == fr &&
          d.sample_rate == MultimodalOps.WavSampleRate)
        assert(d.sum_ch0 == all.filter(_._1 == 0).map(_._2).sum)
        assert(d.sum_ch1 == all.filter(_._1 == 1).map(_._2).sum)
        assert(d.min_sample == all.map(_._2).min)
        assert(d.max_sample == all.map(_._2).max)
      }
    }
  }

  // ---- third audio container: G.711 a-law ----

  /** Minimal a-law WAV with RAW code bytes (fmt tag 6). */
  private def rawAlawWav(codes: Array[Byte]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(44 + codes.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + codes.length).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(6).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
    buf.put("data".getBytes).putInt(codes.length).put(codes)
    buf.array()
  }

  test("JDK ALAW->PCM codec agrees with the standard G.711 decode formula on all 256 codes") {
    val raw = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(
        rawAlawWav(Array.tabulate(256)(_.toByte))))
    val pcm = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(pcm, raw)
    val out = dec.readAllBytes()
    assert(out.length == 512)
    for (c <- 0 until 256) {
      val jdk = (((out(2 * c) & 0xff) | (out(2 * c + 1) << 8)).toShort).toInt
      assert(jdk == MultimodalOps.alawDecode(c),
        s"code $c: jdk=$jdk formula=${MultimodalOps.alawDecode(c)}")
    }
  }

  test("a-law companding round-trip tolerance contract: worst 512, mid-rise zero cell, no zero output") {
    var worst = 0
    var x = -32768
    while (x <= 32767) {
      val rt = MultimodalOps.alawDecode(MultimodalOps.alawEncode(x))
      assert(rt != 0, "a-law is mid-rise: it has no zero reconstruction")
      assert((rt > 0) == (x >= 0), s"sign contract broken: $x -> $rt")
      val err = math.abs(rt - x)
      if (err > worst) worst = err
      x += 1
    }
    assert(MultimodalOps.alawDecode(MultimodalOps.alawEncode(0)) == 8,
      "zero lands on the +8 mid-rise point")
    assert(worst == 512, s"worst-case drifted: $worst (contract: 512)")
  }

  test("decodeAudioCompanded dispatches on the container: a-law fixtures expand through the a-law table") {
    val docs = Seq((0L, "alaw zero doc"), (1L, "alaw stereo doc!"))
      .toDF("doc_id", "text")
    withTempDir("graft_alaw_spec") { dir =>
      MultimodalOps.writeAlawFixtureTree(docs, dir.toString)
      val got = MultimodalOps.decodeAudioCompanded(spark,
          spark.read.format("binaryFile").load(dir.toString),
          extPattern = "al_(\\d+)\\.wav$")
        .collect().map(d => d.doc_id -> d).toMap
      for ((id, text) <- Seq((0L, "alaw zero doc"), (1L, "alaw stereo doc!"))) {
        val chn = MultimodalOps.wavChannels(id)
        val fr = MultimodalOps.wavFrames(text.length.toLong)
        val s = (f: Int, ch: Int) => MultimodalOps.alawDecode(
          MultimodalOps.alawEncode(
            MultimodalOps.wavSample(text, chn)(f, ch))).toLong
        val all = for (f <- 0 until fr; ch <- 0 until chn) yield (ch, s(f, ch))
        val d = got(id)
        assert(d.n_channels == chn && d.n_frames == fr)
        assert(d.sum_ch0 == all.filter(_._1 == 0).map(_._2).sum)
        assert(d.sum_ch1 == all.filter(_._1 == 1).map(_._2).sum)
        assert(d.min_sample == all.map(_._2).min &&
          d.max_sample == all.map(_._2).max)
      }
      // cross-law guard: the same PCM companded by the two laws must NOT
      // expand to identical sums (a decode path that reused one table
      // for both containers would produce exactly that)
      withTempDir("graft_xlaw") { ulDir =>
        MultimodalOps.writeUlawFixtureTree(docs, ulDir.toString)
        val ul = MultimodalOps.decodeAudioCompanded(spark,
            spark.read.format("binaryFile").load(ulDir.toString))
          .collect().map(d => d.doc_id -> d.sum_ch0).toMap
        assert((0L to 1L).exists(id => ul(id) != got(id).sum_ch0),
          "mu-law and a-law expansions of the same clips cannot all agree")
      }
    }
  }

  // ---- corrupt-blob quarantine (round 13) ----

  test("decodeAudioLenient quarantines junk / empty / policy-violating blobs; good blobs keep exact stats") {
    val docs = Seq((0L, "good clip zero"), (1L, "good stereo one!"))
      .toDF("doc_id", "text")
    withTempDir("graft_quarantine") { dir =>
      MultimodalOps.writeUlawFixtureTree(docs, dir.toString)
      MultimodalOps.writeCorruptAudioFixtures(dir.toString)
      // a third failure mode: a VALID container that violates the G.711
      // ingest policy (16-bit PCM where companded audio is expected)
      java.nio.file.Files.write(dir.resolve("ul_302.wav"),
        MultimodalOps.wavBytes(1, MultimodalOps.WavSampleRate, 3, (_, _) => 1000))
      val got = MultimodalOps.decodeAudioLenient(spark,
          spark.read.format("binaryFile").load(dir.toString))
        .collect().map(d => d.doc_id -> d).toMap
      assert(got.keySet == Set(0L, 1L, 300L, 301L, 302L),
        "every blob gets exactly one verdict row")
      for (id <- Seq(300L, 301L, 302L)) {
        assert(got(id).status == "corrupt" && got(id).n_frames.isEmpty &&
          got(id).sum_ch0.isEmpty, s"blob $id must quarantine with null stats")
        assert(got(id).reason.exists(r => r.nonEmpty && r.contains(":")),
          s"blob $id must carry a diagnostic reason (class: message) so a " +
            "systemic decode fault is distinguishable from data corruption")
      }
      for ((id, text) <- Seq((0L, "good clip zero"), (1L, "good stereo one!"))) {
        val chn = MultimodalOps.wavChannels(id)
        val fr = MultimodalOps.wavFrames(text.length.toLong)
        val s = (f: Int, ch: Int) => MultimodalOps.ulawDecode(
          MultimodalOps.ulawEncode(
            MultimodalOps.wavSample(text, chn)(f, ch))).toLong
        val all = for (f <- 0 until fr; ch <- 0 until chn) yield (ch, s(f, ch))
        val d = got(id)
        assert(d.status == "ok" && d.n_channels.contains(chn.toLong) &&
          d.n_frames.contains(fr.toLong))
        assert(d.sum_ch0.contains(all.filter(_._1 == 0).map(_._2).sum))
        assert(d.min_sample.contains(all.map(_._2).min) &&
          d.max_sample.contains(all.map(_._2).max))
        assert(d.reason.isEmpty, "ok rows carry no diagnostic reason")
      }
    }
  }

  // ---- size-bounded driver-side BPE training regime (VERDICT r12 #2) ----

  private val bpeCorpus = Seq(
    "low low low low low",
    "lower lower widest widest widest",
    "newest newest newest newest newest newest")
  private def bpeDocs = bpeCorpus.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("bpeTrainLocal matches the distributed loop merge-for-merge (including exhaustion)") {
    import graft.ops.BpeOps
    val hist = bpeCorpus.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }.toSeq
    // 200 >> the merge supply: both regimes must stop at the same point
    val local = BpeReference.bpeTrainLocal(hist, 200)
    val dist = BpeOps.bpeTrain(bpeDocs, 200)
    assert(local == dist)
    assert(local.nonEmpty && local.length < 200, "fixture must exhaust early")
  }

  test("bpeTrainAuto: both regime branches produce the identical merge list") {
    import graft.ops.BpeOps
    val under = BpeOps.bpeTrainAuto(bpeDocs, 16) // vocab 5 << 4M: local
    val over = BpeOps.bpeTrainAuto(bpeDocs, 16, maxHistRows = 0L) // forced distributed
    assert(under == over)
    assert(under == BpeOps.bpeTrain(bpeDocs, 16))
  }

  test("freeCheckpoint releases localCheckpoint blocks (the per-merge-round lifecycle)") {
    import graft.ops.BpeOps
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = Seq((1L, "a"), (2L, "b")).toDF("id", "v").localCheckpoint()
    ck.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint must register a persistent RDD")
    BpeOps.freeCheckpoint(ck)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(!after.contains(_)),
      "freeCheckpoint's LogicalRDD match no longer fires — the per-round " +
        "checkpoint-block leak is back (Spark plan shape changed?)")
  }

  test("bpe regime parity holds on supplementary-plane vocabulary (code points, UTF-8 tie-break)") {
    import graft.ops.BpeOps
    // U+1D54F is outside the BMP: a UTF-16 charAt split would cut the
    // surrogate pair in half and diverge from Spark's substring()
    val weird = Seq("𝕏a𝕏a", "𝕏a𝕏a",
      "za za", "￮￮q")
    val docs = weird.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val hist = weird.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }.toSeq
    assert(BpeReference.bpeTrainLocal(hist, 8) == BpeOps.bpeTrain(docs, 8))
  }
}
