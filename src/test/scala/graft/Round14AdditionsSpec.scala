package graft

import org.apache.spark.sql.functions._

import graft.ops.{BpeReference, PqOps, SimilarityOps}

/** Round 14: the VERDICT r13 fix list — clustered-geometry recall for
  * the persisted-index incremental ANN path (the deployment-grade
  * counterpart to the near-orthogonal worst-case rows), plus the
  * fixture's two load-bearing invariants: seed-codebook coverage of the
  * product grid (zero quantization error) and integer-exact arithmetic.
  */
class Round14AdditionsSpec extends SparkSpec {
  import spark.implicits._

  /** ids only — [[SimilarityOps.clusteredGeometry]] derives the vectors
    * from vec_id alone; the float column stands in for the real
    * embeddings table's. */
  private def idCorpus(n: Long) =
    (0L until n).map(i => (i, Seq.tabulate(4)(_.toFloat)))
      .toDF("vec_id", "embedding")

  // ---- ann_recall_incremental_clustered (VERDICT r13 #1) ----

  test("clusteredGeometry: 64 dims, cluster offsets by vec_id % 8, seed ids cover every (cluster, fine) codeword pair per subspace") {
    val rows = SimilarityOps.clusteredGeometry(idCorpus(512))
      .as[(Long, Seq[Double])].collect().toMap
    assert(rows(0L).length == 64)
    // within a subspace the value is constant; across clusters the
    // offset (c+1)*64 dominates any fine value (< 8)
    for ((i, v) <- rows) {
      val c = i % 8
      assert(v.forall(x => x >= (c + 1) * 64 && x < (c + 1) * 64 + 8),
        s"id $i must sit in its cluster's offset band")
      assert(v.grouped(8).forall(sub => sub.distinct.size == 1),
        s"id $i: fine value must be constant within a subspace")
    }
    // seed coverage: for every subspace, ids 0..63 hit all 64
    // (cluster, fine) pairs — the zero-quantization-error precondition
    for (s <- 0 until 8) {
      val pairs = (0L until 64L).map(i => (i % 8, rows(i)(s * 8))).toSet
      assert(pairs.size == 64,
        s"subspace $s: seed codebook must cover all 64 grid codewords")
    }
  }

  test("clusteredGeometry quantizes losslessly against its own seed codebook (qerr exactly 0 for every vector)") {
    val emb = SimilarityOps.clusteredGeometry(idCorpus(256))
    val base = emb.filter(PqOps.annSplitIsIndex(64))
    val enc = PqOps.pqEncodeWith(emb, PqOps.trainCodebook(base, 8, 64))
    val nonzero = enc.filter(col("qerr") =!= 0.0).count()
    assert(nonzero == 0,
      "every subvector IS a codeword, so ADC ranking must equal exact ranking")
  }

  test("annRecallIncrementalClustered: deployment-grade recall (>= 0.8) where the near-orthogonal corpus is chance-level") {
    val corpus = idCorpus(512)
    val out = SimilarityOps.annRecallIncrementalClustered(corpus)
      .as[(Long, Double)].collect()
    val deltaIds = (0L until 512L).filter(i => i >= 64 && i % 4 == 0)
    assert(out.map(_._1).toSet == deltaIds.toSet,
      "every delta vector evaluated, orphan or not")
    assert(out.forall(r => r._2 == 0.0 || r._2 == 1.0))
    val recall = out.map(_._2).sum / out.length
    assert(recall >= 0.8,
      s"clustered-geometry recall@1 $recall below the deployment bar")
  }

  // ---- bpe_train_segment (VERDICT r13 #2) ----

  test("bpeTrainSegment: trained merges feed the segmenter; symbols reconcatenate and match a separately-trained apply") {
    val docs = Seq(
      (0L, "low low low low low"),
      (1L, "lower lower widest widest widest"),
      (2L, "newest newest newest newest newest newest")).toDF("doc_id", "text")
    val got = graft.ops.BpeOps.bpeTrainSegment(docs, 8)
      .orderBy("word").collect()
    assert(got.nonEmpty)
    // symbols are a partition of the word (no byte invented or lost)
    got.foreach { r =>
      assert(r.getAs[String]("segmented").replace("\u001f", "") ==
        r.getString(0))
    }
    // at depth 8 on this corpus, training must have compressed the
    // most frequent words below character-level
    val nsyms = got.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(nsyms("newest") < 6L && nsyms("low") < 3L,
      s"trained merges failed to compress the head words: $nsyms")
    // end-to-end = train-then-apply with the two halves called apart
    val merges = graft.ops.BpeOps.bpeTrainAuto(docs, 8)
    val apart = graft.ops.BpeOps.bpeSegment(docs, merges)
      .select(col("word"), concat_ws("\u001f", col("syms")).as("segmented"))
      .as[(String, String)].collect().toMap
    got.foreach(r => assert(apart(r.getString(0)) ==
      r.getAs[String]("segmented")))
  }

  // ---- incremental-pair BPE trainer (the round-14 production regime) ----

  test("bpeTrainLocalFast == bpeTrainLocal merge-for-merge to exhaustion on the fixture corpus") {
    import graft.ops.BpeOps
    val corpus = Seq("low low low low low",
      "lower lower widest widest widest",
      "newest newest newest newest newest newest")
    val hist = corpus.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }.toSeq
    val ref = BpeReference.bpeTrainLocal(hist, 1000)
    val fast = BpeOps.bpeTrainLocalFast(hist, 1000)
    assert(fast == ref)
    assert(ref.nonEmpty && ref.length < 1000, "fixture must exhaust early")
  }

  test("bpeTrainLocalFast parity on adversarial vocabulary: a==b runs, shared prefixes, ties, supplementary plane") {
    import graft.ops.BpeOps
    // deterministic stress corpus: repeated-symbol runs exercise the
    // greedy a==b pairing, near-anagrams force count ties through the
    // UTF-8 tie-break, shared prefixes make merges cascade, and the
    // non-BMP words catch any UTF-16 shortcut in the new loop
    val words = (0 until 160).map { i =>
      val base = "abcde".substring(i % 5, i % 5 + 1) * (1 + i % 4)
      base + "xyzw".substring(i % 4, i % 4 + 1) + ("ab" * (i % 3)) +
        (if (i % 7 == 0) "𝕏" else "")
    }
    val hist = words.groupBy(identity)
      .map { case (w, ws) => (w, ws.length.toLong * (1 + w.length % 3)) }.toSeq
    for (depth <- Seq(1, 7, 50, 5000)) {
      val ref = BpeReference.bpeTrainLocal(hist, depth)
      val fast = BpeOps.bpeTrainLocalFast(hist, depth)
      assert(fast == ref, s"divergence at depth $depth")
    }
  }

  test("bpeTrainAuto (now the fast loop) still equals the distributed regime") {
    import graft.ops.BpeOps
    val docs = Seq((0L, "low low low low low"),
      (1L, "lower lower widest widest widest")).toDF("doc_id", "text")
    assert(BpeOps.bpeTrainAuto(docs, 12) == BpeOps.bpeTrain(docs, 12))
  }

  test("trainedMergesSf0p01 literal is replace-chain-safe (no a == b merge)") {
    assert(graft.ops.BpeOps.trainedMergesSf0p01.forall { case (a, b) => a != b })
    assert(graft.ops.BpeOps.trainedMergesSf0p01.length == 16)
  }

  // ---- multimodal_prep flagship composite (VERDICT r13 #4) ----

  test("multimodalPrep: manifest + verdicts + digest dedup roll up per (modality, verdict)") {
    import graft.ops.MultimodalOps
    // texts chosen so BOTH trees carry a real dedup group: docs 2 and 5
    // share a text (opaque-tree digest group across extensions), and
    // doc 8 additionally gets a planted dup_ copy (dupEvery = 8)
    val docs = Seq(
      (0L, "alpha"), (1L, "bravo"), (2L, "same text"), (3L, "charlie"),
      (4L, "delta"), (5L, "same text"), (6L, "echo"), (7L, "foxtrot"),
      (8L, "golf")).toDF("doc_id", "text")
    withTempDir("graft_prep_mm") { dirMm => withTempDir("graft_prep_au") { dirAu =>
      MultimodalOps.writeFixtureTree(docs, dirMm.toString)
      MultimodalOps.writeUlawFixtureTree(docs, dirAu.toString)
      MultimodalOps.writeCorruptAudioFixtures(dirAu.toString)
      val got = MultimodalOps.multimodalPrep(spark, dirMm.toString, dirAu.toString)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // opaque tree: 9 docs (ids 0,3,6 img / 1,4,7 aud / 2,5,8 vid) +
      // 2 dups (ids 0 and 8, dupEvery = 8); ids 2 and 5 share bytes ->
      // one canonical between them; each dup collapses onto its doc
      assert(got(("image", "opaque"))._1 == 4 && got(("image", "opaque"))._2 == 3,
        "3 img docs + dup_0; dup_0 collapses onto doc_0")
      assert(got(("audio", "opaque"))._1 == 3 && got(("audio", "opaque"))._2 == 3)
      assert(got(("video", "opaque"))._1 == 4, "3 vid docs + dup_8")
      assert(got(("video", "opaque"))._2 == 2,
        "dup_8 collapses onto doc_8; doc_5 collapses onto doc_2")
      // audio tree: 9 ok clips, all distinct texts-or-parity -> all
      // canonical except the planted same-text SAME-parity pair?
      // ids 2 and 5: parities 0 and 1 -> different channel count ->
      // different bytes -> both canonical
      assert(got(("audio", "ok"))._1 == 9 && got(("audio", "ok"))._2 == 9)
      assert(got(("audio", "corrupt"))._1 == 2 && got(("audio", "corrupt"))._2 == 2)
      // byte accounting: opaque totals = utf-8 lengths (alpha twice —
      // the dup's bytes count; dedup marks survivors, it doesn't erase)
      assert(got(("image", "opaque"))._3 ==
        2 * "alpha".length + "charlie".length + "echo".length)
    }}
  }

  test("multimodalPrep: mu-law code-level collisions dedupe across DIFFERENT texts (the oracle's group key)") {
    import graft.ops.MultimodalOps
    // same parity (both even ids), texts of length 29 (1-frame clips)
    // whose first chars 'b' (98) and 'c' (99) encode to the SAME mu-law
    // code: s_b = (98*523)%65536-32768 = a value whose quantized cell
    // also contains s_c -- verified below via the encoder itself
    val cb = MultimodalOps.ulawEncode((98 * 523) % 65536 - 32768)
    val cc = MultimodalOps.ulawEncode((99 * 523) % 65536 - 32768)
    assume(cb == cc, s"fixture chars no longer collide ($cb vs $cc)")
    val t1 = "b" + "x" * 28
    val t2 = "c" + "x" * 28
    val docs = Seq((2L, t1), (4L, t2)).toDF("doc_id", "text")
    withTempDir("graft_prep_mm2") { dirMm => withTempDir("graft_prep_au2") { dirAu =>
      MultimodalOps.writeFixtureTree(docs, dirMm.toString)
      MultimodalOps.writeUlawFixtureTree(docs, dirAu.toString)
      MultimodalOps.writeCorruptAudioFixtures(dirAu.toString)
      val ok = MultimodalOps.multimodalPrep(spark, dirMm.toString, dirAu.toString)
        .filter(col("verdict") === "ok").collect()
      assert(ok.length == 1)
      assert(ok(0).getLong(2) == 2 && ok(0).getLong(3) == 1,
        "two 1-frame clips with colliding code bytes must share a digest")
    }}
  }

  // ---- multi-page TIFF through the stride gate (VERDICT r13 #5) ----

  test("sampleFramesReal on multi-page TIFF: stride prunes at the container; frames agree byte-for-byte with the GIF encoding") {
    import graft.ops.MultimodalOps
    // doc 3 -> 4 frames, same two-stride luck-proofing as the GIF spec
    withTempDir("graft_tiff_stride") { dir =>
      val text = "stride contract fixture text"
      val docs = Seq((3L, text)).toDF("doc_id", "text")
      MultimodalOps.writeTiffFixtureTree(docs, dir.toString)
      MultimodalOps.writeGifFixtureTree(docs, dir.toString)
      val files = spark.read.format("binaryFile").load(dir.toString)
      def tiff(stride: Int) =
        MultimodalOps.sampleFramesReal(spark, files, stride,
          extPattern = "vid_(\\d+)\\.tif$").collect()
      assert(tiff(2).map(_.frame_idx).sorted.toSeq == Seq(0L, 2L))
      assert(tiff(3).map(_.frame_idx).sorted.toSeq == Seq(0L, 3L))
      // container independence, directly: the TIFF pages decode to the
      // same dims + gray sums as the GIF frames of the same fixture
      val gif = MultimodalOps.sampleFramesReal(spark, files, 2)
        .collect().map(f => f.frame_idx -> (f.width, f.height, f.sum_gray)).toMap
      val tif = tiff(2).map(f => f.frame_idx -> (f.width, f.height, f.sum_gray)).toMap
      assert(tif == gif, s"containers disagree: tiff=$tif gif=$gif")
      // and both match the formula
      val (w, h) = (MultimodalOps.gifWidth(text.length.toLong), MultimodalOps.gifHeight(3L))
      val exp = Seq(0, 2).map(f => f.toLong ->
        (0 until w * h).map(p => MultimodalOps.gifPixel(text, w, h)(f, p).toLong).sum).toMap
      assert(tif.map { case (k, v) => k -> v._3 } == exp)
    }
  }
}
