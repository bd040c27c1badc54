package graft

import graft.ops.{DedupOps, PqOps, RetrievalOps, SemanticOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round 15 additions: index-backed PRF bit-parity, the co-addressed
  * sampled recall harness, the persisted-index ANN dense channel +
  * fusion, and the triplet-mining coverage ledger. */
class Round15AdditionsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus: DataFrame = Seq(
    (0L, "apple banana cherry date"),
    (1L, "banana banana cherry elder fig"),
    (2L, "apple apple grape haw iris"),
    (3L, "cherry date elder fig grape"),
    (4L, "iris jack kiwi lemon apple"),
    (5L, "date date date elder haw jack"),
    (6L, "kiwi lemon mango nut olive"),
    (7L, "apple banana date fig haw kiwi"),
    (8L, "apple banana date fig haw kiwi"),
    (9L, "mango nut olive pear quince")).toDF("doc_id", "text")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def sf001Docs =
    graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")

  // ---- index-backed PRF -------------------------------------------------

  test("bm25PrfFromIndex == bm25Prf bit-for-bit (pure index consumer)") {
    val qt = RetrievalOps.queryTerms(corpus, col("doc_id") < 3)
    val inline = sortedRows(RetrievalOps.bm25Prf(corpus, col("doc_id") < 3))
    val fromIdx = sortedRows(RetrievalOps.bm25PrfFromIndex(
      RetrievalOps.bm25BuildIndex(corpus), qt))
    assert(inline == fromIdx)
  }

  test("bm25PrfFromIndex parity survives the parquet round trip and a " +
    "doc-disjoint incremental merge") {
    val dir = java.nio.file.Files.createTempDirectory("prfidx").toString
    try {
      RetrievalOps.writeBm25Index(
        RetrievalOps.bm25BuildIndex(corpus.filter(col("doc_id") % 3 =!= 1)),
        dir)
      val merged = RetrievalOps.bm25MergeIndex(
        RetrievalOps.readBm25Index(spark, dir),
        RetrievalOps.bm25BuildIndex(corpus.filter(col("doc_id") % 3 === 1)))
      val qt = RetrievalOps.queryTerms(corpus, col("doc_id") < 3)
      assert(sortedRows(RetrievalOps.bm25PrfFromIndex(merged, qt)) ==
        sortedRows(RetrievalOps.bm25Prf(corpus, col("doc_id") < 3)))
    } finally graft.ops.FixtureDirs.rmTree(java.nio.file.Paths.get(dir))
  }

  // ---- co-addressed sampled recall --------------------------------------

  test("co-addressed sample keeps each surviving query's truth original " +
    "in the sampled corpus (structural)") {
    val sampled = DedupOps.augmented(sf001Docs)
      .filter(DedupOps.coSampleBucketCol("42") < 128)
    val ids = sampled.select("doc_id").as[Long].collect().toSet
    val queries = ids.filter(id => id >= 100000L && id < 100080L)
    assert(queries.nonEmpty) // the seed keeps some planted queries
    queries.foreach(q => assert(ids.contains(q - 100000L),
      s"query $q survived the sample but its truth ${q - 100000L} did not"))
  }

  test("sampled recall brackets the exhaustive number from above on the " +
    "driver corpus (fewer distractors, co-sampled truth)") {
    val full = RetrievalOps.retrievalRecall(sf001Docs).collect()
      .map(r => (r.getString(0), r.getDouble(3))).toMap
    val rows = RetrievalOps.retrievalRecallSampled(sf001Docs).collect()
    rows.foreach(r => assert(r.getLong(0) == 128L)) // knob carried
    val sampled = rows.map(r => (r.getString(1), r.getDouble(4))).toMap
    assert(rows.head.getLong(2) > 0) // surviving queries exist
    for (ch <- Seq("sparse", "dense", "hybrid"))
      assert(sampled(ch) >= full(ch) - 1e-12,
        s"$ch: sampled ${sampled(ch)} < exhaustive ${full(ch)}")
  }

  // ---- persisted-index ANN top-k + fusion -------------------------------

  test("annIndexTopK: rank-1 pick agrees with annIndexIncrementalMultiProbe, " +
    "ranks are dense and deterministic") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(PqOps.annSplitIsIndex())
    val delta = emb.filter(!PqOps.annSplitIsIndex())
    val cb = PqOps.trainCodebook(base)
    val idx = PqOps.annIndex(base, cb)
    val top = PqOps.annIndexTopK(idx, delta, cb, k = 3)
    val nn = PqOps.annIndexIncrementalMultiProbe(idx, delta, cb)
      .filter(col("nn_id") =!= -1L)
      .select(col("vec_id").as("q_id"), col("nn_id").as("exp_nn"))
    val joined = top.filter(col("rank") === 1L)
      .join(nn, "q_id")
    assert(joined.count() == nn.count()) // every matched query has a rank-1
    assert(joined.filter(col("nn_id") =!= col("exp_nn")).count() == 0)
    // dense ranks 1..k, no duplicate candidates per query
    val byQ = top.groupBy("q_id")
      .agg(collect_list("rank").as("rs"), countDistinct("nn_id").as("nd"),
        count(lit(1)).as("n"))
      .collect()
    byQ.foreach { r =>
      val rs = r.getSeq[Long](1).sorted
      assert(rs == (1L to rs.length).toSeq && r.getLong(2) == r.getLong(3))
    }
    // partitioning-invariance
    assert(sortedRows(top) ==
      sortedRows(PqOps.annIndexTopK(idx, delta.repartition(7), cb, k = 3)))
  }

  test("denseRanksAnnIndex: with all docs as seed codewords ADC is exact, " +
    "so the exact duplicate is the rank-1 hit") {
    // 10 docs < kCode=16 seeds: every doc's own subvectors are codewords,
    // quantization error is zero, ADC distance == exact squared L2
    val top = RetrievalOps.denseRanksAnnIndex(corpus, col("doc_id") === 7L,
      k = 3)
    val first = top.filter(col("rank") === 1L).collect()
    assert(first.length == 1 && first.head.getLong(1) == 8L)
    assert(first.head.getDouble(2) == 0.0) // identical vector, exact ADC
  }

  test("hybridRrfIndexPersisted: index written+read back, every fused row " +
    "came from a channel, rrf recomputes from carried ranks") {
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    try {
      val fused = RetrievalOps.hybridRrfIndexPersisted(spark, corpus,
        col("doc_id") < 2, dir).collect()
      assert(fused.nonEmpty)
      assert(new java.io.File(dir, "_SUCCESS").exists()) // persisted artifact
      fused.foreach { r =>
        val (sr, dr, rrf) = (r.getLong(2), r.getLong(3), r.getDouble(4))
        assert(sr > 0 || dr > 0)
        val expect = (if (sr > 0) 1.0 / (60.0 + sr) else 0.0) +
          (if (dr > 0) 1.0 / (60.0 + dr) else 0.0)
        assert(rrf == expect)
      }
    } finally graft.ops.FixtureDirs.rmTree(java.nio.file.Paths.get(dir))
  }

  test("retrievalRecallAnnIndex on sf0.001: hybrid >= each channel (the " +
    "fusion keeps what PQ bucket routing drops)") {
    val rows = RetrievalOps.retrievalRecallAnnIndex(sf001Docs).collect()
      .map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(rows("hybrid") >= rows("sparse") - 1e-12)
    assert(rows("hybrid") >= rows("dense") - 1e-12)
  }

  // ---- lossy-codec (JPEG) gate ------------------------------------------

  test("JPEG decode: lossy (sums drift) but per-channel means land well " +
    "inside the pinned band — >=2x margin on the driver corpora") {
    import graft.ops.MultimodalOps
    for (sf <- Seq("sf0.001", "sf0.1")) withTempDir("jpeg15") { tmp =>
      val dir = tmp.toString
      val docs = graft.sources.Tables.documents(spark, s"/root/testdata/$sf")
      MultimodalOps.writeJpegFixtureTree(docs, dir)
      val dec = MultimodalOps.decodeImages(spark,
        spark.read.format("binaryFile").load(dir),
        extPattern = "img_(\\d+)\\.jpg$").toDF()
      val dev = dec.join(MultimodalOps.expectedImageStats(docs), "doc_id")
        .select(
          abs(col("sum_r").cast("double") / col("n_px") -
            col("e_sum_r").cast("double") / (col("w") * col("h"))).as("dr"),
          abs(col("sum_g").cast("double") / col("n_px") -
            col("e_sum_g").cast("double") / (col("w") * col("h"))).as("dg"),
          abs(col("sum_b").cast("double") / col("n_px") -
            col("e_sum_b").cast("double") / (col("w") * col("h"))).as("db"),
          (abs(col("sum_r") - col("e_sum_r")) +
            abs(col("sum_g") - col("e_sum_g")) +
            abs(col("sum_b") - col("e_sum_b"))).as("abs_sum_drift"))
        .agg(max("dr"), max("dg"), max("db"), sum("abs_sum_drift"))
        .collect().head
      val worst = Seq(dev.getDouble(0), dev.getDouble(1), dev.getDouble(2)).max
      assert(worst < 8.0, s"$sf: worst per-channel mean deviation $worst " +
        ">= half the 16.0 band — the tolerance has lost its safety margin")
      assert(dev.getLong(3) > 0L,
        s"$sf: zero total drift: the codec round-tripped exactly, so this " +
          "gate is not exercising a lossy path")
    }
  }

  test("decodeJpegBanded: dims exact and every band verdict TRUE (the " +
    "registered contract) on sf0.001 and sf0.1 docs") {
    import graft.ops.MultimodalOps
    for (sf <- Seq("sf0.001", "sf0.1")) withTempDir("jpeg15") { tmp =>
      val dir = tmp.toString
      val docs = graft.sources.Tables.documents(spark, s"/root/testdata/$sf")
      MultimodalOps.writeJpegFixtureTree(docs, dir)
      val out = MultimodalOps.decodeJpegBanded(spark,
        spark.read.format("binaryFile").load(dir), docs)
      assert(out.count() > 0)
      assert(out.filter(!col("dims_ok") || !col("r_in_band") ||
        !col("g_in_band") || !col("b_in_band")).count() == 0, s"at $sf")
    }
  }

  test("corrupt JPEG quarantine: junk and truncated blobs route to " +
    "'corrupt' verdict rows with reasons; valid blobs stay 'ok'") {
    import graft.ops.MultimodalOps
    withTempDir("jpeg15") { tmp =>
      val dir = tmp.toString
      MultimodalOps.writeJpegFixtureTree(sf001Docs.filter(col("doc_id") < 8),
        dir)
      MultimodalOps.writeCorruptJpegFixtures(dir)
      val v = MultimodalOps.decodeImagesLenient(spark,
          spark.read.format("binaryFile").load(dir)).toDF()
      val bad = v.filter(col("status") === "corrupt").collect()
      assert(bad.map(_.getLong(0)).sorted.toSeq == Seq(300L, 301L))
      bad.foreach { r =>
        assert(r.isNullAt(r.fieldIndex("width")))
        assert(!r.isNullAt(r.fieldIndex("reason")))
      }
      val ok = v.filter(col("status") === "ok")
      assert(ok.count() > 0 &&
        ok.filter(col("n_px").isNull).count() == 0)
    }
  }

  // ---- triplet coverage ledger ------------------------------------------

  test("tripletCoverage: n_pairs == n_triplets + n_dropped and agrees with " +
    "tripletMining's own count") {
    val cov = SemanticOps.tripletCoverage(corpus).collect().head
    val (pairs, trips, dropped) =
      (cov.getLong(0), cov.getLong(1), cov.getLong(2))
    assert(pairs == trips + dropped && dropped >= 0)
    assert(trips == SemanticOps.tripletMining(corpus).count())
  }

  test("tripletCoverage surfaces the documented drop: buckets >> corpus " +
    "empties every routed bucket, and the ledger counts it") {
    val cov = SemanticOps.tripletCoverage(corpus, buckets = 1 << 20)
      .collect().head
    assert(cov.getLong(0) > 0)          // verified pairs exist
    assert(cov.getLong(1) == 0)         // none can find a negative
    assert(cov.getLong(2) == cov.getLong(0)) // ... and the drop is VISIBLE
  }
}
