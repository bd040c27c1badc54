package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.functions._

import graft.ops.{BucketCap, DedupOps, SimilarityOps}

/** Round 11: the VERDICT r10 fix list — the hot-bucket cap's plan
  * corrected to overflow-keys-only (healthy path keeps the r9 plan:
  * no window over bands), the cap's loud half registered and exercised
  * on a genuinely flooded fixture, and the embedding LSH pair surface
  * brought under the same (shared) fuse.
  */
class Round11AdditionsSpec extends SparkSpec {
  import spark.implicits._

  /** Healthy corpus: distinct texts, every band bucket far under any cap. */
  private def healthyDocs =
    (0L until 40L).map(i => (i, s"alpha bravo charlie delta_$i echo_$i fox_$i"))
      .toDF("doc_id", "text")

  /** Flooded corpus: 8 byte-identical docs (ids 0-7 share every band
    * bucket — the homogenized-corpus clique) + 2 unrelated docs. */
  private def floodedDocs =
    ((0L until 8L).map(i => (i, "the very same document body repeated verbatim")) ++
      Seq((20L, "an unrelated first control document here"),
        (21L, "another unrelated second control document here")))
      .toDF("doc_id", "text")

  test("capBuckets healthy path: the input plan is returned UNCHANGED (reference-identical)") {
    val df = healthyDocs.withColumn("bucket", col("doc_id") % 5)
    val out = BucketCap.capBuckets(df, Seq("bucket"), "doc_id", maxBucket = 64)
    assert(out eq df, "no overflowing bucket must mean zero plan delta")
  }

  test("minhashPairs healthy plan contains NO window over bands (VERDICT r10 #1)") {
    val wins = DedupOps.minhashPairs(healthyDocs)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.isEmpty,
      s"healthy pair surface must not pay the rank window: $wins")
  }

  test("minhashBucketStats: healthy corpus proves the cap never bit") {
    val rows = DedupOps.minhashBucketStats(healthyDocs, k = 10)
      .select("bucket_n", "dropped_n", "overflowed")
      .as[(Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, dropped, over) => dropped == 0L && !over })
  }

  test("minhashBucketStats: flooded bucket fires overflowed/dropped_n under the cap") {
    val top = DedupOps.minhashBucketStats(floodedDocs, k = 4, maxBucket = 4)
      .select("band", "bucket_n", "cand_pairs", "dropped_n", "overflowed")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    // the 8-doc clique floods one bucket in each of the 4 bands
    assert(top.map(_._1).sorted == Seq(0L, 1L, 2L, 3L))
    top.foreach { case (_, n, cand, dropped, over) =>
      assert(n == 8L && cand == 28L && dropped == 4L && over)
    }
  }

  test("minhashPairs under the cap drops exactly the audited docs; default cap is a fuse, not a sampler") {
    // cap 4: each band bucket keeps the 4 smallest doc_ids -> pairs are
    // exactly the C(4,2)=6 clique pairs among ids {0,1,2,3}
    val capped = DedupOps.minhashPairs(floodedDocs, maxBucket = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      a <- 0L until 4L; b <- (a + 1) until 4L
    } yield (a, b)).toSet
    assert(capped == expected, s"capped pair set: $capped")
    // default cap (1024) leaves the flooded clique INTACT: all 28 pairs
    val uncapped = DedupOps.minhashPairs(floodedDocs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped == (for {
      a <- 0L until 8L; b <- (a + 1) until 8L
    } yield (a, b)).toSet)
  }

  test("capBuckets: a pathologically homogenized corpus fails LOUDLY past maxHotKeys") {
    val df = (0L until 20L).map(i => (i, i % 2)).toDF("doc_id", "bucket")
    val ex = intercept[IllegalArgumentException] {
      BucketCap.capBuckets(df, Seq("bucket"), "doc_id", maxBucket = 3,
        maxHotKeys = 1)
    }
    assert(ex.getMessage.contains("curate"))
  }

  // ---- embedding LSH surface under the shared fuse (VERDICT r10 #3) ----

  /** 8 identical vectors (one signature bucket, the embedding-homogeneity
    * hazard) — ids 1-8 so the %25 augmentation planting stays inert. */
  private def floodedEmbeddings =
    (1L to 8L).map(i => (i, Array.fill(64)(0.1f), 0L))
      .toDF("vec_id", "embedding", "label")

  test("embeddingNearDupLsh: flooded bucket truncates to the maxBucket smallest vec_ids") {
    val capped = SimilarityOps.embeddingNearDupLsh(floodedEmbeddings,
        maxBucket = 4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)).toSet
    assert(capped == expected, s"capped embedding pair set: $capped")
    // default cap: the full 28-pair clique survives (fuse, not sampler)
    val uncapped = SimilarityOps.embeddingNearDupLsh(floodedEmbeddings)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 28)
  }

  // ---- sampled recall estimator (VERDICT r10 #4) ----

  /** Near-dup corpus: 30 base docs, every third gets a first-token-dropped
    * copy — enough planted pairs that a half-rate sample keeps several. */
  private def nearDupCorpus = {
    val base = (0L until 30L).map(i =>
      (i, s"w$i alpha bravo charlie delta echo foxtrot golf_$i hotel india"))
    val copies = base.filter(_._1 % 3 == 0).map { case (i, t) =>
      (i + 1000L, t.substring(t.indexOf(' ') + 1))
    }
    (base ++ copies).toDF("doc_id", "text")
  }

  test("dedupRecallSampled brackets the exhaustive recall and shrinks the truth side") {
    val full = DedupOps.dedupRecall(nearDupCorpus)
      .select("n_truth", "n_found", "recall")
      .as[(Long, Long, Double)].head()
    val sampled = DedupOps.dedupRecallSampled(nearDupCorpus)
      .select("sample_buckets", "n_truth", "n_found", "recall")
      .as[(Long, Long, Long, Double)].head()
    assert(full._1 > 0 && full._3 == 1.0)
    assert(sampled._1 == 128L)
    assert(sampled._2 > 0 && sampled._2 < full._1,
      s"sample must keep SOME but not ALL truth pairs: ${sampled._2} of ${full._1}")
    // found ⊆ truth on both sides; banding candidacy is pair-local, so a
    // perfect full-corpus recall must survive restriction to the sample
    assert(sampled._4 == full._3, s"sampled recall ${sampled._4} != full ${full._3}")
  }

  // ---- size-bounded broadcast regime for label joins (VERDICT r10 #5) ----

  private def hasBroadcastJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")

  /** Auto-broadcast would pick BHJ for ANY test-sized table (the desired
    * size-based selection at scale) and mask the regime's hint — disable
    * it so the explicit-hint difference is the only selector left. */
  private def withoutAutoBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("leakageSafeSplit: broadcast and shuffle regimes are label-identical; plans differ as selected") {
    withoutAutoBroadcast {
      val bcast = DedupOps.leakageSafeSplit(nearDupCorpus)
      val shuffled = DedupOps.leakageSafeSplit(nearDupCorpus, broadcastMaxLabels = 0L)
      assert(hasBroadcastJoin(bcast), "under the bound the labels must broadcast")
      assert(!hasBroadcastJoin(shuffled), "past the bound the join must not broadcast")
      val a = bcast.as[(Long, String)].collect().sortBy(_._1).toSeq
      val b = shuffled.as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(a == b, "regimes must assign identical splits")
      spark.catalog.clearCache()
    }
  }

  test("dedupCanonical: broadcast and shuffle regimes pick identical representatives") {
    withoutAutoBroadcast {
      val clusters = DedupOps.nearDupClusters(nearDupCorpus)
      val bcast = DedupOps.dedupCanonicalFrom(nearDupCorpus, clusters)
      val shuffled = DedupOps.dedupCanonicalFrom(nearDupCorpus, clusters,
        broadcastMaxLabels = 0L)
      assert(hasBroadcastJoin(bcast) && !hasBroadcastJoin(shuffled))
      val a = bcast.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val b = shuffled.collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(a == b, "regimes must pick identical representatives")
      spark.catalog.clearCache()
    }
  }

  // ---- spill-safe regime for the inverted-index self-join ----

  test("ngramJaccardPairs: forced shuffle-hash only under the build bound; regimes pair-identical") {
    def plan(maxRows: Long) = DedupOps.ngramJaccardPairs(nearDupCorpus,
      maxHashBuildRows = maxRows)
    val hashed = plan(DedupOps.MaxHashBuildRowsPerPartition)
    val merged = plan(0L)
    assert(hashed.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      "small index must keep the measured-faster forced hash build")
    assert(!merged.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      "past the bound the unspillable forced build must yield to sort-merge")
    val a = hashed.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = merged.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b && a.nonEmpty, "regimes must emit identical pairs")
    spark.catalog.clearCache()
  }

  // ---- span-level / surgical decontamination ----

  test("decontaminateSpans: merged token intervals localize the benchmark overlap exactly") {
    // doc 0 is the benchmark side (0 % 50 == 0): 9 tokens = two
    // overlapping 8-grams; doc 1 embeds the 8-token prefix mid-document;
    // doc 2 carries the whole 9-token run (two hits -> ONE merged span);
    // doc 3 is clean
    val docs = Seq(
      (0L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"),
      (1L, "t1 t2 t3 b1 b2 b3 b4 b5 b6 b7 b8 t12 t13"),
      (2L, "x1 b1 b2 b3 b4 b5 b6 b7 b8 b9 x11"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")).toDF("doc_id", "text")
    val spans = DedupOps.decontaminateSpans(docs)
      .select("doc_id", "span_start", "span_end", "span_toks")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((1L, 4L, 11L, 8L), (2L, 2L, 10L, 9L)),
      s"got spans: $spans")
  }

  test("decontaminateSurgical: spans redacted, clean docs verbatim, full contamination -> empty row") {
    val docs = Seq(
      (0L, "b1 b2 b3 b4 b5 b6 b7 b8"),
      (1L, "t1 t2 t3 b1 b2 b3 b4 b5 b6 b7 b8 t12 t13"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 b8"), // fully contaminated training doc
      (3L, "c1 c2 c3")).toDF("doc_id", "text")
    val out = DedupOps.decontaminateSurgical(docs)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "t1 t2 t3 t12 t13",
      2L -> "", // row kept, text emptied - the corpus is row-for-row
      3L -> "c1 c2 c3"), s"got: $out")
  }

  // ---- second image container through the decode gate (VERDICT r10 #7) ----

  test("PNG fixtures decode to the same formula sums as BMP — the reader is format-general") {
    import graft.ops.MultimodalOps
    val fixture = Seq((0L, "abcdefg"), (3L, "Z"), (12L, "pixel data here ok"))
    val docs = fixture.map { case (i, t) => (i, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    withTempDir("png_spec") { tmp =>
      val dir = tmp.toString
      MultimodalOps.writePngFixtureTree(docs, dir)
      val got = MultimodalOps.decodeImages(spark,
          spark.read.format("binaryFile").load(dir),
          extPattern = "img_(\\d+)\\.png$")
        .collect().map(d => d.doc_id -> d).toMap
      fixture.foreach { case (id, text) =>
        val w = MultimodalOps.bmpWidth(text.length.toLong)
        val h = MultimodalOps.bmpHeight(id)
        val pts = for (y <- 0 until h; x <- 0 until w)
          yield MultimodalOps.bmpPixel(text, w)(x, y)
        val d = got(id)
        assert(d.width == w && d.height == h && d.n_px == w.toLong * h)
        assert((d.sum_r, d.sum_g, d.sum_b) ==
          ((pts.map(_._1.toLong).sum, pts.map(_._2.toLong).sum,
            pts.map(_._3.toLong).sum)), s"doc $id channel sums")
      }
    }
  }

  test("decodeImages ignores stray files outside the fixture naming scheme (ADVICE r10)") {
    import graft.ops.MultimodalOps
    withTempDir("bmp_stray") { dir =>
      MultimodalOps.writeBmpFixtureTree(
        Seq((1L, "stray guard doc", "en", "s"))
          .toDF("doc_id", "text", "lang", "source"), dir.toString)
      java.nio.file.Files.write(dir.resolve("README.txt"),
        "not an image".getBytes)
      val rows = MultimodalOps.decodeImages(spark,
        spark.read.format("binaryFile").load(dir.toString)).collect()
      assert(rows.map(_.doc_id).toSeq == Seq(1L),
        "exactly the one fixture image must decode; the stray file is skipped")
    }
  }

  test("fixture writers reject non-ASCII text LOUDLY (ADVICE r10: char vs byte semantics)") {
    import graft.ops.MultimodalOps
    withTempDir("bmp_utf8") { dir =>
      val docs = Seq((2L, "café au lait", "fr", "s"))
        .toDF("doc_id", "text", "lang", "source")
      val ex = intercept[IllegalArgumentException] {
        MultimodalOps.writeBmpFixtureTree(docs, dir.toString)
      }
      assert(ex.getMessage.contains("ASCII"))
    }
  }

  test("embeddingBucketStats: flooded bucket audited; healthy corpus all-clear; plans carry no window") {
    val flooded = SimilarityOps.embeddingBucketStats(floodedEmbeddings,
        k = 3, maxBucket = 4)
      .select("bucket_n", "cand_pairs", "dropped_n", "overflowed")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(flooded.head == ((8L, 28L, 4L, true)), s"audit top row: $flooded")
    // healthy: near-orthogonal distinct vectors spread across buckets
    val healthy = (1L to 40L)
      .map(i => (i, Array.tabulate(64)(d => if (d == (i % 64).toInt) 1.0f else 0.01f), i % 4))
      .toDF("vec_id", "embedding", "label")
    val stats = SimilarityOps.embeddingBucketStats(healthy, k = 20)
      .select("dropped_n", "overflowed").as[(Long, Boolean)].collect()
    assert(stats.nonEmpty && stats.forall { case (d, o) => d == 0L && !o })
    val wins = SimilarityOps.embeddingNearDupLsh(healthy)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.isEmpty, "healthy embedding pair surface must stay window-free")
  }
}
