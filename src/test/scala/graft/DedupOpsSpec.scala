package graft

import graft.ops.{DedupOps, SimilarityOps}
import graft.sources.Tables
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different words entirely here now today")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeper is min doc_id") {
    val out = DedupOps.exactDedup(corpus).collect()
      .map(r => r.getAs[Long]("keeper_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("minhash: identical docs share all 16 signature rows") {
    val sigs = DedupOps.minhashSignatures(corpus)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs(1L).size == 16)
  }

  test("minhash pairs finds exact + near dups, not unrelated docs") {
    val pairs = DedupOps.minhashPairs(corpus, minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard: exact dup has jaccard 1.0, near dup in (0,1)") {
    val out = DedupOps.ngramJaccardPairs(corpus, minJaccard = 0.1)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out.get((1L, 3L)).exists(j => j > 0.1 && j < 1.0))
  }

  test("simhash: identical docs have hamming 0; pairs join finds them") {
    val sigs = DedupOps.simhash(corpus).as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val pairs = DedupOps.simhashPairs(corpus, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("embedding near-dup finds injected exact copies at cosine ~1") {
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 0.5f), 1),
      (1L, Array(-1.0f, 0.3f, 2.0f), 1),
      (2L, Array(0.9f, -0.2f, 0.1f), 2)
    ).toDF("vec_id", "embedding", "label")
    // augmentedEmbeddings injects a copy of vec_id 0 as 10000
    val pairs = SimilarityOps.embeddingNearDup(emb, minCos = 0.999)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 10000L)))
  }

  // ---- banded-LSH hot-bucket cap and its audit ----

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

  // ---- dedupIncremental cache ownership and numPerm guards ----

  test("dedupIncremental leaves no cached plans behind beyond its returned handle") {
    val sc = spark.sparkContext
    spark.catalog.clearCache() // isolate from other suites sharing the JVM
    val before = sc.getPersistentRDDs.keySet
    val index = DedupOps.signatureIndex(Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text"))
    val delta = Seq(
      (10L, "one two three four five six seven eight nine ten"),
      (11L, "an entirely fresh document unlike anything in the index"))
      .toDF("doc_id", "text")
    val out = DedupOps.dedupIncremental(index, delta)
    val verdicts = out.collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(verdicts == Map(10L -> true, 11L -> false))
    // after the call: only the operator's OWN output may be cached
    val mid = sc.getPersistentRDDs.keySet -- before
    assert(mid.size <= 1, s"inputs leaked: ${mid.size} new cached RDDs")
    out.unpersist(blocking = true)
    val after = sc.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"cached RDDs remain after unpersist: $after")
  }

  test("banding entry points reject numPerm not divisible by 4") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.bandedSignatures(spark, df.withColumn("ts", current_timestamp()), numPerm = 18)
    }
    intercept[IllegalArgumentException] {
      DedupOps.dedupIncremental(
        DedupOps.signatureIndex(df, numPerm = 18), df, numPerm = 18)
    }
    val stream = df.withColumn("ts", current_timestamp())
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.dedupAgainstIndexStream(
        spark, DedupOps.signatureIndex(df, numPerm = 18), stream, numPerm = 18)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.assignSplitsBatch(
        df, DedupOps.signatureIndex(df, numPerm = 18),
        Seq((1L, "train")).toDF("doc_id", "split"), numPerm = 18)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.minhashDedupStream(spark, stream, numPerm = 18)
    }
  }

  // ---- dedupIncremental: dedup of a delta against a signature index ----

  private val sfDir = "/root/testdata/sf0.001"
  // Ten-token texts so every doc carries 8 three-gram shingles.
  private val corpusRows = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"))
  private val freshText = "completely different words entirely novel content nothing shared here at"

  test("dedupIncremental flags exact copies from index and delta, keeps fresh docs") {
    val corpus = corpusRows.toDF("doc_id", "text")
    val index = DedupOps.signatureIndex(corpus)
    val delta = Seq(
      (10L, corpusRows.head._2),  // exact copy of index doc 1
      (11L, freshText),           // fresh: survives
      (12L, freshText)            // exact copy of EARLIER DELTA doc 11
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupIncremental(index, delta).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      10L -> ((1L, true)),    // matched against the index, never re-shingled
      11L -> ((-1L, false)),  // first occurrence survives
      12L -> ((11L, true))),  // matched against the earlier delta doc
      s"got $got")
  }

  test("dedupIncremental labels with the smallest matching doc id across index and delta") {
    val corpus = corpusRows.toDF("doc_id", "text")
    val index = DedupOps.signatureIndex(corpus)
    // 20 duplicates doc 2 (index) AND doc 15 (delta, arrives earlier by id):
    // min(2, 15) = 2 must win.
    val delta = Seq((15L, corpusRows(1)._2), (20L, corpusRows(1)._2))
      .toDF("doc_id", "text")
    val got = DedupOps.dedupIncremental(index, delta).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(15L -> 2L, 20L -> 2L), s"got $got")
  }

  test("dedupIncremental rejects an index that still carries text (re-shingling impossible)") {
    val corpus = corpusRows.toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DedupOps.dedupIncremental(corpus, corpus)
    }
    assert(e.getMessage.contains("signatureIndex"))
  }

  test("dedupIncremental reads the persisted index, not corpus text: one signature derivation, index scan is (doc_id, sig)") {
    val dir = tempDir("sigidx").toString
    val corpus = DedupOps.augmented(Tables.documents(spark, sfDir))
    DedupOps.signatureIndex(corpus.filter(col("doc_id") < 100000))
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val out = DedupOps.dedupIncremental(index, corpus.filter(col("doc_id") >= 100000))
    val n = out.count()
    assert(n > 0)
    val plan = out.queryExecution.executedPlan.toString
    // The index parquet scan must read exactly (doc_id, sig) — if the
    // corpus were being re-shingled, a text column would be read here.
    val idxScans = plan.linesIterator.filter(l =>
      l.contains("parquet") && l.contains(dir.split('/').last)).toList
    assert(idxScans.nonEmpty, s"no index scan found in plan:\n$plan")
    assert(idxScans.forall(l => !l.contains("text")),
      s"index scan must not read text:\n${idxScans.mkString("\n")}")
    // Signature derivation (shingle → minhash_sig) exists ONLY on the
    // delta branch: the index branch carries none.
    spark.catalog.clearCache()
  }

  test("dedupIncremental property: exact copies are always flagged, distinct docs never (seeded)") {
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 50).map { i =>
      (i.toLong, (0 until 15).map(_ => s"tok${rnd.nextInt(100000)}").mkString(" "))
    }
    val index = DedupOps.signatureIndex(corpus.toDF("doc_id", "text"))
    // delta: 20 exact copies of random corpus docs + 10 fresh random docs
    val copies = (0 until 20).map { j =>
      val src = corpus(rnd.nextInt(corpus.size))
      (1000L + j, src._2, src._1)
    }
    val fresh = (0 until 10).map { j =>
      (2000L + j, (0 until 15).map(_ => s"new${rnd.nextInt(100000)}").mkString(" "))
    }
    val delta = (copies.map(c => (c._1, c._2)) ++ fresh).toDF("doc_id", "text")
    val got = DedupOps.dedupIncremental(index, delta).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    copies.foreach { case (id, text, srcId) =>
      assert(got(id)._2, s"exact copy $id of $srcId must be flagged")
      // dup_of is the smallest matching doc — at most srcId (corpus dups exist)
      assert(got(id)._1 <= srcId, s"dup_of must be <= source id for $id")
      // and the matched doc must carry identical text
      val matchedText = corpus.find(_._1 == got(id)._1).map(_._2)
      assert(matchedText.contains(text) ||
        copies.exists(c => c._1 == got(id)._1 && c._2 == text),
        s"dup_of for $id must point at identical text")
    }
    fresh.foreach { case (id, _) =>
      assert(!got(id)._2, s"fresh doc $id must survive")
    }
    spark.catalog.clearCache()
  }
}
