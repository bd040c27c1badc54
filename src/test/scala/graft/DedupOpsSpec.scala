package graft

import graft.ops.{DedupOps, SimilarityOps}
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
}
