package graft

import graft.ops.{DedupOps, RetrievalOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retrieval family: RRF fusion arithmetic, channel contracts, the
  * persisted-index incremental == rebuild guarantee, and the planted
  * contamination recall harness. */
class RetrievalOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Small deterministic corpus: repeated-vocabulary docs so tf/df/dl
    * are all non-trivial, plus an exact duplicate pair (7, 8). */
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

  test("denseVectors: native map-side kernel == exploded hashedTf " +
    "derivation (values, doc set, empty/whitespace docs dropped)") {
    // includes a doc with NO valid token (empty text splits to [""]) and
    // a whitespace-only doc — both produced no hashedTf rows under the
    // old two-shuffle derivation and must stay absent (round 15: the
    // kernel returns null for them and denseVectors filters).
    val tricky = corpus.unionAll(Seq(
      (100L, ""), (101L, "  "), (102L, "apple  banana")) // double space => empty middle token
      .toDF("doc_id", "text"))
    val dims = 64
    val reference = graft.ops.SemanticOps.hashedTf(tricky, dims)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("dim"), col("tf"))))
        .as("m"))
      .select(col("doc_id"), expr(
        s"transform(sequence(0, ${dims - 1}), d -> coalesce(element_at(m, CAST(d AS BIGINT)), 0L))")
        .as("v"))
    assert(sortedRows(RetrievalOps.denseVectors(tricky, dims)) ==
      sortedRows(reference))
    assert(!RetrievalOps.denseVectors(tricky, dims).collect()
      .map(_.getLong(0)).toSet.exists(Set(100L, 101L)))
  }

  test("rrfFuse: exact arithmetic, absent channel contributes 0, -1 marker") {
    val s = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("q_id", "doc_id", "rank")
    val d = Seq((0L, 11L, 1L), (0L, 12L, 2L)).toDF("q_id", "doc_id", "rank")
    val out = RetrievalOps.rrfFuse(s, d, k = 3)
      .orderBy("rank").collect()
    // doc 11: both channels -> 1/62 + 1/61 ; doc 10: sparse only 1/61 ;
    // doc 12: dense only 1/62. Fixed (sparse, dense) add order.
    assert(out.map(_.getLong(1)).toSeq == Seq(11L, 10L, 12L))
    assert(out(0).getDouble(4) == 1.0 / 62.0 + 1.0 / 61.0)
    assert(out(1).getDouble(4) == 1.0 / 61.0 + 0.0)
    assert(out(2).getDouble(4) == 0.0 + 1.0 / 62.0)
    assert(out(1).getLong(3) == -1L && out(2).getLong(2) == -1L)
    assert(out.map(_.getLong(5)).toSeq == Seq(1L, 2L, 3L))
  }

  test("hybridRrf: every fused row was retrieved by at least one channel " +
    "and rrf recomputes from the carried ranks") {
    val fused = RetrievalOps.hybridRrf(corpus, col("doc_id") < 2,
      kChannel = 5, k = 5).collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val (sr, dr, rrf) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(sr > 0 || dr > 0)
      val expect = (if (sr > 0) 1.0 / (60.0 + sr) else 0.0) +
        (if (dr > 0) 1.0 / (60.0 + dr) else 0.0)
      assert(rrf == expect)
    }
  }

  test("denseRanks: an exact duplicate is the top dense hit with cos ~ 1") {
    val top = RetrievalOps.denseRanks(corpus, col("doc_id") === 7L, k = 3)
      .filter(col("rank") === 1L).collect()
    assert(top.length == 1)
    assert(top(0).getLong(1) == 8L) // the duplicate, self excluded
    assert(math.abs(top(0).getDouble(2) - 1.0) < 1e-12)
  }

  test("bm25Ranks matches TextOps.bm25TopK (delegation is lossless)") {
    assert(sortedRows(RetrievalOps.bm25Ranks(corpus, col("doc_id") < 3, 4)) ==
      sortedRows(TextOps.bm25TopK(corpus, nQueries = 3, k = 4)))
  }

  test("incremental index == full rebuild, bit-identical scores, " +
    "through a parquet write -> read round trip") {
    val base = corpus.filter(col("doc_id") % 3 =!= 1)
    val delta = corpus.filter(col("doc_id") % 3 === 1)
    val qterms = RetrievalOps.queryTerms(corpus, col("doc_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    try {
      RetrievalOps.writeBm25Index(RetrievalOps.bm25BuildIndex(base), dir)
      val merged = RetrievalOps.bm25MergeIndex(
        RetrievalOps.readBm25Index(spark, dir),
        RetrievalOps.bm25BuildIndex(delta))
      val incremental = RetrievalOps.bm25RanksFromIndex(merged, qterms, k = 5)
      val rebuilt = RetrievalOps.bm25Ranks(corpus, col("doc_id") < 3, k = 5)
      assert(sortedRows(incremental) == sortedRows(rebuilt))
    } finally graft.ops.FixtureDirs.rmTree(java.nio.file.Paths.get(dir))
  }

  test("merged df is the full-corpus df (additive across disjoint slices)") {
    val merged = RetrievalOps.bm25MergeIndex(
      RetrievalOps.bm25BuildIndex(corpus.filter(col("doc_id") < 5)),
      RetrievalOps.bm25BuildIndex(corpus.filter(col("doc_id") >= 5)))
    assert(sortedRows(merged.df) ==
      sortedRows(RetrievalOps.bm25BuildIndex(corpus).df))
  }

  test("writeBm25Index: the read-back-derived df artifact is bit-identical " +
    "to idx.df, for a built AND a merged index (round-16 write path)") {
    // round 16 derives the df artifact from the just-written postings
    // (one tokenization, no data-sized cache); the Bm25Index invariant
    // df(word) == postings rows per word makes that lossless for every
    // constructor — pin it for both construction paths.
    for (idx <- Seq(
      RetrievalOps.bm25BuildIndex(corpus),
      RetrievalOps.bm25MergeIndex(
        RetrievalOps.bm25BuildIndex(corpus.filter(col("doc_id") % 2 === 0)),
        RetrievalOps.bm25BuildIndex(corpus.filter(col("doc_id") % 2 =!= 0))))) {
      val dir = java.nio.file.Files.createTempDirectory("bm25dfw").toString
      try {
        RetrievalOps.writeBm25Index(idx, dir)
        val rb = RetrievalOps.readBm25Index(spark, dir)
        assert(rb.df.columns.toSeq == Seq("word", "df"))
        assert(sortedRows(rb.df) == sortedRows(idx.df))
      } finally graft.ops.FixtureDirs.rmTree(java.nio.file.Paths.get(dir))
    }
  }

  test("writeBm25Index fails naming the mismatch on an index whose df " +
    "breaks the postings-rows invariant") {
    val built = RetrievalOps.bm25BuildIndex(corpus)
    // a hand-built index: every df doubled, and a word with no postings
    val badDf = built.df.select(col("word"), (col("df") * 2).as("df"))
      .union(Seq(("no-such-word", 1L)).toDF("word", "df"))
    val bad = RetrievalOps.Bm25Index(built.postings, built.doclens, badDf)
    val (rows, total) = {
      val r = built.df.agg(count(lit(1)), sum("df")).head()
      (r.getLong(0), r.getLong(1))
    }
    val dir = java.nio.file.Files.createTempDirectory("bm25bad").toString
    try {
      val e = intercept[IllegalStateException](RetrievalOps.writeBm25Index(bad, dir))
      assert(e.getMessage.contains(s"idx.df has (rows, sum df) = (${rows + 1},${2 * total + 1})"),
        e.getMessage)
      assert(e.getMessage.contains(s"the postings give ($rows,$total)"), e.getMessage)
    } finally graft.ops.FixtureDirs.rmTree(java.nio.file.Paths.get(dir))
  }

  test("retrievalRecall: hybrid hits are the union shape (>= each channel " +
    "on this corpus) and recall = n_hits / n_queries exactly") {
    // augmented() plants near copies at +100000 for doc_id % 10 == 0;
    // with 10 docs only doc 0 qualifies -> 1 query.
    val rows = RetrievalOps.retrievalRecall(corpus, kChannel = 5, k = 5)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set("sparse", "dense", "hybrid"))
    rows.values.foreach { case (nq, nh, rec) =>
      assert(nq == 1L && nh <= nq)
      assert(rec == nh.toDouble / nq.toDouble)
    }
    assert(rows("hybrid")._2 >= math.max(rows("sparse")._2, rows("dense")._2))
  }

  test("denseRanksLsh: bucket routing keeps exact duplicates (identical " +
    "vectors share a bucket) and candidates are a subset of the brute pass") {
    val lsh = RetrievalOps.denseRanksLsh(corpus, col("doc_id") === 7L, k = 5)
      .collect()
    assert(lsh.nonEmpty)
    assert(lsh.head.getLong(1) == 8L &&
      math.abs(lsh.head.getDouble(2) - 1.0) < 1e-12)
    val brute = RetrievalOps.denseRanks(corpus, col("doc_id") === 7L,
      k = Int.MaxValue).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    lsh.foreach { r =>
      // every bucket-routed hit exists in the unrestricted pass with
      // the IDENTICAL cosine (same integer dot / norms)
      assert(brute((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
  }

  test("hybridRrfLsh: fused rows come from a channel, deterministic " +
    "under repartition") {
    val a = sortedRows(RetrievalOps.hybridRrfLsh(corpus, col("doc_id") < 2,
      kChannel = 5, k = 5))
    val b = sortedRows(RetrievalOps.hybridRrfLsh(corpus.repartition(7),
      col("doc_id") < 2, kChannel = 5, k = 5))
    assert(a == b && a.nonEmpty)
  }

  test("bm25Prf: expansion terms reach documents sharing NO original " +
    "query term; the plain pass cannot") {
    val c = Seq(
      (0L, "alpha beta"),
      (1L, "alpha beta gamma delta"),
      (2L, "gamma delta epsilon zeta"),
      (3L, "epsilon zeta eta theta"),
      (4L, "iota kappa lambda mu")).toDF("doc_id", "text")
    val isQ = col("doc_id") === 0L
    val plain = RetrievalOps.bm25Ranks(c, isQ, k = 4)
      .select("doc_id").as[Long].collect().toSet
    val prf = RetrievalOps.bm25Prf(c, isQ, m = 1, e = 2, k = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(1L))               // only doc 1 shares alpha/beta
    assert(prf.contains(2L))               // reached via gamma/delta
    assert(prf.contains(1L))               // feedback doc still retrieved
  }

  test("bm25Prf determinism under repartition") {
    val a = sortedRows(RetrievalOps.bm25Prf(corpus, col("doc_id") < 2))
    val b = sortedRows(RetrievalOps.bm25Prf(corpus.repartition(7),
      col("doc_id") < 2))
    assert(a == b)
  }

  test("determinism: hybrid ranks are partitioning-invariant") {
    val a = sortedRows(RetrievalOps.hybridRrf(corpus, col("doc_id") < 2,
      kChannel = 5, k = 5))
    val b = sortedRows(RetrievalOps.hybridRrf(corpus.repartition(7),
      col("doc_id") < 2, kChannel = 5, k = 5))
    assert(a == b)
  }

  test("planted near-dup recall on the sf0.001 corpus: dense catches what " +
    "sparse misses and hybrid keeps it (the fusion rationale)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = RetrievalOps.retrievalRecall(docs).collect()
      .map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(rows("hybrid") >= rows("sparse"))
    assert(rows("hybrid") >= rows("dense") - 1e-12)
    // the scale-path twin: probe-1 bucket routing can only shrink the
    // dense candidate set, never grow it — and fusion keeps hybrid at
    // or above the weaker channel
    val lshRows = RetrievalOps.retrievalRecall(docs, lsh = true).collect()
      .map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(lshRows("dense") <= rows("dense") + 1e-12)
    assert(lshRows("sparse") == rows("sparse"))
    assert(lshRows("hybrid") >= lshRows("sparse"))
  }
}
