package graft

import graft.ops.{EventOps, JoinOps, SimilarityOps, TextOps}
import graft.oracle.TextOracles
import org.apache.spark.sql.functions._

/** Round-7 surface extensions: CDC changelog apply (lakehouse MERGE),
  * per-source curation audit report, JL projection + coarse-to-fine ANN
  * rerank funnel, and the DotFold nullability regression.
  */
class Round7ExtrasSpec extends SparkSpec {
  import spark.implicits._

  private def changelog(rows: (Long, Long, Long, String, Double)*) =
    rows.toDF("event_id", "ts_ns", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_ns")).drop("ts_ns")

  test("cdcUpsert: untouched / update / delete / insert / tombstoned-insert branches") {
    val base = Seq(
      (1L, "alice", 10.0),
      (2L, "bob", 20.0),
      (3L, "carol", 30.0)
    ).toDF("c_custkey", "c_name", "c_acctbal")
    val events = changelog(
      // key 2: older upsert superseded by a newer upsert -> latest wins
      (100L, 1000L * 1000, 2L, "purchase", 50.0),
      (101L, 2000L * 1000, 2L, "click", 99.0),
      // key 3: upsert superseded by a tombstone -> row dropped
      (102L, 1000L * 1000, 3L, "purchase", 77.0),
      (103L, 2000L * 1000, 3L, "error", 0.0),
      // key 4: not in base, latest is an upsert -> insert
      (104L, 1000L * 1000, 4L, "signup", 44.0),
      // key 5: not in base, latest is a tombstone -> no-op
      (105L, 1000L * 1000, 5L, "error", 0.0))
    val out = EventOps.cdcUpsert(events, base)
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getDouble(2), Option(r.getString(3))))
      .sortBy(_._1)
    assert(out === Seq(
      (1L, Some("alice"), 10.0, None),          // untouched passthrough
      (2L, Some("bob"), 99.0, Some("upsert")),  // latest-wins update
      (4L, None, 44.0, Some("upsert"))))        // fresh insert
  }

  test("curationReport: dup pressure, language spread, quality gate, null-source group") {
    val many = (1 to 30).map(i => s"tok$i").mkString(" ") // 30 tokens, 0 stopwords
    val docs = Seq(
      (1L, "same text", "web", "en", 9L),
      (2L, "same text", "web", "fr", 9L),   // exact dup within source
      (3L, many, "web", "en", many.length.toLong), // quality pass
      (4L, "same text", "books", "en", 9L), // cross-source copy: counts once here
      (5L, "hello", null.asInstanceOf[String], "en", 5L) // untagged ingest
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
    val rows = TextOps.curationReport(docs).collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6)))
      .toMap
    assert(rows(Some("web")) === ((3L, 2L, 1L, 2L, 1L)),
      "web: 3 docs, 2 distinct, 1 extra copy, 2 langs, 1 quality pass")
    assert(rows(Some("books")) === ((1L, 1L, 0L, 1L, 0L)),
      "cross-source copy is not a dup within books")
    assert(rows(None) === ((1L, 1L, 0L, 1L, 0L)),
      "null source reports as its own group")
  }

  test("cdcUpsert: same-timestamp changes resolve by event_id (deterministic latest)") {
    val base = Seq((7L, "dave", 1.0)).toDF("c_custkey", "c_name", "c_acctbal")
    val events = changelog(
      (201L, 5000L * 1000, 7L, "click", 2.0),
      (202L, 5000L * 1000, 7L, "click", 3.0)) // higher event_id wins the tie
    val out = EventOps.cdcUpsert(events, base).collect()
    assert(out.length === 1 && out.head.getDouble(2) === 3.0)
  }

  test("cdcUpsert: empty changelog is the identity on the base snapshot") {
    val base = Seq((1L, "alice", 10.0), (2L, "bob", 20.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
    val out = EventOps.cdcUpsert(changelog(), base)
    assert(out.count() === 2)
    assert(out.filter(col("last_op").isNotNull).count() === 0)
  }

  test("dotFold stays codegen'd over NON-nullable inputs and nulls on length mismatch") {
    // regression: with non-nullable children (CreateArray of literals)
    // BinaryExpression's default nullable=false rendered ev.isNull as the
    // constant `false`, the mismatch branch emitted `false = true;`, and
    // Janino rejected the stage — silently dropping to interpreted mode
    // data-dependent but non-nullable inputs (range ids are non-nullable),
    // so ConstantFolding cannot pre-evaluate and the stage must codegen
    val x = col("id").cast("double")
    val df = spark.range(3, 4).select(
      graft.functions.native.dotFold(
        array(x, lit(2.0)), array(x, lit(4.0))).as("d"),
      graft.functions.native.dotFold(
        array(x), array(x, lit(2.0))).as("mismatch"))
    val row = df.collect().head
    assert(row.getDouble(0) === 17.0) // 3*3 + 2*4
    assert(row.isNullAt(1), "length mismatch must yield null, not garbage")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("),
      s"non-nullable dotFold must stay inside whole-stage codegen:\n$plan")
  }

  private lazy val realEmb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("projectEmbeddings: outDims components per vector, JL sign parity") {
    val n = realEmb.count()
    val out = SimilarityOps.projectEmbeddings(realEmb, outDims = 16)
    assert(out.count() === n * 16)
    assert(out.groupBy("vec_id").count().filter(col("count") =!= 16).count() === 0)
    // a projected component is the signed sum of the vector's elements —
    // check one value against a plain-Scala fold with the same signs
    val signs = SimilarityOps.jlSigns(16, 64)
    val v0 = realEmb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    val expected0 = v0.indices.foldLeft(0.0)((acc, i) =>
      acc + v0(i).toDouble * signs(0)(i))
    val got0 = out.filter(col("vec_id") === 0 && col("dim") === 0)
      .select("value").collect().head.getDouble(0)
    assert(got0 === expected0)
  }

  test("annProjectRerank with a corpus-wide shortlist equals brute-force cosineTopK") {
    val brute = SimilarityOps.cosineTopK(realEmb, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val funnel = SimilarityOps.annProjectRerank(realEmb, nQueries = 5, k = 5,
        shortlist = realEmb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(funnel === brute,
      "an exhaustive shortlist makes the funnel exactly the brute-force ranking")
  }

  test("annProjectRerank: k rows per query, ranks 1..k, exact scores on the emitted pairs") {
    val out = SimilarityOps.annProjectRerank(realEmb, nQueries = 5, k = 5)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 5L).toSet)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.toSeq === (1L to 5L))
    }
    // every emitted score must be the TRUE cosine (stage 2 is exact):
    // cross-check against the brute-force scores for the same pairs
    val brute = SimilarityOps.cosineTopK(realEmb, nQueries = 5, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.collect().foreach { r =>
      assert(r.getDouble(2) === brute((r.getLong(0), r.getLong(1))))
    }
  }

  test("clusterSizeHistogram: sizes partition the clustered docs; removable = sum((size-1)*n)") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),  // dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 1
      (4L, "totally different words entirely here now ok yes"),
      (5L, "another unrelated document with its own content words")
    ).toDF("doc_id", "text")
    val hist = DedupOps.clusterSizeHistogram(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1,2,3 cluster together; 4 and 5 are singleton non-members
    // (nearDupClusters only emits docs that appear in a verified pair)
    assert(hist.keySet === Set(3L), s"got $hist")
    assert(hist(3L) === ((1L, 3L)))
    val removable = hist.map { case (size, (n, _)) => (size - 1) * n }.sum
    assert(removable === 2L, "two copies are removable from the 3-cluster")
    spark.catalog.clearCache()
  }

  test("funnelSteps: greedy earliest chain, order enforcement, partial funnels, window edge") {
    val h = 3600L * 1000 * 1000 // 1h in us
    def ev(id: Long, user: Long, typ: String, tUs: Long) =
      (id, tUs * 1000, user, typ, 0.0, "{}")
    val events = Seq(
      // user 1: clean signup(1h) -> click(2h) -> purchase(3h): converts
      ev(1, 1, "signup", h), ev(2, 1, "click", 2 * h), ev(3, 1, "purchase", 3 * h),
      // user 2: click BEFORE signup doesn't count; later click does
      ev(4, 2, "click", h), ev(5, 2, "signup", 2 * h),
      ev(6, 2, "click", 4 * h), ev(7, 2, "purchase", 5 * h),
      // user 3: partial — signup only
      ev(8, 3, "signup", h),
      // user 4: completes exactly AT the 24h window boundary: converts
      ev(9, 4, "signup", h), ev(10, 4, "click", 2 * h), ev(11, 4, "purchase", 25 * h),
      // user 5: completes one microsecond past the window: does not
      ev(12, 5, "signup", h), ev(13, 5, "click", 2 * h),
      (14L, 25 * h * 1000 + 1000, 5L, "purchase", 0.0, "{}"),
      // user 6: never signs up -> absent from output
      ev(15, 6, "purchase", h))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.funnelSteps(events).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3))), r.getLong(4))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(out(1L) === (((Some(h), Some(2 * h), Some(3 * h)), 1L)))
    assert(out(2L)._1 === ((Some(2 * h), Some(4 * h), Some(5 * h))),
      "a click before signup must not satisfy step 2")
    assert(out(3L) === (((Some(h), None, None), 0L)), "partial funnel surfaces with NULLs")
    assert(out(4L)._2 === 1L, "completion exactly at the window converts")
    assert(out(5L)._2 === 0L, "one microsecond past the window does not")
  }

  test("embeddingPipeline: one vec_id spine, stage-consistent with its component ops") {
    import graft.ops.PqOps
    val out = SimilarityOps.embeddingPipeline(realEmb).collect()
    val n = realEmb.count()
    assert(out.length === n * 4, "one row per (vector, PQ subspace)")
    // PQ codes must be exactly pqEncode's
    val codes = out.map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(4)).toMap
    PqOps.pqEncode(realEmb).collect().foreach { r =>
      assert(codes((r.getLong(0), r.getLong(1))) === r.getLong(2))
    }
    // each vector carries ONE cell and ONE bucket across its subspaces
    // (cell is the int32 label column; bucket is long)
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getAs[Number](1).longValue).distinct.length === 1)
      assert(rows.map(_.getLong(2)).distinct.length === 1)
    }
  }

  test("bpeSegment handles boundary-collision words; oracle rejects a==b merges") {
    import graft.ops.BpeOps
    // words where a merge's right side is a PREFIX of the following
    // symbol (the review-caught oracle divergence: ('c','o') must NOT
    // fire on [s, c, or, e]) plus adjacency chains
    val words = Seq("score", "record", "cow", "core", "corow", "colucolu")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    def fold(word: String): Seq[String] =
      BpeOps.frozenMerges.foldLeft(word.map(_.toString)) { case (syms, (a, b)) =>
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
          else acc :+ x
        }
      }
    val got = BpeOps.bpeSegmentFrozen(docs).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    words.foreach { w =>
      assert(got(w) === fold(w).mkString(""),
        s"$w: expected ${fold(w)}")
    }
    assert(got("score") === "score",
      "('c','o') must not merge across the [c][or] symbol boundary")
    // the replace-chain oracle cannot express a==b pairing — loud reject
    val e = intercept[IllegalArgumentException] {
      TextOracles.bpeSegmentOracle(Seq(("x", "x")))
    }
    assert(e.getMessage.contains("identical sides"))
  }

  test("sessionOverlapPairs: exact pairs once each, boundary touches, equi-join plan") {
    // cell width 100 for the test; sessions as (user, idx, start, end)
    val sessions = Seq(
      (1L, 1L, 0L, 250L),    // spans cells 0,1,2
      (2L, 1L, 240L, 260L),  // overlaps user 1 in cell 2 — must emit ONCE
      (3L, 1L, 250L, 300L),  // touches user 1 exactly at 250 -> overlap 0
      (4L, 1L, 400L, 410L),  // same cell as user 5 but disjoint
      (5L, 1L, 420L, 430L))
      .toDF("user_id", "session_idx", "start_us", "end_us")
    val out = JoinOps.sessionOverlapPairs(sessions, cellUs = 100L)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).sorted
    assert(rows === Seq((1L, 2L, 10L), (1L, 3L, 0L), (2L, 3L, 10L)).sorted,
      s"got ${rows.toSeq}")
    // the pair spanning shared cells 2..2 appears exactly once (no dedup
    // shuffle — the first-shared-cell condition does it): total row count
    assert(out.count() === 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"bucketed overlap must plan as an equi-join:\n$plan")
  }

  test("cdcUpsert plan: survivor filter stays ABOVE the full-outer join") {
    val base = Seq((1L, "alice", 10.0)).toDF("c_custkey", "c_name", "c_acctbal")
    val events = changelog((1L, 1000L, 1L, "error", 0.0))
    val plan = EventOps.cdcUpsert(events, base)
      .queryExecution.optimizedPlan.toString
    // the NULL-accepting filter must not be pushed below the join: doing
    // so would resurrect tombstoned base rows as "untouched"
    val joinIdx = plan.indexOf("FullOuter")
    val filterIdx = plan.indexOf("Filter")
    assert(joinIdx >= 0, s"expected a full-outer join in:\n$plan")
    assert(filterIdx >= 0 && filterIdx < joinIdx,
      s"survivor filter must sit above the join:\n$plan")
    // and the tombstone really deletes
    assert(EventOps.cdcUpsert(events, base).count() === 0)
  }
}
