package graft

import graft.ops.RelationalOps
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-5 additions: text operators and the Catalyst decorrelation plan
  * shapes (Q21/Q2/Q20 families).
  */
class Round5AdditionsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("sourceMix honors an explicit rates map with default fallback") {
    val docs = Tables.documents(spark, sfDir)
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = graft.ops.TextOps.sourceMix(docs,
      rates = Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("src0") == perSource("src0"), "rate-1.0 source keeps everything")
    assert(!got.contains("src1"), "rate-0 source drops everything")
    perSource.keys.filterNot(Set("src0", "src1")).foreach { s =>
      assert(got(s) == perSource(s), s"defaultRate 1.0 must keep all of $s")
    }
  }

  test("unigramScores: OOV fraction and mean corpus frequency on a known corpus") {
    // "common" appears 6x (in the top-2 vocab), "mid" 3x, everything else
    // once. vocabSize=2 -> vocab = {common:6, mid:3}.
    val docs = Seq(
      (1L, "common common common mid"),         // all in-vocab
      (2L, "common rare1 rare2 rare3"),         // 3/4 OOV
      (3L, "common common mid mid rareX")       // 1/5 OOV
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.unigramScores(docs, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((4L, 0L, 0.0, (6 * 3 + 3).toDouble / 4)), s"got ${got(1L)}")
    assert(got(2L) == ((4L, 3L, 0.75, 6.0 / 4)), s"got ${got(2L)}")
    assert(got(3L) == ((5L, 1L, 0.2, (6 * 2 + 3 * 2).toDouble / 5)), s"got ${got(3L)}")
    // the vocab side is broadcast: the token stream must not shuffle for the join
    val plan = graft.ops.TextOps.unigramScores(docs, vocabSize = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$plan")
  }

  test("chunkDocuments: overlapping windows cover every token; short docs emit one chunk") {
    // 10 tokens, window 4, stride 3 -> k = ceil(6/3) = 2 -> chunks at 0,3,6
    val docs = Seq(
      (1L, (0 until 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"),                       // shorter than the window: one chunk
      (3L, "x y z w")                    // exactly one window
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.chunkDocuments(docs, window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(got == Set(
      (1L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 3L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 6L, 4L, "t6 t7 t8 t9"),
      (2L, 0L, 0L, 2L, "a b"),
      (3L, 0L, 0L, 4L, "x y z w")), s"got $got")
    // map-side only: no exchange in the plan
    val plan = graft.ops.TextOps.chunkDocuments(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("chunkDocuments property: chunks tile the token stream exactly (seeded random docs)") {
    val rnd = new scala.util.Random(11)
    for ((window, stride) <- Seq((8, 8), (8, 5), (16, 4))) {
      val docs = (0 until 40).map { i =>
        val n = 1 + rnd.nextInt(60)
        (i.toLong, (0 until n).map(j => s"w${rnd.nextInt(1000)}_$j").mkString(" "))
      }
      val byDoc = graft.ops.TextOps.chunkDocuments(
          docs.toDF("doc_id", "text"), window, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.split(" ", -1)
        val chunks = byDoc(id).sortBy(_._2)
        // chunk ids are dense from 0; starts advance by stride
        assert(chunks.map(_._2).toSeq == chunks.indices.map(_.toLong))
        chunks.foreach { case (_, cid, start, nTok, chunk) =>
          assert(start == cid * stride)
          val expected = toks.slice(start.toInt, start.toInt + window)
          assert(chunk == expected.mkString(" "), s"doc $id chunk $cid")
          assert(nTok == math.min(window.toLong, toks.length - start))
        }
        // coverage: the final chunk reaches the last token
        val last = chunks.last
        assert(last._3 + last._4 == toks.length.toLong, s"doc $id tail uncovered")
      }
    }
  }

  test("unigramScores is partitioning-invariant") {
    val docs = Tables.documents(spark, sfDir)
    def scores(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.unigramScores(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
    assert(scores(docs.repartition(13)) == scores(docs.coalesce(1)))
  }

  test("corpusPrep stage interaction: dedup runs on SCRUBBED text, split on survivors") {
    val base = ('a' to 't').map(c => s"${c}tok").mkString(" ")  // 20 tokens, no stopwords
    val docs = Seq(
      (1L, s"$base mail bob@a.example.com", "s1"),  // scrubs to the same text as doc 2
      (2L, s"$base mail bob@b.example.com", "s1"),  // -> deduped against doc 1
      (3L, "too short", "s1"),                      // fails the quality gate
      (4L, s"$base extra tail tokens here", "s2")   // distinct survivor
    ).toDF("doc_id", "text", "source")
    val got = graft.ops.TextOps.corpusPrep(docs).collect()
      .map(r => (r.getString(0), r.getLong(2))).toList
    // doc 2 only dedups if the scrub ran BEFORE the digest; doc 3 never
    // reaches dedup; totals: s1 keeps exactly doc 1, s2 keeps doc 4.
    assert(got.toSet == Set(("s1", 1L), ("s2", 1L)), s"got $got")
  }

  test("bigramLm: counts and conditional probabilities on a known corpus") {
    // bigrams: (a,b)x2 from doc1, (a,c)x1 from doc2, (b,a)x1, (c,a)x1
    val docs = Seq(
      (1L, "a b a b"),       // (a,b) (b,a) (a,b)
      (2L, "c a c"),         // (c,a) (a,c)
      (3L, "solo")           // < 2 tokens: contributes nothing
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.bigramLm(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 2.0 / 3)),   // a followed by b twice, by c once
      ("a", "c") -> ((1L, 1.0 / 3)),
      ("b", "a") -> ((1L, 1.0)),
      ("c", "a") -> ((1L, 1.0))), s"got $got")
    // per-w1 probabilities must sum to 1
    val sums = got.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    sums.foreach { case (w1, s) => assert(math.abs(s - 1.0) < 1e-12, s"w1=$w1 sums to $s") }
  }

  // ---- Catalyst decorrelation plan shapes --------------------------------

  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def assertNoNestedLoop(plan: String, what: String): Unit = {
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"$what must decorrelate to equi-joins, got:\n$plan")
  }

  test("Q21 shape: EXISTS plans as left-semi, NOT EXISTS as left-anti, no nested loop") {
    val plan = executedPlan(RelationalOps.waitingSuppliers(spark,
      Tables.supplier(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir)))
    assert(plan.contains("LeftSemi"), s"expected a left-semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected a left-anti join:\n$plan")
    assertNoNestedLoop(plan, "Q21")
  }

  test("Q2 shape: correlated scalar-min decorrelates to an aggregate join, no per-row subquery") {
    val df = RelationalOps.minCostSupplier(spark, Tables.part(spark, sfDir),
      Tables.lineitem(spark, sfDir), Tables.supplier(spark, sfDir))
    val plan = executedPlan(df)
    assertNoNestedLoop(plan, "Q2")
    // The decorrelated form computes min(l_extendedprice) once as an
    // aggregate (grouped on the correlation key), never as a re-executed
    // scalar subquery: no Subquery/ScalarSubquery node survives in the
    // physical plan, and a min aggregate does.
    assert(!plan.contains("Subquery"), s"subquery must be decorrelated:\n$plan")
    assert(plan.contains("min("), s"expected the decorrelated min aggregate:\n$plan")
  }

  test("Q20 shape: nested IN chains plan as a semi-join chain") {
    val plan = executedPlan(RelationalOps.promoSuppliers(spark,
      Tables.supplier(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), Tables.nation(spark, sfDir)))
    val semis = "LeftSemi".r.findAllIn(plan).size
    assert(semis >= 2, s"expected >=2 semi joins in the chain, got $semis:\n$plan")
    assertNoNestedLoop(plan, "Q20")
  }

  test("Q11 shape: global-scalar HAVING executes the scalar once (one subquery, no nested loop)") {
    val df = RelationalOps.importantNationBalance(spark,
      Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir))
    val plan = executedPlan(df)
    assertNoNestedLoop(plan, "Q11")
    // The uncorrelated scalar is a ONE-TIME subquery feeding the filter,
    // not a join against the aggregate.
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      s"expected the global scalar as a one-shot subquery:\n$plan")
  }
}
