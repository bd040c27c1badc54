package graft

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.functions._

import graft.ops.{FrequencyOps, TextOps}

/** Round 10: the VERDICT r9 fix list — quality_calibrated's
  * parallelism-cap fix (two-level rank over a distinct-bounded score
  * histogram) and the heavy-hitter oracle-contract hardening
  * (guaranteed-only gating + overflow-free bound arithmetic).
  */
class Round10AdditionsSpec extends SparkSpec {
  import spark.implicits._

  /** Docs with deliberately DUPLICATED scores (texts repeat modulo 5,
    * so scores collide — the tiebreak rank has real work) and a
    * dominant source (the skew the fix is for) plus a singleton.
    */
  private def calibFixture = {
    def doc(words: Int) = (1 to words).map(i => s"w$i").mkString(" ")
    val rows =
      (0L until 60L).map(i => (i, doc((i % 5).toInt * 7 + 3), "big")) ++
        (100L until 110L).map(i => (i, doc((i % 3).toInt * 11 + 2), "mid")) :+
        ((999L, doc(8), "lone"))
    rows.toDF("doc_id", "text", "source")
  }

  test("qualityCalibrated: bitwise-identical to the per-source windowed rank, ties broken by doc_id") {
    val docs = calibFixture
    TextOps.textStats(docs, keep = Seq("source"))
      .select("doc_id", "source", "quality_score")
      .createOrReplaceTempView("qc_scored")
    // the OLD formulation (exact per-source window) as the test oracle
    val expected = spark.sql(
      """SELECT doc_id, source, quality_score,
        |  CAST(rn - 1 AS DOUBLE) / greatest(n - 1, 1L) AS pct FROM (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY quality_score, doc_id) AS LONG) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM qc_scored)
        |WHERE CAST(rn - 1 AS DOUBLE) / greatest(n - 1, 1L) >= 0.5
        |""".stripMargin)
      .as[(Long, String, Double, Double)].collect().toSet
    val got = TextOps.qualityCalibrated(docs, p = 0.5)
      .as[(Long, String, Double, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty && !got.exists(_._1 == 999L),
      "singleton source ranks at pct 0 — below the cut")
    // duplicate scores exist in the fixture, so distinct pct values per
    // (source, score) group prove the doc_id tiebreak actually ran
    val bigPcts = got.filter(_._2 == "big").toSeq
    assert(bigPcts.map(_._1).distinct.size == bigPcts.size)
  }

  test("qualityCalibrated plan: no row-level Window partitioned by source alone (VERDICT r9 #1)") {
    val wins = TextOps.qualityCalibrated(calibFixture)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    // NOTE: project-collapse may inline the quality_score EXPRESSION
    // into a partitionSpec, so key count — not attribute names — is the
    // stable signal: the row-level tiebreak rank is 2-keyed
    // (source, score); parallelism scales with score cardinality, not
    // n_sources
    assert(wins.exists(_.partitionSpec.size == 2),
      s"no (source, quality_score)-keyed window: ${wins.map(_.partitionSpec.map(_.sql))}")
    // any window partitioned by source ALONE must sit on the
    // distinct-bounded histogram (an Aggregate beneath it), never on
    // the per-document rows — that was the one-task-per-source sort
    val srcOnly = wins.filter { w =>
      w.partitionSpec.size == 1 &&
        w.partitionSpec.collect { case a: AttributeReference => a.name.toLowerCase }
          .contains("source")
    }
    assert(srcOnly.nonEmpty, "cumulative histogram windows should exist")
    srcOnly.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"source-only window over raw rows:\n$w")
    }
  }

  test("heavy hitters guaranteedOnly: exactly the provable prefix survives, set is distribution-independent") {
    // flat field: only "hot" (100) clears N/(m+1) = 500/9 = 55 at
    // capacity 8; every mid token (10 each) is best-effort tail
    val stream = Seq.fill(100)("hot") ++
      (0 until 40).flatMap(i => Seq.fill(10)(f"mid$i%02d"))
    val corpus = stream.grouped(5).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val gated = FrequencyOps.heavyHitters(corpus, k = 5, capacity = 8,
        guaranteedOnly = true)
      .select("tok", "cnt", "guaranteed")
      .as[(String, Long, Boolean)].collect().toSeq
    assert(gated == Seq(("hot", 100L, true)),
      s"only the provable row may pass the oracle gate: $gated")
    // and the gated set is merge-order invariant even on this flat
    // distribution (the full top-5 tail is NOT — that is the point)
    val gated13 = FrequencyOps.heavyHitters(corpus.repartition(13), k = 5,
        capacity = 8, guaranteedOnly = true)
      .select("tok", "cnt").as[(String, Long)].collect().toSeq
    assert(gated13 == Seq(("hot", 100L)))
  }

  test("heavy hitters by source guaranteedOnly: per-source provable rows only") {
    val docs = ((0 until 30).map(i => ("s0", s"alpha alpha beta u$i")) ++
      (0 until 20).map(i => ("s1", s"gamma gamma gamma v$i")))
      .zipWithIndex.map { case ((src, t), i) => (i.toLong, t, src) }
      .toDF("doc_id", "text", "source")
    val top = FrequencyOps.heavyHittersBySource(docs, k = 2, capacity = 32,
        guaranteedOnly = true)
      .select("source", "tok", "cnt").as[(String, String, Long)]
      .collect().toSet
    // s1's rank-2 row (a count-1 unique) cannot clear 80/33 — it must
    // be gated out; the three heavy rows all clear their bounds
    assert(top == Set(("s0", "alpha", 60L), ("s0", "beta", 30L),
      ("s1", "gamma", 60L)))
  }

  // ---- real image decode (VERDICT r9 item 2) ----

  test("bmpBytes -> ImageIO: every pixel round-trips, including row order, BGR, and padding") {
    import graft.ops.MultimodalOps
    // 3x2: w*3 = 9 -> one pad byte per row (exercises padding); an
    // asymmetric pixel function catches any axis flip or bottom-up slip
    def px(x: Int, y: Int) = (x * 40 + 10, y * 90 + 5, x * 20 + y * 60)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MultimodalOps.bmpBytes(3, 2, px)))
    assert(img.getWidth == 3 && img.getHeight == 2)
    for (y <- 0 until 2; x <- 0 until 3) {
      val rgb = img.getRGB(x, y)
      val got = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      assert(got == px(x, y), s"pixel ($x,$y): $got != ${px(x, y)}")
    }
  }

  test("decodeImages: decoded dims and channel sums match the generation formula per doc") {
    import graft.ops.MultimodalOps
    val docs = Seq((0L, "abcdefg"), (3L, "Z"), (12L, "pixel data here ok"))
      .map { case (i, t) => (i, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    withTempDir("bmp_spec") { tmp =>
      val dir = tmp.toString
      MultimodalOps.writeBmpFixtureTree(docs, dir)
      val got = MultimodalOps.decodeImages(spark,
          spark.read.format("binaryFile").load(dir))
        .collect().map(d => d.doc_id -> d).toMap
      Seq((0L, "abcdefg"), (3L, "Z"), (12L, "pixel data here ok")).foreach {
        case (id, text) =>
          val w = MultimodalOps.bmpWidth(text.length.toLong)
          val h = MultimodalOps.bmpHeight(id)
          val pts = for (y <- 0 until h; x <- 0 until w)
            yield MultimodalOps.bmpPixel(text, w)(x, y)
          val d = got(id)
          assert(d.width == w && d.height == h && d.n_px == w.toLong * h)
          assert(d.sum_r == pts.map(_._1.toLong).sum)
          assert(d.sum_g == pts.map(_._2.toLong).sum)
          assert(d.sum_b == pts.map(_._3.toLong).sum)
      }
    }
  }

  test("resizeDecoded: 2x nearest-neighbor keeps even (x, y) pixels of the REAL raster") {
    import graft.ops.MultimodalOps
    val docs = Seq((5L, "downscale me with real bytes", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    withTempDir("bmp_rs") { tmp =>
      val dir = tmp.toString
      MultimodalOps.writeBmpFixtureTree(docs, dir)
      val files = spark.read.format("binaryFile").load(dir)
      val d = MultimodalOps.resizeDecoded(spark, files).collect().head
      val text = "downscale me with real bytes"
      val w = MultimodalOps.bmpWidth(text.length.toLong)
      val h = MultimodalOps.bmpHeight(5L)
      val sampled = for {
        y <- 0 until h if y % 2 == 0
        x <- 0 until w if x % 2 == 0
      } yield MultimodalOps.bmpPixel(text, w)(x, y)
      assert(d.width == (w + 1) / 2 && d.height == (h + 1) / 2)
      assert(d.n_px == sampled.size.toLong)
      assert((d.sum_r, d.sum_g, d.sum_b) ==
        ((sampled.map(_._1.toLong).sum, sampled.map(_._2.toLong).sum,
          sampled.map(_._3.toLong).sum)))
    }
  }

  test("decodeImages: an undecodable payload fails LOUDLY, not as silent nulls") {
    import graft.ops.MultimodalOps
    withTempDir("bmp_bad") { dir =>
      java.nio.file.Files.write(dir.resolve("img_7.bmp"),
        "this is not a bitmap".getBytes)
      val ex = intercept[org.apache.spark.SparkException] {
        MultimodalOps.decodeImages(spark,
          spark.read.format("binaryFile").load(dir.toString)).collect()
      }
      assert(ex.getMessage.contains("undecodable") ||
        Option(ex.getCause).exists(_.getMessage.contains("undecodable")))
    }
  }

  test("guaranteed bound is overflow-free (ADVICE r9): div form matches exact BigInt semantics at Long extremes") {
    // the old cnt * (capacity+1) form overflows Long once cnt exceeds
    // ~Long.MaxValue/(m+1) (ANSI: query error; non-ANSI: silent wrap to
    // a FALSE flag for a genuinely-heavy item). The div form must agree
    // with exact integer arithmetic everywhere, including the extremes
    // where the product is unrepresentable.
    val m1 = 4097L // capacity 4096 + 1
    val n = Long.MaxValue - 13L
    val cases = Seq(
      n, // every token identical — product form needs 76 bits
      n / m1 + 1L, // just above the bound
      n / m1, // exactly at the bound (not above -> not guaranteed)
      1L, 0L)
    cases.foreach { cnt =>
      val exact = BigInt(cnt) * BigInt(m1) > BigInt(n)
      val got = spark.sql(s"SELECT ${cnt}L > ${n}L div ${m1}L AS g")
        .as[Boolean].head()
      assert(got == exact, s"cnt=$cnt: div form $got, exact $exact")
    }
  }
}
