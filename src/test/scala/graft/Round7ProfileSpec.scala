package graft

import graft.ops.{LayoutOps, SkewOps, StatsOps}
import org.apache.spark.sql.functions._

/** Round-7 session additions: the landing-gate trio (data profile,
  * constraint suite, skew diagnostic) and the small-file compaction
  * planner. Each is pinned on a hand-built adversarial fixture where the
  * expected output is computable by eye — NULL columns, violated
  * constraints, a hot key, quota-straddling file sizes — independently
  * of the DuckDB oracle that checks the registered production shapes.
  */
class Round7ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("dataProfile: completeness, distincts, and exact numeric moments") {
    val docs = Seq(
      (1L, "aa", "en", "web", 10L),
      (2L, "bb", null, "web", 20L),
      (3L, "aa", "en", null, 30L),
      (4L, null, "de", "book", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val p = StatsOps.dataProfile(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet == Set("doc_id", "n_chars", "text", "lang", "source"))
    p.values.foreach(r => assert(r.getLong(1) == 4)) // n_rows everywhere
    val lang = p("lang")
    assert(lang.getLong(2) == 3 && lang.getLong(3) == 1) // nonnull / nulls
    assert(lang.getDouble(4) == 0.75 && lang.getLong(5) == 2) // completeness, distinct
    assert(lang.isNullAt(6) && lang.isNullAt(7) && lang.isNullAt(8)) // no numerics
    val text = p("text")
    assert(text.getLong(5) == 2) // "aa" counted once, NULL ignored
    val nc = p("n_chars")
    assert(nc.getDouble(6) == 10.0 && nc.getDouble(7) == 40.0)
    assert(nc.getDouble(8) == 25.0) // (10+20+30+40)/4 via exact cents
    val id = p("doc_id")
    assert(id.getLong(5) == 4 && id.getDouble(8) == 2.5)
  }

  test("constraintCheck: NULL predicate counts as violation; empty passes vacuously") {
    val rows = Seq[(java.lang.Double, String)](
      (10.0, "A"), (55.0, "A"), (null, "R"), (20.0, "X"))
      .toDF("l_quantity", "l_returnflag")
    val cs = Seq(
      "quantity_in_range" -> "l_quantity >= 1 AND l_quantity <= 50",
      "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')")
    val out = StatsOps.constraintCheck(rows, cs).collect()
      .map(r => r.getString(0) -> r).toMap
    // 55.0 out of range + NULL un-evaluable = 2 violations
    assert(out("quantity_in_range").getLong(2) == 2)
    assert(out("quantity_in_range").getString(3) == "fail")
    assert(out("returnflag_domain").getLong(2) == 1) // 'X'
    // zero-row partition: every constraint passes with 0 violations
    val empty = rows.where(lit(false))
    StatsOps.constraintCheck(empty, cs).collect().foreach { r =>
      assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getString(3) == "pass")
    }
  }

  test("skewReport: hot key measured; recommended_salt levels it in saltedJoin") {
    // key 'hot' has 8 rows, 'a'..'d' one each: mean = 12/5, skew = 8/2.4
    val df = (Seq.fill(8)("hot") ++ Seq("a", "b", "c", "d")).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("event_id", "event_type")
    val r = SkewOps.skewReport(df, "event_type").collect().head
    assert(r.getAs[Long]("n_keys") == 5 && r.getAs[Long]("n_rows") == 12)
    assert(r.getAs[Long]("min_per_key") == 1 && r.getAs[Long]("max_per_key") == 8)
    assert(math.abs(r.getAs[Double]("skew_factor") - (8.0 / 2.4)) < 1e-12)
    val salt = r.getAs[Long]("recommended_salt")
    assert(salt == 4) // ceil(3.33)
    // the diagnostic feeds the mitigation: salted join with that factor
    // reproduces the plain join exactly
    val dim = df.groupBy("event_type").agg(count(lit(1)).as("total"))
    val salted = SkewOps.saltedJoin(df, dim, "event_type", col("event_id"), salt.toInt)
      .orderBy("event_id").collect()
    val plain = df.join(dim, "event_type").orderBy("event_id")
      .select("event_id", "event_type", "total").collect()
    assert(salted.map(r2 => (r2.getAs[Long]("event_id"), r2.getAs[Long]("total"))).toSeq ==
      plain.map(r2 => (r2.getAs[Long]("event_id"), r2.getAs[Long]("total"))).toSeq)
  }

  test("compactionPlan: quota-fill bins by descending size, deterministic tiebreak") {
    val files = Seq(
      (1L, 70L), (2L, 60L), (3L, 50L), (4L, 40L), (5L, 40L), (6L, 10L))
      .toDF("file_id", "size_bytes")
    val out = LayoutOps.compactionPlan(files, targetBytes = 100L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // order: 70,60,50,40(id4),40(id5),10 — cums before: 0,70,130,180,220,260
    assert(out(1L)._2 == 0 && out(2L)._2 == 0)
    assert(out(3L)._2 == 1 && out(4L)._2 == 1)
    assert(out(5L)._2 == 2 && out(6L)._2 == 2)
    // invariants: bins contiguous from 0; every bin except the last ends
    // at-or-past its quota boundary (cum including last file >= quota)
    val bins = out.values.map(_._2).toSeq.sorted
    assert(bins.distinct == (0L to bins.max))
    // empty inventory plans to empty, never throws
    assert(LayoutOps.compactionPlan(files.where(lit(false))).isEmpty)
    // oversized file (>= target) advances the quota by >1: bins must
    // stay DENSE (reviewer-caught gap: raw quota bins were {0, 2})
    val over = Seq((1L, 250L), (2L, 10L)).toDF("file_id", "size_bytes")
    val ob = LayoutOps.compactionPlan(over, targetBytes = 100L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ob == Map(1L -> 0L, 2L -> 1L))
    // empty skew input: one row, BOTH counters read 0 (a consumer can
    // read n_rows as a count — ADVICE r7), derived stats NULL (not NaN),
    // no ANSI div error
    val er = SkewOps.skewReport(
      Seq.empty[(Long, String)].toDF("event_id", "event_type"), "event_type")
      .collect().head
    assert(er.getAs[Long]("n_keys") == 0 && er.getAs[Long]("n_rows") == 0)
    assert(er.isNullAt(5) && er.isNullAt(6) && er.isNullAt(7))
  }

  test("constraintRoute: violators quarantined with joined reasons, NULL routes") {
    val rows = Seq[(Long, Integer, java.lang.Double, java.lang.Double)](
      (1L, 1, 10.0, 0.02),   // clean
      (2L, 1, 40.0, 0.02),   // quantity only
      (3L, 1, 40.0, 0.08),   // both
      (4L, 1, null, 0.02))   // NULL predicate -> routed
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    val out = StatsOps.constraintRoute(rows).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(
      2L -> "quantity_low",
      3L -> "quantity_low,discount_low",
      4L -> "quantity_low"))
    // the clean complement is the negated filter: row 1 passes
    assert(!out.contains(1L))
  }

  test("driftCheck: time-split histogram divergence, exact by hand") {
    // ts in epoch NANOS (Tables.events canonical); mid lands at 52 µs
    val early = Seq((1L, 10.0), (2L, 10.0), (3L, 60.0), (4L, 60.0))
    val late = Seq((101L, 10.0), (102L, 110.0), (103L, 110.0), (104L, 110.0))
    val ev = (early ++ late).map { case (us, v) => (us * 1000L, v) }
      .toDF("ts", "value")
    val out = StatsOps.driftCheck(ev).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L).getAs[Long]("n_a") == 2 && out(0L).getAs[Long]("n_b") == 1)
    assert(out(1L).getAs[Long]("n_a") == 2 && out(1L).getAs[Long]("n_b") == 0)
    assert(out(2L).getAs[Long]("n_a") == 0 && out(2L).getAs[Long]("n_b") == 3)
    // χ²-style contribs: (pA−pB)²/((pA+pB)/2) with tot_a=tot_b=4
    assert(math.abs(out(1L).getAs[Double]("contrib") - 1.0) < 1e-12)
    assert(math.abs(out(2L).getAs[Double]("contrib") - 1.5) < 1e-12)
    assert(math.abs(out(0L).getAs[Double]("contrib") - 1.0 / 6.0) < 1e-12)
    // identical halves ⇒ zero drift everywhere
    val same = (early ++ early.map { case (us, v) => (us + 100L, v) })
      .map { case (us, v) => (us * 1000L, v) }.toDF("ts", "value")
    assert(StatsOps.driftCheck(same).collect()
      .forall(_.getAs[Double]("contrib") == 0.0))
    // degenerate: all events at one instant → side b empty → NULL p_b
    // and contrib via the tot guard, not an ANSI divide-by-zero
    val instant = Seq((1000L, 10.0), (1000L, 60.0)).toDF("ts", "value")
    val ir = StatsOps.driftCheck(instant).collect()
    assert(ir.length == 2 && ir.forall(r =>
      r.isNullAt(r.fieldIndex("p_b")) && r.isNullAt(r.fieldIndex("contrib"))))
  }

  test("outputDiff: added/removed/changed/unchanged all counted by digest") {
    val prev = Seq((1L, "same"), (2L, "old text"), (3L, "gone"), (5L, "also same"))
      .toDF("doc_id", "text")
    val next = Seq((1L, "same"), (2L, "NEW text"), (4L, "fresh"), (5L, "also same"))
      .toDF("doc_id", "text")
    val d = StatsOps.outputDiff(prev, next, "doc_id", "text", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d == Map("unchanged" -> 2L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
    // identical runs: one row, all unchanged
    val same = StatsOps.outputDiff(prev, prev, "doc_id", "text", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(same == Map("unchanged" -> 4L))
  }

  test("applyCompaction: one file per bin, rows conserved, file count contracts") {
    val docs = (0L until 200L)
      .map(i => (i, s"doc $i text ${"x" * (i % 37).toInt}", (20 + i % 37)))
      .toDF("doc_id", "text", "n_chars")
    val dir = tempDir("graft_compact").toString
    val nFiles = 29
    val nBins = LayoutOps.applyCompaction(docs, dir, nFiles = nFiles,
      targetBytes = 1200L)
    val binDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bin=")).sortBy(_.getName)
    assert(binDirs.length == nBins && nBins < nFiles,
      s"expected $nBins bins (< $nFiles input files), got ${binDirs.length}")
    // the compaction promise: exactly ONE data file per output bin
    binDirs.foreach { d0 =>
      val parts = d0.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${d0.getName}: ${parts.length} files")
    }
    // lossless: read-back matches the input row-for-row
    val back = spark.read.parquet(dir)
    assert(back.count() == 200)
    assert(back.select("doc_id", "text", "n_chars").except(docs).isEmpty)
    assert(docs.except(back.select("doc_id", "text", "n_chars")).isEmpty)
    // plan parity: bins on disk match the planner's assignment
    val plan = LayoutOps.compactionPlan(
      LayoutOps.fileInventory(docs, nFiles), 1200L)
    val expected = plan.select("bin").distinct().collect().map(_.getLong(0)).toSet
    assert(binDirs.map(_.getName.stripPrefix("bin=").toLong).toSet == expected)
    // empty landed partition: plans zero bins, writes nothing, no NPE
    val emptyDir = tempDir("graft_compact_e").toString
    assert(LayoutOps.applyCompaction(docs.where(lit(false)), emptyDir) == 0L)
  }

  test("dataProfileApprox: HLL++ distincts within tolerance, all else exact") {
    val docs = (0L until 500L)
      .map(i => (i, s"t$i", if (i % 5 == 0) null else s"l${i % 7}",
        s"s${i % 3}", 10L + i % 50))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = StatsOps.dataProfile(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = StatsOps.dataProfileApprox(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (c, e) =>
      val a = approx(c)
      // every non-distinct metric is byte-identical (shared builder)
      Seq(1, 2, 3).foreach(i => assert(a.getLong(i) == e.getLong(i), s"$c col $i"))
      assert(a.getDouble(4) == e.getDouble(4), s"$c completeness")
      // HLL++ at rsd 2%: allow 10% slack on small cardinalities
      val (ed, ad) = (e.getLong(5).toDouble, a.getLong(5).toDouble)
      assert(math.abs(ad - ed) <= math.max(2.0, 0.1 * ed),
        s"$c distinct $ad vs $ed")
    }
  }

  test("quantileBins: boundary assignment, near-equal depths, span ordering") {
    // 16 integer prices 1..16 → quartile boundaries at 4.75, 8.5, 12.25
    val li = (1 to 16).map(i => (i.toLong, i, i.toDouble))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
    val bins = StatsOps.quantileBins(li, nBins = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(bins.keySet == Set(0L, 1L, 2L, 3L))
    assert(bins.values.forall(_._1 == 4)) // exact quarters on tie-free data
    assert(bins(0L)._3 < bins(1L)._2 && bins(1L)._3 < bins(2L)._2 &&
      bins(2L)._3 < bins(3L)._2) // spans ordered and disjoint
    // heavy ties: all mass in one value → one bin carries everything
    val tied = Seq.fill(8)((1L, 1, 5.0)).toDF("l_orderkey", "l_linenumber", "l_extendedprice")
    val tb = StatsOps.quantileBins(tied, nBins = 4).collect()
    assert(tb.length == 1 && tb.head.getLong(1) == 8)
  }

  test("zscoreNormalize: per-group standardization is exact") {
    val li = Seq(
      (1L, 1, "A", 10.0), (2L, 1, "A", 20.0), (3L, 1, "A", 30.0),
      (4L, 1, "R", 5.0), (5L, 1, "R", 15.0))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val z = StatsOps.zscoreNormalize(li).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // group A: mean 20, pop σ = sqrt(200/3)·... in cents: σ_c = 816.49...
    val sdA = math.sqrt(((1000.0 * 1000 + 2000.0 * 2000 + 3000.0 * 3000) -
      6000.0 * 6000 / 3.0) / 3.0)
    assert(math.abs(z(1L) - (1000.0 - 2000.0) / sdA) < 1e-12)
    assert(z(2L) == 0.0)
    assert(math.abs(z(3L) - (3000.0 - 2000.0) / sdA) < 1e-12)
    // group R: mean 10, σ_c = 500 → z = ∓1 exactly
    assert(z(4L) == -1.0 && z(5L) == 1.0)
    // standardized: per-group mean 0 (exact sums of symmetric values)
    assert(math.abs(z(1L) + z(2L) + z(3L)) < 1e-12)
    // zero-variance group (single row): z is NULL via the sd guard,
    // not an ANSI divide-by-zero (reviewer-caught)
    val single = Seq((9L, 1, "Z", 42.0))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val zr = StatsOps.zscoreNormalize(single).collect()
    assert(zr.length == 1 && zr.head.isNullAt(3))
  }

  test("zscoreNormalize: decimal moment sums survive the int64 Σy² overflow scale") {
    // 2000 rows at max-ish price: Σ(yc²) ≈ 2e3 · 1e13 = 2e16 per copy;
    // amplified 600× in-row via large prices it exceeds Long.Max if
    // summed as int64 — the decimal(38,0) path must stay exact/finite
    val big = (0 until 2000).map(i => (i.toLong, 1, "A", 99999999.99))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    // Σ yc² = 2000 · (9999999999)² ≈ 2e23 >> Long.Max ≈ 9.2e18
    val z = StatsOps.zscoreNormalize(big)
    val rows = z.collect()
    assert(rows.length == 2000)
    // all-equal prices: σ = 0 → NULL z everywhere, but NO overflow error
    assert(rows.forall(_.isNullAt(3)))
    // and a non-degenerate big-price group yields finite z
    val big2 = (big.collect().map(r => (r.getLong(0), 1, "A",
      if (r.getLong(0) % 2 == 0) 99999999.99 else 99999990.0)))
      .toSeq.toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val z2 = StatsOps.zscoreNormalize(big2).collect()
    assert(z2.forall(r => !r.isNullAt(3) && !r.getDouble(3).isNaN
      && !r.getDouble(3).isInfinite))
  }

  test("dataProfile: all-null column and empty frame degenerate cleanly") {
    val docs = Seq((1L, "x", null: String, null: String, 5L), (2L, "y", null: String, null: String, 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val p = StatsOps.dataProfile(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("lang").getLong(2) == 0 && p("lang").getDouble(4) == 0.0)
    assert(p("lang").getLong(5) == 0)
    // empty: one row per column, n_rows=0, completeness NULL (nullif
    // guard — not an ANSI divide-by-zero error); never throws
    val empty = docs.where(lit(false))
    val ep = StatsOps.dataProfile(empty).collect()
    assert(ep.length == 5 && ep.forall(_.getLong(1) == 0))
    assert(ep.forall(_.isNullAt(4)))
  }
}
