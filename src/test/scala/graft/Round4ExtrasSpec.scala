package graft

import graft.ops.{DedupOps, StatsOps, TextOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-4 extras: exact duplicated-substring signal, deterministic
  * statistical profiling, PII scrubbing, hash splits, and the analytic
  * window family.
  */
class Round4ExtrasSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("substringDup marks planted duplicate spans and leaves unique text at zero") {
    // doc 0 and 1 share a 30-char span (> k=20 -> 11 shared positions
    // each); doc 2 repeats its own 20-gram (self-repetition counts);
    // doc 3 is all-unique; doc 4 is shorter than k and must be absent.
    val shared = "the quick brown fox jumps over"            // 30 chars
    val docs = Seq(
      (0L, s"A$shared${"x" * 20}"),
      (1L, s"B${"y" * 20}$shared"),
      (2L, "z" * 41),                                         // every 20-gram identical
      (3L, ('a' to 'z').mkString + "0123456789"),             // 36 chars, all distinct grams
      (4L, "tiny")
    ).toDF("doc_id", "text")
    val got = DedupOps.substringDup(docs, k = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(4L), "short doc must be excluded")
    assert(got(3L)._2 == 0L, "unique doc has zero duplicated grams")
    assert(got(0L)._1 == 32L && got(1L)._1 == 32L)            // 51 - 20 + 1
    assert(got(0L)._2 == 11L, s"30-char shared span covers 11 grams, got ${got(0L)._2}")
    assert(got(1L)._2 == 11L)
    assert(got(2L)._2 == got(2L)._1 && got(2L)._1 == 22L,
      "self-repeating doc is 100% duplicated")
  }

  test("substringDup: two identical documents are 100% duplicated") {
    val docs = Seq((1L, "a perfectly ordinary sentence of some length"),
      (2L, "a perfectly ordinary sentence of some length")).toDF("doc_id", "text")
    val fracs = DedupOps.substringDup(docs).select("dup_frac").as[Double].collect()
    assert(fracs.length == 2 && fracs.forall(_ == 1.0))
  }

  test("substringDup agrees with an independent brute-force reference on a randomized corpus") {
    // The DuckDB oracle is a mirrored formulation; this reference is an
    // independent one (driver-side hash map over raw substrings).
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val texts = (0 until 60).map { i =>
      val n = 3 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val k = 8
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    texts.foreach { case (_, t) =>
      if (t.length >= k) (0 to t.length - k).foreach { p =>
        val g = t.substring(p, p + k); counts(g) = counts.getOrElse(g, 0) + 1
      }
    }
    val expected = texts.filter(_._2.length >= k).map { case (id, t) =>
      val grams = (0 to t.length - k).map(p => t.substring(p, p + k))
      id -> ((grams.size.toLong, grams.count(g => counts(g) > 1).toLong))
    }.toMap
    val got = DedupOps.substringDup(texts.toDF("doc_id", "text"), k = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("sourceOverlap: identical groups estimate Jaccard 1, template-only overlap stays low") {
    val g12 = (0 until 30).map(i =>
      (i.toLong, s"some text number $i about topic ${i % 7} end", if (i < 15) "g1" else "g2"))
    val g3 = (0 until 15).map(i =>
      ((i + 100).toLong, s"some text number $i about topic ${i % 7} end", "g3"))
    val df = (g12 ++ g3).toDF("doc_id", "text", "source")
    val est = DedupOps.sourceOverlap(df, "source").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(est(("g1", "g3")) == 1.0, s"copied group must match every perm: $est")
    assert(est(("g1", "g2")) < 0.5, s"distinct contents must not estimate high: $est")
    assert(est.keySet == Set(("g1", "g2"), ("g1", "g3"), ("g2", "g3")))
  }

  test("statsCorr matches Spark's built-in corr/covar_pop to float tolerance") {
    val li = Tables.lineitem(spark, sfDir)
    val ours = StatsOps.statsCorr(li).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val ref = li.groupBy("l_returnflag")
      .agg(corr("l_quantity", "l_extendedprice").as("c"),
        covar_pop("l_quantity", "l_extendedprice").as("cv"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ours.foreach { case (flag, (c, cv)) =>
      assert(math.abs(c - ref(flag)._1) < 1e-9, s"corr($flag): $c vs ${ref(flag)._1}")
      assert(math.abs(cv - ref(flag)._2) / math.abs(ref(flag)._2) < 1e-9,
        s"covar($flag): $cv vs ${ref(flag)._2}")
    }
  }

  test("statsCorr on exact linear data: corr ~ 1, slope/intercept exact") {
    val li = (1 to 1000).map(i => ("X", i.toDouble % 50 + 1, (i.toDouble % 50 + 1) * 3 + 7))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val r = StatsOps.statsCorr(li).collect().head
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12, s"corr=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(4) - 3.0) < 1e-12, s"slope=${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 7.0) < 1e-9, s"intercept=${r.getDouble(5)}")
  }

  test("statsCorr is partitioning-invariant (exact integer sums)") {
    val li = Tables.lineitem(spark, sfDir)
    val a = StatsOps.statsCorr(li.repartition(32)).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val b = StatsOps.statsCorr(li.coalesce(1)).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // bitwise, not approximate: the whole point of the integer-cent sums
    assert(a == b)
  }

  test("statsCorr moment sums fail loudly on int64 overflow (ANSI), never wrap") {
    // yc = round(1e8 * 100) = 1e10; yc*yc = 1e20 > Long.MaxValue. The
    // documented domain bound: outside it the op must throw, not return
    // silently-wrapped garbage (production swaps to DECIMAL(38,0) sums).
    val li = Seq(("X", 1.0, 1.0e8), ("X", 2.0, 1.0e8))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val e = intercept[Exception] { StatsOps.statsCorr(li).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null &&
      (m.contains("ARITHMETIC_OVERFLOW") || m.toLowerCase.contains("overflow"))),
      s"expected an overflow error, got: $e")
  }

  test("quantiles: exact type-7 quartiles on a known set") {
    val li = Seq.tabulate(9)(i => ("Q", (i + 1).toDouble))    // 1..9
      .toDF("l_returnflag", "l_quantity")
    val r = StatsOps.quantiles(li).collect().head
    assert(r.getLong(1) == 9L)
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 5.0 && r.getDouble(4) == 7.0)
  }

  test("piiScrub redacts every planted email and IP and counts them") {
    val docs = Tables.documents(spark, sfDir)
    val out = TextOps.piiScrub(docs)
    val bad = out.filter(col("scrubbed").contains("@") ||
      col("scrubbed").rlike("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+")).count()
    assert(bad == 0, s"$bad rows with surviving PII")
    val counts = out.agg(sum("n_emails"), sum("n_ips")).collect().head
    assert(counts.getLong(0) == docs.count() && counts.getLong(1) == docs.count())
    assert(out.filter(col("scrubbed").contains("<EMAIL>") &&
      col("scrubbed").contains("<IP>")).count() == docs.count())
  }

  test("groupingSets emits exactly the requested sets from one Expand pass") {
    val li = Seq(("A", "F", 1.0), ("A", "F", 2.0), ("N", "O", 4.0), ("R", "F", 8.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
    val df = graft.ops.RelationalOps.pricingGroupingSets(li)
    val got = df.collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
      r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    assert(got == Set(
      (Some("A"), Some("F"), 2L, 3.0, 0L),
      (Some("N"), Some("O"), 1L, 4.0, 0L),
      (Some("R"), Some("F"), 1L, 8.0, 0L),
      (None, Some("F"), 3L, 11.0, 2L),      // per-status subtotal ONLY
      (None, Some("O"), 1L, 4.0, 2L)))      // no per-flag level, no grand total
    // fresh instance: the executed df's AQE plan prints initial+final
    val plan = graft.ops.RelationalOps.pricingGroupingSets(li)
      .queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).size == 1, s"expected ONE Expand:\n$plan")
  }

  test("cleanStream: stateless streaming corpus cleaning agrees with the batch composition") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      // passes gates; carries an email and an IP to scrub
      (1L, ("the a of and " + Seq.tabulate(30)(i => s"tok$i").mkString(" ") +
        " mail me at bob@corp.example.org or 192.168.0.7 ok"), "srcA"),
      (2L, "too short", "srcA"),                              // < minTokens: dropped
      (3L, ("the " * 30).trim, "srcB"))                       // stop_ratio 1: dropped
    val input = MemoryStream[(Long, String, String)]
    val out = graft.streaming.StreamingOps.cleanStream(
      input.toDF().toDF("doc_id", "text", "source"))
    // Append mode start proves the pipeline is stateless
    val query = out.writeStream.format("memory").queryName("clean_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("clean_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(4))).toList
      assert(got.map(_._1) == List(1L))
      val (_, src, clean, split) = got.head
      assert(src == "srcA" && !clean.contains("@") && !clean.contains("192.168"))
      assert(clean.contains("<EMAIL>") && clean.contains("<IP>"))
      // batch/stream parity on the same rows
      val batch = graft.streaming.StreamingOps.cleanStream(
        rows.toDF("doc_id", "text", "source")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(4))).toList
      assert(batch == got)
      assert(Set("train", "valid", "test").contains(split))
    } finally query.stop()
  }

  test("funnelConversion attributes purchases to the latest in-window view") {
    val us = 1000000L
    // user 1: view at t=0, purchase at t=30min (converted), purchase at
    // t=2h (view too old -> not converted); user 2: purchase with no
    // view ever; user 3: two views, purchase right after the second.
    val events = Seq(
      (10L, 0L * us, 1L, "view"),
      (11L, 1800L * us, 1L, "purchase"),
      (12L, 7200L * us, 1L, "purchase"),
      (20L, 100L * us, 2L, "purchase"),
      (30L, 0L * us, 3L, "view"),
      (31L, 5000L * us, 3L, "view"),
      (32L, 5001L * us, 3L, "purchase")
    ).toDF("event_id", "ts_us_in", "user_id", "event_type")
      .select(col("event_id"), (col("ts_us_in") * 1000).as("ts"),
        col("user_id"), col("event_type"))
    val got = graft.ops.EventOps.funnelConversion(events)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))).toMap
    assert(got(11L) == ((Some(0L), 1L)), s"in-window view converts: $got")
    assert(got(12L) == ((Some(0L), 0L)), "stale view attributed but not converted")
    assert(got(20L) == ((None, 0L)), "no view -> NULL attribution")
    assert(got(32L) == ((Some(5000L * us), 1L)), "latest of two views wins")
  }

  test("AQE runtime bloom filter prunes the big side of a selective fact join") {
    val s = spark
    import org.apache.spark.sql.internal.SQLConf
    val conf = s.sessionState.conf
    val keys = Seq(
      SQLConf.RUNTIME_BLOOM_FILTER_ENABLED.key ->
        conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_ENABLED).toString,
      SQLConf.RUNTIME_BLOOM_FILTER_CREATION_SIDE_THRESHOLD.key ->
        conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_CREATION_SIDE_THRESHOLD).toString,
      SQLConf.RUNTIME_BLOOM_FILTER_APPLICATION_SIDE_SCAN_SIZE_THRESHOLD.key ->
        conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_APPLICATION_SIDE_SCAN_SIZE_THRESHOLD).toString,
      "spark.sql.autoBroadcastJoinThreshold" ->
        s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      s.conf.set(SQLConf.RUNTIME_BLOOM_FILTER_ENABLED.key, "true")
      s.conf.set(SQLConf.RUNTIME_BLOOM_FILTER_CREATION_SIDE_THRESHOLD.key, "1GB")
      s.conf.set(SQLConf.RUNTIME_BLOOM_FILTER_APPLICATION_SIDE_SCAN_SIZE_THRESHOLD.key, "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  // force non-broadcast
      val dir = tempDir("bloom").toString
      s.range(0, 100000).select(col("id").as("fk"),
        (col("id") % 97).as("payload")).write.mode("overwrite")
        .parquet(s"$dir/fact")
      s.range(0, 100000).select(col("id").as("pk"),
        (col("id") % 7).as("cat")).write.mode("overwrite")
        .parquet(s"$dir/dim")
      val fact = s.read.parquet(s"$dir/fact")
      val dim = s.read.parquet(s"$dir/dim").filter(col("cat") === 3)  // selective
      val joined = fact.join(dim, col("fk") === col("pk"))
      val n = joined.count()
      assert(n == 100000L / 7 + (if (100000 % 7 > 3) 1 else 0))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"expected a runtime bloom filter on the fact side:\n${plan.take(2000)}")
    } finally keys.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("packSequences assigns contiguous fixed-budget packs per source") {
    // tokens: 3, 2, 2, 3 with capacity 4 -> exclusive prefixes 0,3,5,7
    // -> packs 0,0,1,1; the 2nd doc straddles the pack-0 boundary.
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "d e", "s1"), (3L, "f g", "s1"),
      (4L, "h i j", "s1"), (5L, "k", "s2")).toDF("doc_id", "text", "source")
    val got = graft.ops.TextOps.packSequences(docs, capacity = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      1L -> ((0L, 0L)), 2L -> ((0L, 3L)), 3L -> ((1L, 1L)),
      4L -> ((1L, 3L)), 5L -> ((0L, 0L))))
  }

  test("sourceMix is partitioning-invariant and honors per-source keep rates") {
    val docs = Tables.documents(spark, sfDir)
    val a = TextOps.sourceMix(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = TextOps.sourceMix(docs.repartition(7)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "mix must not depend on partitioning")
    val per = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a("src3") == per("src3"), "rate-1.0 source keeps everything")
    assert(a("src0") < per("src0"), "rate-0.25 source must downsample")
  }

  test("hashSplit is deterministic, total, and near the 90/5/5 design") {
    val docs = Tables.documents(spark, sfDir)
    val a = TextOps.hashSplit(docs).collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val b = TextOps.hashSplit(docs.repartition(13)).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(a == b, "split assignment must not depend on partitioning")
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.8 && frac("train") < 0.97, s"train=${frac("train")}")
    assert(frac.getOrElse("valid", 0.0) > 0.005 && frac.getOrElse("test", 0.0) > 0.005)
    assert(math.abs(frac.values.sum - 1.0) < 1e-9)
  }
}
