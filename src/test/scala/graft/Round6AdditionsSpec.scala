package graft

import graft.model.ExchangeRates
import graft.ops.{DedupOps, PaymentOps, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-6 additions: ExactSubstr span removal, decimal-exact payments,
  * up-sampling source mix and pack span manifests.
  */
class Round6AdditionsSpec extends SparkSpec {
  import spark.implicits._

  // ---- substringDedup: ExactSubstr span removal ----

  test("substringDedup removes planted duplicated spans, keeps first occurrence, leaves singletons untouched") {
    // NB: fixture texts must not repeat any 10-gram WITHIN a doc either —
    // the operator correctly removes those too (within-doc dedup)
    val shared = "0123456789abcdefghijklmnopqrstuvwxyz" // 36 chars >> k=10
    val docs = Seq(
      (1L, s"earliest holder text $shared tail-one-unique"),
      (2L, s"second doc opens uniquely $shared and closes otherwise"),
      (3L, "a wholly unique document with no repeated spans at all")
    ).toDF("doc_id", "text")
    val got = DedupOps.substringDedup(docs, k = 10).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // doc 1 holds the global first occurrence of every shared gram: intact
    assert(got(1L) == s"earliest holder text $shared tail-one-unique")
    // doc 2: exactly the shared span (incl. the shared surrounding spaces,
    // which are part of the common substring) is excised; unique head/tail
    // survive and abut where the span was removed
    assert(got(2L) == "second doc opens uniquelyand closes otherwise", s"got ${got(2L)}")
    // singleton untouched
    assert(got(3L) == "a wholly unique document with no repeated spans at all")
  }

  test("substringDedup: exact duplicate document comes back empty; within-doc repeats keep the first copy") {
    val text = "repeated paragraph that appears in both documents verbatim"
    val docs = Seq(
      (1L, text),
      (2L, text),                       // exact dup of doc 1 -> fully removed
      (5L, "zz " + "limerick rhyming couplet " * 3) // within-doc repetition
    ).toDF("doc_id", "text")
    val got = DedupOps.substringDedup(docs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList.sortBy(_._1)
    assert(got(0)._3 == text)
    assert(got(1)._3 == "", s"exact dup must be fully removed, got '${got(1)._3}'")
    // the within-doc repeat keeps its first occurrence. Coverage starts at
    // the FIRST repeated gram: " limerick " first occurs at position 3
    // ("zz limerick…"), repeats at 28 and 53, so chars 28.. are removed
    // and exactly the 27-char first copy survives.
    assert(got(2)._3 == "zz limerick rhyming couplet", s"got '${got(2)._3}'")
    assert(got(2)._2 == 27L)
  }

  test("substringDedup emits every input document, short docs pass through") {
    val docs = Seq((1L, "tiny"), (2L, "also tiny")).toDF("doc_id", "text")
    val got = DedupOps.substringDedup(docs, k = 20).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "tiny", 2L -> "also tiny"))
  }

  // ---- convertDecimal: BigDecimal-exact conversion ----

  test("convertDecimal matches java BigDecimal multiply exactly at the 1.9e6-scale boundary") {
    val rates = ExchangeRates.ratesDF(spark)
    // 1.9e8 cents × 1.313558 — SURVEY §7 risk 1's boundary product; plus
    // an awkward odd amount that exercises all six rate decimals
    val payments = Seq(
      (1L, "USD", 190000000L, 1000L),
      (2L, "USD", 123456789L, 1000L),
      (3L, "CAN", 999999999999L, 1000L) // 12 digits: max before loud overflow
    ).toDF("k", "currency", "amount", "ts")
    val got = PaymentOps.convertDecimal(payments, rates).collect()
      .map(r => r.getLong(0) -> r.getDecimal(4)).toMap
    val rateOf = ExchangeRates.rates.toMap
    for ((k, cur, amt) <- Seq((1L, "USD", 190000000L), (2L, "USD", 123456789L),
                              (3L, "CAN", 999999999999L))) {
      val want = new java.math.BigDecimal(amt).multiply(rateOf(cur)).setScale(6)
      assert(got(k).compareTo(want) == 0, s"k=$k got ${got(k)} want $want")
    }
  }

  test("convertDecimal overflows loudly past 12 digits instead of drifting") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true") // loud-overflow contract
    try {
      val rates = ExchangeRates.ratesDF(spark)
      val payments = Seq((1L, "USD", 1000000000000L, 1000L))
        .toDF("k", "currency", "amount", "ts")
      val e = intercept[Exception] {
        PaymentOps.convertDecimal(payments, rates).collect()
      }
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.toLowerCase.contains("overflow") || msg.contains("cannot be represented")
        || msg.contains("NUMERIC_VALUE_OUT_OF_RANGE"), s"unexpected error: $msg")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("naive DECIMAL(38,18) multiply silently loses scale — why convertDecimal picks exact scales") {
    // Both operands at (38,18): Spark's precision-loss rule must shrink the
    // result scale below 18 — the trap the chosen (12,0)×(18,6) avoids.
    val df = Seq((new java.math.BigDecimal("1900000.000000000000000000"),
                  new java.math.BigDecimal("1.313558000000000000")))
      .toDF("a", "b")
      .select(col("a").cast(DecimalType(38, 18)).as("a"),
        col("b").cast(DecimalType(38, 18)).as("b"))
      .select((col("a") * col("b")).as("p"))
    val scale = df.schema("p").dataType.asInstanceOf[DecimalType].scale
    assert(scale < 18, s"expected precision-loss scale < 18, got $scale")
  }

  // ---- up-sampling source mix ----

  test("upsampledDocs: rate 2.5 gives 2 or 3 deterministic copies, rate 0 drops, rate 1 keeps exactly one") {
    val docs = (0L until 256L).map(i =>
      (i, s"text $i", "en", if (i % 2 == 0) "rich" else "scarce", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val up = TextOps.upsampledDocs(docs, Map("scarce" -> 2.5, "rich" -> 1.0))
    val perDoc = up.groupBy("doc_id", "source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(perDoc.filter(_._2 == "rich").forall(_._3 == 1L))
    assert(perDoc.filter(_._2 == "scarce").forall(t => t._3 == 2L || t._3 == 3L))
    // fractional extras are content-addressed: ~half the scarce docs get 3
    val n3 = perDoc.count(t => t._2 == "scarce" && t._3 == 3L)
    assert(n3 > 25 && n3 < 103, s"expected ~64 of 128 triples, got $n3")
    // copy indices are 1..n_copies
    val copies = up.filter(col("source") === "scarce")
      .groupBy("doc_id").agg(sort_array(collect_list("copy")).as("cs"))
      .collect().map(_.getSeq[Long](1))
    assert(copies.forall(cs => cs == (1L to cs.length)))
  }

  test("upsampledDocs is invariant under input partitioning") {
    val docs = (0L until 200L).map(i => (i, s"t$i", "en", s"src${i % 4}", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rates = Map("src0" -> 3.0, "src1" -> 1.5, "src2" -> 0.25)
    def runOn(parts: Int) =
      TextOps.upsampledDocs(docs.repartition(parts), rates)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    assert(runOn(7) == runOn(3))
  }

  test("sub-1/512 rates round to zero keeps; 1/300 rounds to 1/256 (documented granularity)") {
    val docs = (0L until 512L).map(i => (i, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.upsampledDocs(docs, Map("s" -> 0.0005)).count() == 0L)
    val kept = TextOps.upsampledDocs(docs, Map("s" -> 1.0 / 300)).count()
    assert(kept > 0L, "1/300 must round UP to the 1/256 grid, not floor to 0")
  }

  // ---- pack spans ----

  test("packSpans straddle semantics: a straddling doc stays whole in its start pack; next pack opens at the spill") {
    // capacity 10; three 6-token docs in one source: cum_excl 0, 6, 12
    val docs = Seq(
      (1L, "a b c d e f", "en", "s", 11L),
      (2L, "g h i j k l", "en", "s", 11L),
      (3L, "m n o p q r", "en", "s", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.packSpans(docs, capacity = 10)
      .select("pack_id", "n_docs", "pack_tokens", "spans")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toList
    // doc 2 starts at offset 6 (< capacity) so it BELONGS to pack 0 and
    // runs past the boundary: pack 0 carries 12 tokens
    assert(got == List(
      (0L, 2L, 12L, "1:0:6,2:6:6"),
      (1L, 1L, 6L, "3:2:6")), s"got $got")
  }

  test("packSpans spans_arr is the typed mirror of the spans string") {
    val docs = Tables3.docs(spark)
    val rows = TextOps.packSpans(docs, capacity = 64).collect()
    rows.foreach { r =>
      val arr = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("spans_arr"))
      val fromArr = arr.map(x => s"${x.getLong(1)}:${x.getLong(0)}:${x.getLong(2)}").mkString(",")
      assert(fromArr == r.getString(r.fieldIndex("spans")))
      // offsets strictly increasing within a pack
      val offs = arr.map(_.getLong(0))
      assert(offs == offs.sorted && offs.distinct.length == offs.length)
    }
  }

  // ---- boundary-splitting packing ----

  test("packSplit: fragments reassemble documents exactly and fill every non-final pack to capacity") {
    val docs = Tables3.docs(spark)
    val frags = TextOps.packSplit(docs, capacity = 16).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val tokensOf = docs.select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per doc: fragment lengths sum to n_tokens; doc_offsets tile [0, n)
    frags.groupBy(_._1).foreach { case (id, fs) =>
      assert(fs.map(_._6).sum == tokensOf(id), s"doc $id fragments don't cover it")
      val sorted = fs.sortBy(_._4)
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._6 == b._4, s"doc $id gap at ${b._4}")
        case _ =>
      }
    }
    // per (source, pack): every pack except the last is exactly full,
    // and pack_offset+frag_len tiles [0, capacity)
    frags.groupBy(f => (f._2, f._3)).foreach { case ((src, pid), fs) =>
      val lastPack = frags.filter(_._2 == src).map(_._3).max
      val filled = fs.map(_._6).sum
      if (pid < lastPack) assert(filled == 16L, s"pack ($src,$pid) holds $filled")
      val sorted = fs.sortBy(_._5)
      assert(sorted.head._5 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._6 == b._5)
        case _ =>
      }
    }
    // straddlers really split: with 16-token packs over 1..7-token docs
    // some doc must cross a boundary
    assert(frags.groupBy(_._1).exists(_._2.length > 1), "fixture has no straddler")
  }

  test("packSplit agrees with packSequences on each document's FIRST fragment") {
    val docs = Tables3.docs(spark)
    val whole = TextOps.packSequences(docs, capacity = 16).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val firstFrag = TextOps.packSplit(docs, capacity = 16).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1).map { case (id, fs) => id -> fs.minBy(_._3) }
    firstFrag.foreach { case (id, (_, pid, _, poff)) =>
      assert(whole(id) == (pid, poff),
        s"doc $id: packSequences says ${whole(id)}, packSplit first fragment ($pid, $poff)")
    }
  }

  // ---- upsampling is streaming-safe (stateless Append) ----

  test("upsampledDocs runs as a stateless streaming stage with batch-identical output") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = (0L until 50L).map(i => (i, s"t$i", "en", s"src${i % 2}", i))
    val batch = TextOps.upsampledDocs(
      rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
      Map("src0" -> 2.5)).collect().map(_.toSeq).toSet

    val input = MemoryStream[(Long, String, String, String, Long)]
    val stream = TextOps.upsampledDocs(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      Map("src0" -> 2.5))
    val query = stream.writeStream.format("memory").queryName("upsample_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("upsample_stream").collect().map(_.toSeq).toSet
      assert(got == batch)
      assert(query.lastProgress.stateOperators.isEmpty, "must be stateless")
    } finally query.stop()
  }

  // ---- corpusShuffle: deterministic sharded training order ----

  test("corpusShuffle: every doc exactly once, contiguous 1-based pos per shard, partitioning-invariant") {
    val docs = Tables3.docs(spark)
    val out = TextOps.corpusShuffle(docs).collect()
    assert(out.length == 60)
    assert(out.map(_.getLong(2)).toSet == (0L until 60L).toSet)
    // per-shard positions are 1..n with no gaps (a loader can seek by pos)
    out.groupBy(_.getLong(0)).foreach { case (shard, rows) =>
      val ps = rows.map(_.getLong(1)).sorted
      assert(ps.toList == (1L to rows.length).toList, s"shard $shard: $ps")
    }
    // identical output under a different physical partitioning
    val re = TextOps.corpusShuffle(docs.repartition(13)).collect()
    assert(re.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      .sameElements(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted))
  }

  test("corpusShuffle: a seed change is a genuine reshuffle") {
    val docs = Tables3.docs(spark)
    def order(seed: String) = TextOps.corpusShuffle(docs, seed).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).sortBy(_._1).map(_._2)
    assert(!order("42").sameElements(order("43")))
  }

  // ---- tokenBudgetMix: per-source token budgets ----

  test("tokenBudgetMix keeps a prefix of the shuffle order per source, budget + one straddler max") {
    val docs = Tables3.docs(spark)
    val budget = 20L
    val kept = TextOps.tokenBudgetMix(docs, budget).collect()
    assert(kept.nonEmpty)
    kept.foreach(r => assert(r.getLong(3) < budget)) // every kept doc STARTS under budget
    // per source: total kept tokens < budget + the one straddling doc
    kept.groupBy(_.getString(1)).foreach { case (src, rows) =>
      val total = rows.map(_.getLong(2)).sum
      val maxDoc = rows.map(_.getLong(2)).max
      assert(total < budget + maxDoc, s"$src overshot: $total")
    }
    // prefix-closed: a kept doc's cum_excl equals the token sum of kept
    // docs ordered before it (nothing inside the budget was skipped)
    kept.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      sorted.foldLeft(0L) { (acc, r) =>
        assert(r.getLong(3) == acc); acc + r.getLong(2)
      }
    }
  }

  test("tokenBudgetMix with an ample budget keeps every document") {
    val docs = Tables3.docs(spark)
    assert(TextOps.tokenBudgetMix(docs, budget = 1000000L).count() == 60)
  }

  // ---- stratifiedSample: exact-k per source ----

  test("stratifiedSample: exactly k per large stratum, whole stratum when smaller, partitioning-invariant") {
    val docs = Tables3.docs(spark) // 3 sources x 20 docs
    val got = TextOps.stratifiedSample(docs, k = 5).collect()
    got.groupBy(_.getString(0)).foreach { case (src, rows) =>
      assert(rows.length == 5, s"$src: ${rows.length}")
      assert(rows.map(_.getLong(1)).sorted.toList == (1L to 5L).toList)
    }
    // small stratum: k above stratum size returns the whole stratum
    assert(TextOps.stratifiedSample(docs, k = 100).count() == 60)
    // physical partitioning cannot change the sample
    val re = TextOps.stratifiedSample(docs.repartition(17), k = 5).collect()
    assert(re.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      .sameElements(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted))
  }

  // ---- qualityPercentileFilter: adaptive threshold ----

  test("qualityPercentileFilter keeps the top half by the corpus's own median, adapts to the mix") {
    // quality_score = min(1, n_tokens/100) * (1 - stop_ratio); no stopwords
    // here, so score is monotone in token count and the median is exact
    def mk(texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val docs = mk(Seq.tabulate(9)(i => Seq.fill(10 * (i + 1))("w").mkString(" ")))
    val kept = TextOps.qualityPercentileFilter(docs).collect()
    // 9 docs, p50 = doc with 50 tokens (score 0.5): docs 4..8 survive
    assert(kept.map(_.getLong(0)).sorted.toList == List(4L, 5L, 6L, 7L, 8L))
    assert(kept.forall(_.getDouble(3) == 0.5))
    // a richer corpus moves the cut without any parameter change
    val docs2 = mk(Seq.tabulate(9)(i => Seq.fill(10 * (i + 1) + 40)("w").mkString(" ")))
    val kept2 = TextOps.qualityPercentileFilter(docs2).collect()
    assert(kept2.head.getDouble(3) == 0.9)
  }

  // ---- dedupCanonical: representative per cluster ----

  test("dedupCanonical keeps the longest doc per cluster with min-doc_id tie-break") {
    // two near-dup families sharing shingles + one singleton (no pair,
    // so no cluster row). Shingle k in minhashPairs is word-based; make
    // near-identical long docs so Jaccard >= 0.5 within families only.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, base + " alpha"),                   // family A, 6 extra chars
      (11L, base + " alpha beta gamma"),        // family A, LONGEST
      (12L, base),                              // family A, shortest
      (20L, "x " + base.replace("tok", "yy")),  // family B
      (21L, "x " + base.replace("tok", "yy")),  // family B exact dup, same len -> min id wins
      (99L, "entirely unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupCanonical(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.length == 2, s"expected 2 clusters, got ${got.mkString(",")}")
    val Array((laba, repa, sizea), (labb, repb, sizeb)) = got
    assert(laba == 10L && repa == 11L && sizea == 3L) // longest wins
    assert(labb == 20L && repb == 20L && sizeb == 2L) // equal len -> min doc_id
  }

  test("dedupCanonicalFrom on precomputed labels equals the one-shot operator") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, base + " alpha"), (11L, base + " alpha beta gamma"), (12L, base),
      (99L, "entirely unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    val labels = DedupOps.nearDupClusters(docs)
    val a = DedupOps.dedupCanonical(docs).collect().map(_.toSeq).toSet
    val b = DedupOps.dedupCanonicalFrom(docs, labels).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  // ---- contaminationScore: fractional benchmark overlap ----

  test("contaminationScore: full overlap scores 1.0, zero overlap 0.0, partial in between") {
    val gram = (1 to 8).map(i => s"g$i").mkString(" ") // exactly one 8-gram
    val docs = Seq(
      (50L, gram, "en", "s", 0L),               // benchmark doc (id % 50 == 0)
      (1L, gram, "en", "s", 0L),                // fully contaminated
      (2L, "a b c d e f g h", "en", "s", 0L),   // clean, exactly 1 gram
      (3L, gram + " tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.contaminationScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((1L, 1L, 1.0)))
    assert(got(2L) == ((1L, 0L, 0.0)))
    // doc 3: 9 distinct grams, exactly the first matches the benchmark
    assert(got(3L)._1 == 9L && got(3L)._2 == 1L && got(3L)._3 == 1.0 / 9.0)
  }

  test("streaming contamination scoring agrees with the batch operator, stateless in Append mode") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bench = "the quick brown fox jumps over the lazy dog tonight"
    val train = Seq(
      (1L, s"prefix $bench suffix"),
      (2L, "a clean document with enough words to have eight grams of its own"),
      (3L, "short doc"))                                   // < n tokens: no row
    // batch reference: same docs with the benchmark in the % 50 == 0 slice
    val batchDocs = ((50L, bench) +: train)
      .map { case (id, t) => (id, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val expect = DedupOps.contaminationScore(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val benchDigests = bench.split(" ").sliding(8)
      .map(w => graft.functions.Hashing.md5Hex(w.mkString(" "))).toSet
    val input = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingOps.contaminationScoreStream(
      spark, input.toDF().toDF("doc_id", "text"), benchDigests)
    val query = out.writeStream.format("memory").queryName("contam_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      input.addData(train: _*)
      query.processAllAvailable()
      val got = spark.table("contam_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expect, s"stream $got != batch $expect")
      assert(got.map(_._1) == Set(1L, 2L)) // doc 3 below n tokens
    } finally query.stop()
  }

  test("contaminationScore is consistent with the decontaminate gate") {
    val docs = Tables3.docs(spark).filter(length(col("text")) > 0)
    // decontaminate drops exactly the docs contaminationScore marks frac > 0
    val scored = DedupOps.contaminationScore(docs, n = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val kept = DedupOps.decontaminate(docs, n = 3).collect().map(_.getLong(0)).toSet
    scored.foreach { case (id, frac) =>
      assert(kept.contains(id) == (frac == 0.0), s"doc $id frac=$frac kept=${kept.contains(id)}")
    }
  }
}

/** Tiny shared fixture: a deterministic multi-source documents frame. */
private object Tables3 {
  def docs(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    (0L until 60L).map { i =>
      (i, (0 to (i % 7).toInt).map(j => s"w$j").mkString(" "), "en", s"src${i % 3}", i)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
