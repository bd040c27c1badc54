package graft

import graft.ops.{LayoutOps, SemanticOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Round-9 additions: the deterministic write path under the oracle gate
  * (VERDICT r8 item 1 — [[LayoutOps.writeClusteredExact]] /
  * [[LayoutOps.optimizeTableExact]] / [[LayoutOps.optimizeRoundtrip]]),
  * the tuned-config recall pair (item 2 —
  * [[SimilarityOps.annRecallMultiProbe]] / [[SimilarityOps.annRecallIvfPq]]),
  * and the three ADVICE r8 lows pinned as behavior.
  */
class Round9AdditionsSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference morton interleave (8 bits), for expectations
    * computed OUTSIDE the engine's expression machinery. */
  private def mortonRef(a: Long, b: Long): Long =
    (0 until 8).foldLeft(0L) { (acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  private def rmDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  test("writeClusteredExact: deterministic per-row assignment, one file per bin, disjoint monotone spans, lossless") {
    val rows = (0L until 4096L).map(i => (i, (i * 2654435761L) % 65536L))
      .toDF("id", "curve")
    val dir = tempDir("graft_wce").toString
    try {
      LayoutOps.writeClusteredExact(rows, s"$dir/a", "curve", 8)
      LayoutOps.writeClusteredExact(rows, s"$dir/b", "curve", 8)
      // one physical parquet file per bin directory — the compaction
      // contract (a bin split over several files would re-fragment)
      val binDirs = new java.io.File(s"$dir/a").listFiles
        .filter(_.getName.startsWith("file_bin=")).sortBy(_.getName)
      assert(binDirs.length == 8)
      binDirs.foreach { d =>
        assert(d.listFiles.count(_.getName.endsWith(".parquet")) == 1,
          s"${d.getName} must hold exactly one file")
      }
      // spans are disjoint and monotone in the bin id (bin(v) is
      // monotone in v), so zone maps prune boxes on the curve key
      val spans = spark.read.parquet(s"$dir/a")
        .groupBy(col("file_bin").cast("long").as("bin"))
        .agg(min("curve").as("lo"), max("curve").as("hi"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      spans.sliding(2).foreach {
        case Array((b0, _, hi0, _), (b1, lo1, _, _)) =>
          assert(b0 < b1 && hi0 < lo1,
            s"bins $b0/$b1 overlap: hi=$hi0 lo=$lo1")
        case _ => ()
      }
      // equi-depth: near-unique curve values ⇒ near-equal file sizes
      assert(spans.map(_._4).sum == 4096L)
      spans.foreach { case (b, _, _, n) =>
        assert(math.abs(n - 512L) <= 16L, s"bin $b holds $n rows")
      }
      // DETERMINISTIC: the second write produced the identical
      // (row → file) assignment — the reproducible-build property
      // repartitionByRange's sampling cannot give
      def assign(p: String) = spark.read.parquet(p)
        .select(col("id"), col("file_bin").cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(assign(s"$dir/a") == assign(s"$dir/b"))
      // lossless: every source row comes back exactly once
      assert(spark.read.parquet(s"$dir/a").select("id").as[Long]
        .collect().sorted.toSeq == (0L until 4096L))
      // NULL curve keys are dropped WITHOUT distorting the kept rows'
      // assignment (review-caught: a NULL histogram group would shift
      // every real value into later bins — leading bins empty, the rest
      // over target). 50% NULLs: the non-null half must still spread
      // equi-depth across ALL 8 bins.
      val withNulls = (0L until 4096L).map(i =>
        (i, if (i % 2L == 0L) Some((i * 2654435761L) % 65536L) else None))
        .toDF("id", "curve")
      LayoutOps.writeClusteredExact(withNulls, s"$dir/n", "curve", 8)
      val nSpans = spark.read.parquet(s"$dir/n")
        .groupBy(col("file_bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(nSpans.keySet == (0L until 8L).toSet,
        s"all 8 bins must be populated, got ${nSpans.keySet}")
      assert(nSpans.values.sum == 2048L)
      nSpans.foreach { case (b, n) =>
        assert(math.abs(n - 256L) <= 16L, s"bin $b holds $n of ~256 rows")
      }
    } finally rmDir(dir)
  }

  test("optimizeRoundtrip: read-back summary equals an independently computed equi-depth layout") {
    // synthetic documents: deterministic n_chars, all non-null
    val docs = (0L until 300L)
      .map(i => (i, "x" * (50 + (i * 37L % 400L)).toInt, 50L + i * 37L % 400L))
      .toDF("doc_id", "text", "n_chars")
    val dir = tempDir("graft_rt").toString
    try {
      val got = LayoutOps.optimizeRoundtrip(spark, docs, dir,
          targetBytes = 8192L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3))).toMap
      // independent expectation: reference morton + the planner's bin
      // count + the equi-depth rule, all in plain Scala
      val curves = (0L until 300L).map(i => mortonRef(i % 256L,
        (50L + i * 37L % 400L) % 256L))
      val nBins = LayoutOps.compactionPlan(
        LayoutOps.fileInventory(docs), targetBytes = 8192L)
        .agg(max("bin")).head().getLong(0) + 1
      assert(nBins >= 2, s"fixture must plan multiple files, got $nBins")
      val sortedC = curves.sorted
      def below(v: Long) = sortedC.count(_ < v).toLong
      val expected = curves.groupBy(v => below(v) * nBins / curves.size)
        .map { case (bin, vs) =>
          bin -> ((vs.size.toLong, vs.min, vs.max))
        }
      assert(got == expected)
      // and the on-disk directory count matches the summary's file count
      assert(new java.io.File(dir).listFiles
        .count(_.getName.startsWith("file_bin=")) == expected.size)
    } finally rmDir(dir)
  }

  test("optimizeTableExact/optimizeRoundtrip: empty table reports zero planner bins, zero files, empty summary") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "curve")
    val emptyInv = Seq.empty[(Long, Long)].toDF("file_id", "size_bytes")
    val dir = tempDir("graft_ote").toString
    try {
      assert(LayoutOps.optimizeTableExact(empty, emptyInv, s"$dir/e",
        "curve") == 0L)
      // no files for no rows — only the _SUCCESS marker remains
      assert(!new java.io.File(s"$dir/e").listFiles
        .exists(_.getName.endsWith(".parquet")))
      // the roundtrip's explicit read-back schema keeps the loop total
      val emptyDocs = Seq.empty[(Long, String, Long)]
        .toDF("doc_id", "text", "n_chars")
      assert(LayoutOps.optimizeRoundtrip(spark, emptyDocs,
        s"$dir/rt").isEmpty)
    } finally rmDir(dir)
  }

  test("recall suite: multi-probe dominates probe-1 per query; IVF-PQ recall well-formed on the same corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p1 = toMap(SimilarityOps.annRecall(emb))
    val mp = toMap(SimilarityOps.annRecallMultiProbe(emb))
    val pq = toMap(SimilarityOps.annRecallIvfPq(emb))
    val mt = toMap(SimilarityOps.annRecallMultiTable(emb))
    // same query set everywhere (LEFT join keeps 0-recall queries)
    assert(p1.keySet == mp.keySet && p1.keySet == pq.keySet &&
      p1.keySet == mt.keySet)
    // probing hamming-1 buckets is a candidate SUPERSET of probe-1 ⇒
    // recall can only go up, per query (the r8 VERDICT's "≥ the probe-1
    // number" done-condition); a second table's union is likewise a
    // superset of table 0 (= the probe-1 table)
    p1.keys.foreach { q =>
      assert(mp(q) >= p1(q), s"query $q: multiprobe ${mp(q)} < probe-1 ${p1(q)}")
      assert(mt(q) >= p1(q), s"query $q: multitable ${mt(q)} < probe-1 ${p1(q)}")
    }
    (mp.values ++ pq.values ++ p1.values ++ mt.values).foreach(v =>
      assert(v >= 0.0 && v <= 1.0))
  }

  test("packShardsDense: dense ids over distinct pack metadata only — rank input is the aggregate, ids are dense and order-stable") {
    import graft.ops.TextOps
    val docs = (0L until 200L).map { i =>
      (i, Seq.fill(16)("w").mkString(" "), s"src_${i % 3}")
    }.toDF("doc_id", "text", "source")
    val dense = TextOps.packShardsDense(docs, capacity = 64L, shards = 4)
    // plan shape (the VERDICT done-condition): the rank Window's input
    // subtree is the DISTINCT aggregate on (source, pack_id) — O(packs)
    // metadata — not the per-document packing rows
    val win = dense.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.getOrElse(fail("no Window in the optimized plan"))
    val agg = win.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.getOrElse(fail("rank input is not an aggregate — it would rank rows"))
    assert(agg.groupingExpressions.map(_.sql.toLowerCase).toSet
      .exists(_.contains("pack_id")) || agg.groupingExpressions.size == 2,
      s"distinct must group on (source, pack_id): ${agg.groupingExpressions}")
    // dense ids: 0..n_packs-1 with no gaps, following (source, pack_id)
    val rows = dense.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val packed = TextOps.packSequencesSharded(docs, 64L, 4)
    assert(rows.length ==
      packed.select("source", "pack_id").distinct().count().toInt)
    assert(rows.map(_._3).sorted.toSeq == (0L until rows.length.toLong),
      "dense ids must be gapless 0..n-1")
    assert(rows.sortBy(r => (r._1, r._2)).map(_._3).toSeq ==
      (0L until rows.length.toLong),
      "dense ids must follow the (source, pack_id) total order")
  }

  test("ingestIndexLoop: later batches know earlier batches' novel digests; compaction bounds the index files") {
    import graft.streaming.StreamingIngest
    val root = tempDir("graft_ingest_loop")
    val dir = java.nio.file.Files.createDirectory(root.resolve("media"))
    val indexDir = root.resolve("index").toString
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    try {
      val seeded = "seeded".getBytes
      // seed: the corpus already holds one payload
      Seq(md5hex(seeded)).toDF("digest").write.parquet(indexDir)
      val payloadA = "payload-a".getBytes
      java.nio.file.Files.write(dir.resolve("doc_0.img"), payloadA)
      java.nio.file.Files.write(dir.resolve("doc_1.aud"), seeded)
      val got = collection.mutable.ArrayBuffer.empty[(Long, String, Boolean)]
      val q = StreamingIngest.ingestIndexLoop(spark, dir.toString, indexDir) {
        (m, id) =>
          got ++= m.collect().map(r =>
            (id, r.getString(0), r.getAs[Boolean]("is_known")))
      }.start()
      try {
        q.processAllAvailable()
        val b0 = got.filter(_._1 == 0L).map(v => v._2 -> v._3).toMap
        // seeded payload known, novel payload not — and the novel digest
        // is now APPENDED to the live index
        assert(b0 == Map("doc_0.img" -> false, "doc_1.aud" -> true))
        // batch 1: a byte-identical COPY of batch 0's novel file must be
        // flagged known — the closed-loop behavior the frozen-index
        // manifestStream cannot give
        java.nio.file.Files.write(dir.resolve("dup_0.img"), payloadA)
        java.nio.file.Files.write(dir.resolve("doc_2.vid"), "novel-2".getBytes)
        q.processAllAvailable()
        val b1 = got.filter(_._1 > 0L).map(v => v._2 -> v._3).toMap
        assert(b1 == Map("dup_0.img" -> true, "doc_2.vid" -> false))
        assert(got.size == 4, s"files must be ingested exactly once: $got")
      } finally q.stop()
      // index holds exactly the 3 distinct digests ever seen
      val digests = spark.read.parquet(indexDir)
        .collect().map(_.getString(0)).toSet
      assert(digests == Set(md5hex(seeded), md5hex(payloadA),
        md5hex("novel-2".getBytes)))
      // maintenance: appends left ≥3 files; compaction bounds them and
      // keeps the digest set intact (SnapshotSwap publish)
      def files(p: String) = new java.io.File(p).listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(files(indexDir) >= 3)
      val (before, after) = StreamingIngest.compactDigestIndex(spark,
        indexDir, numFiles = 2)
      assert(before == 3L && after == 3L)
      assert(files(indexDir) == 2)
      assert(spark.read.parquet(indexDir).collect()
        .map(_.getString(0)).toSet == digests)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  test("decontaminateRecall threads evalMod to both gates and rejects offset-dividing mods (ADVICE r8)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val r = SemanticOps.decontaminateRecall(emb, evalMod = 10).head()
    val (nExact, nLsh) = (r.getLong(0), r.getLong(1))
    // the exact gate must catch at least the 50 planted identical copies
    // (cos = 1.0 to their eval originals) — if the gates ran at a
    // mismatched default evalMod, the planted set and the split would
    // disagree and this floor breaks
    assert(nExact >= 50L, s"exact gate removed $nExact < 50 planted")
    // LSH removals are a subset of exact removals by construction
    assert(nLsh <= nExact)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    // 3 divides 20001 ⇒ the planted copies would land EVAL-side and the
    // measurement would be against a mis-split — must fail loudly
    val err = intercept[IllegalArgumentException] {
      SemanticOps.decontaminateRecall(emb, evalMod = 3)
    }
    assert(err.getMessage.contains("planting"))
  }

  test("HilbertKernel.evalN: d*bits > 63 fails loudly instead of wrapping shifts (ADVICE r8)") {
    // d=4, bits=16 ⇒ 64 index bits: Java shifts would wrap mod 64 and
    // silently corrupt the key — the kernel must throw before that
    val df = Seq((1L, 2L, 3L, 4L)).toDF("a", "b", "c", "d")
      .select(graft.functions.hilbert.indexN(
        array(col("a"), col("b"), col("c"), col("d")), 16).as("h"))
    val err = intercept[Exception] { df.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(t =>
      t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("no longer fits one long")),
      s"expected the d*bits guard, got: $err")
    // the in-range path is untouched: d=4, bits=15 still evaluates
    val ok = Seq((1L, 2L, 3L, 4L)).toDF("a", "b", "c", "d")
      .select(graft.functions.hilbert.indexN(
        array(col("a"), col("b"), col("c"), col("d")), 15).as("h"))
      .head().getLong(0)
    assert(ok >= 0L)
  }

  test("driftGateQuantileStream: all-NULL reference fails fast with the descriptive error (ADVICE r8)") {
    val allNull = Seq[Option[Double]](None, None).toDF("value")
    val refHist = graft.streaming.StreamingClean
      .referenceHistogramQuantile(allNull, nBins = 4)
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingClean.driftGateQuantileStream(spark,
        spark.readStream.format("rate").load()
          .selectExpr("CAST(value AS DOUBLE) AS value"),
        refHist) { (_, _) => () }
    }
    assert(err.getMessage.contains("all-NULL"))
  }

  test("compactionRoundtrip: read-back summary equals an independently computed plan; one physical file per bin") {
    // synthetic documents in the real table's shape (the roundtrip's
    // declared read-back schema carries all five columns)
    val docs = (0L until 300L).map { i =>
      (i, "x" * (50 + (i * 37L % 400L)).toInt, "en", s"s${i % 3}",
        50L + i * 37L % 400L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_cmprt").toString
    try {
      val got = LayoutOps.compactionRoundtrip(spark, docs, dir,
          targetBytes = 8192L)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      // independent expectation in plain Scala: inventory → quota-fill
      // (size DESC, file_id; cum-before div target; dense renumber) →
      // per-row assignment via doc_id % 97
      val nchars = (0L until 300L).map(i => i -> (50L + i * 37L % 400L)).toMap
      val inv = nchars.groupBy(_._1 % 97L).view
        .mapValues(_.values.sum).toMap
      val ordered = inv.toSeq.sortBy { case (fid, sz) => (-sz, fid) }
      val rawBins = ordered.scanLeft(0L)(_ + _._2).init
        .map(_ / 8192L)
      val dense = rawBins.distinct.sorted.zipWithIndex.toMap
      val fileBin = ordered.map(_._1).zip(rawBins.map(b => dense(b).toLong)).toMap
      assert(fileBin.values.max >= 1L, "fixture must plan multiple bins")
      val expected = (0L until 300L).groupBy(i => fileBin(i % 97L))
        .map { case (bin, ids) =>
          bin -> ((ids.size.toLong, 1L, ids.min, ids.max,
            ids.map(nchars).sum))
        }
      assert(got == expected)
      // the on-disk tree matches: one parquet file inside every bin dir
      val binDirs = new java.io.File(dir).listFiles
        .filter(_.getName.startsWith("bin="))
      assert(binDirs.length == expected.size)
      binDirs.foreach { d =>
        assert(d.listFiles.count(_.getName.endsWith(".parquet")) == 1,
          s"${d.getName} must hold exactly one file")
      }
    } finally rmDir(dir)
  }

  test("annRecallFunnel: exact when the shortlist covers the corpus; well-formed on the default config") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    // shortlist >= corpus-1 shortlists EVERY candidate, and the funnel's
    // rerank is exact full-dim cosine — recall must be exactly 1.0 for
    // every query (the property that isolates the projection as the
    // funnel's only approximation source)
    SimilarityOps.recallAtK(
        SimilarityOps.cosineTopK(emb, 10, 5),
        SimilarityOps.annProjectRerank(emb, 10, 5, shortlist = n))
      .collect().foreach(r => assert(r.getDouble(1) == 1.0,
        s"query ${r.getLong(0)}: full-shortlist funnel recall ${r.getDouble(1)}"))
    // default config: same query set as the probe-1 baseline, bounded
    val p1 = SimilarityOps.annRecall(emb).collect()
      .map(r => r.getLong(0)).toSet
    val fn = SimilarityOps.annRecallFunnel(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fn.keySet == p1)
    fn.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("splitLeakage: a planted near-dup pair straddling train/test is reported; within-split twins are not") {
    import graft.ops.{DedupOps, TextOps}
    // md5-verified split homes: 0→train, 44→test, 1,2→train
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val docs = Seq(
      (0L, base),                      // train
      (44L, base + " extra"),          // test — near-dup of 0 ⇒ LEAK
      (1L, "completely different words about ships and harbors and " +
        "tides and the long voyage home across the winter sea"),
      (2L, "completely different words about ships and harbors and " +
        "tides and the long voyage home across the winter seas")
        // 1↔2 near-dup, both train ⇒ NOT a leak
    ).toDF("doc_id", "text")
    // sanity-pin the planted homes against the engine's own labeler —
    // if the split rule ever changes, this fails loudly instead of
    // silently testing nothing
    val homes = docs.select(col("doc_id"),
        TextOps.splitLabel(TextOps.splitBucket(col("doc_id"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(homes(0L) == "train" && homes(44L) == "test" &&
      homes(1L) == "train" && homes(2L) == "train", s"split homes moved: $homes")
    val leaks = DedupOps.splitLeakage(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // exactly the one crossing, counted once, with a high verified J
    assert(leaks.keySet == Set(("train", "test")), s"got $leaks")
    val (n, j) = leaks(("train", "test"))
    assert(n == 1L && j > 0.5, s"n=$n j=$j")
  }

  test("splitLeakageSemantic: crossings equal an independent md5-labeled regroup of the engine's pair set") {
    import graft.ops.SimilarityOps
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // independent labeler: plain JVM md5 of the decimal id string —
    // no Spark expressions shared with the operator under test
    def label(id: Long): String = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val bucket = java.lang.Byte.toUnsignedInt(b(0))
      if (bucket < 230) "train" else if (bucket < 243) "valid" else "test"
    }
    val pairs = SimilarityOps.embeddingNearDupLsh(emb)
      .select("vec_a", "vec_b", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = pairs
      .map { case (a, b, s) => (label(a), label(b)) -> s }
      .filter { case ((sa, sb), _) => sa != sb }
      .groupBy(_._1)
      .map { case (k, vs) => k -> ((vs.length.toLong, vs.map(_._2).max)) }
    assert(expected.nonEmpty, "fixture must contain at least one crossing")
    val got = SimilarityOps.splitLeakageSemantic(emb)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
  }

  test("leakageSafeSplit: clusters are split-atomic (zero crossing pairs), singletons keep the hash split") {
    import graft.ops.{DedupOps, TextOps}
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val docs = Seq(
      (0L, base),             // hash-home train
      (44L, base + " extra"), // hash-home test; near-dup of 0 — the leak
      (1L, "completely different words about ships and harbors and " +
        "tides and the long voyage home across the winter sea"),
      (2L, "completely different words about ships and harbors and " +
        "tides and the long voyage home across the winter seas"),
      (7L, "a singleton document with its own vocabulary entirely " +
        "about volcanoes basalt magma chambers and slow eruptions")
    ).toDF("doc_id", "text")
    val assigned = DedupOps.leakageSafeSplit(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(assigned.keySet == Set(0L, 44L, 1L, 2L, 7L))
    // the hash-split leak (0 train / 44 test) is healed: the cluster
    // follows its canonical label min(0,44)=0 — both land in 0's home
    assert(assigned(0L) == assigned(44L))
    val label0 = docs.sparkSession.range(1).select(
      TextOps.splitLabel(TextOps.splitBucket(lit(0L))).as("s"))
      .head().getString(0)
    assert(assigned(0L) == label0)
    // the 1↔2 cluster stays together under label 1's home
    assert(assigned(1L) == assigned(2L))
    // a singleton keeps its own content-addressed assignment
    val label7 = docs.sparkSession.range(1).select(
      TextOps.splitLabel(TextOps.splitBucket(lit(7L))).as("s"))
      .head().getString(0)
    assert(assigned(7L) == label7)
    // the property the operator exists for: NO verified near-dup pair
    // crosses the boundary (transitively — via the component labels)
    val crossings = DedupOps.minhashPairs(docs)
      .select("doc_a", "doc_b").collect()
      .count(r => assigned(r.getLong(0)) != assigned(r.getLong(1)))
    assert(crossings == 0, s"$crossings near-dup pairs cross splits")
  }

  test("crossSourceDupMatrix: mirror pairs land off-diagonal; cells regroup the engine's own pair set") {
    import graft.ops.DedupOps
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val docs = Seq(
      (0L, base, "web"),
      (44L, base + " extra", "mirror"),   // cross-source near-dup
      (1L, "completely different words about ships and harbors and " +
        "tides and the long voyage home across the winter sea", "web"),
      (2L, "completely different words about ships and harbors and " +
        "tides and the long voyage home across the winter seas", "web")
        // within-source near-dup — the diagonal cell
    ).toDF("doc_id", "text", "source")
    // independent regroup of the engine's pair set by the source map
    val srcOf = Map(0L -> "web", 44L -> "mirror", 1L -> "web", 2L -> "web")
    val pairs = DedupOps.minhashPairs(docs.select("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = pairs
      .map { case (a, b, j) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        (if (sa <= sb) (sa, sb) else (sb, sa)) -> j
      }
      .groupBy(_._1)
      .map { case (k, vs) => k -> ((vs.length.toLong, vs.map(_._2).max)) }
    assert(expected.keySet == Set(("mirror", "web"), ("web", "web")),
      s"fixture pairs moved: ${expected.keySet}")
    val got = DedupOps.crossSourceDupMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
  }
}
