package graft

import graft.ops.StatsOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Round-8 additions, part 1: the regime-selecting [[StatsOps.quantileBins]]
  * (VERDICT r7 item 1). The selector itself is a pure function pinned
  * exactly; the two EXACT regimes are pinned bitwise-identical (same
  * multiset ⇒ same type-7 boundaries, regardless of whether they derive
  * raw or frequency-weighted); the APPROX regime is pinned within the
  * documented rank-ε of exact on a near-unique synthetic domain — the
  * regime that exists precisely for domains where the exact reducer
  * buffer would be unbounded.
  */
class Round8AdditionsSpec extends SparkSpec {
  import spark.implicits._

  test("binRegime: row/distinct thresholds select raw -> hist -> approx") {
    assert(StatsOps.binRegime(1000L, 1000L) == "raw_exact")
    assert(StatsOps.binRegime(4000000L, 999L) == "raw_exact") // bound inclusive
    assert(StatsOps.binRegime(4000001L, 999L) == "hist_exact")
    assert(StatsOps.binRegime(4000001L, 16000000L) == "hist_exact")
    assert(StatsOps.binRegime(4000001L, 16000001L) == "approx")
    // the knobs the spec + decade harness force regimes with
    assert(StatsOps.binRegime(10L, 10L, rawMaxRows = 0L) == "hist_exact")
    assert(StatsOps.binRegime(10L, 10L, rawMaxRows = 0L,
      histMaxDistinct = 0L) == "approx")
  }

  test("quantileBins: raw and hist exact regimes are bitwise-identical") {
    // mixed-tie domain: some near-unique cents, some heavy ties
    val li = ((1 to 5000).map(i => ((i * 37) % 1000 + i).toDouble / 100.0)
      ++ Seq.fill(500)(7.77)).toDF("l_extendedprice")
    def keyed(rows: Array[Row]): Seq[(Long, Long, Double, Double)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    val raw = keyed(StatsOps.quantileBins(li).collect()) // 5500 rows -> raw_exact
    val hist = keyed(StatsOps.quantileBins(li, rawMaxRows = 0L).collect())
    assert(raw == hist)
    assert(raw.map(_._2).sum == 5500L)
  }

  test("quantileBins: approx regime agrees with exact within rank-ε on a near-unique domain") {
    val n = 40000
    // near-unique cents 1..40000 — the domain where the exact histogram
    // cannot compress and a 100 TB run would engage the sketch
    val li = (1 to n).map(i => i.toDouble / 100.0).toDF("l_extendedprice")
    def counts(rows: Array[Row]): Map[Long, Long] =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = counts(StatsOps.quantileBins(li).collect())
    val approx = counts(StatsOps.quantileBins(li, rawMaxRows = 0L,
      histMaxDistinct = 0L).collect())
    assert(exact.keySet == approx.keySet) // all 8 bins populated in both
    assert(approx.values.sum == n.toLong) // assignment is total either way
    // approx_percentile(accuracy=10000) bounds each boundary's rank error
    // by n/accuracy (= 4 here); a bin's population moves by at most its
    // two boundary errors (+slack for interpolation-vs-actual-value)
    val tol = 2L * (n / 10000) + 2
    exact.foreach { case (bin, cnt) =>
      assert(math.abs(cnt - approx(bin)) <= tol,
        s"bin $bin: exact=$cnt approx=${approx(bin)} tol=$tol")
    }
  }

  test("driftCheckQuantile: equi-depth grid from pooled quantiles, exact by hand") {
    // ts in epoch NANOS; mid at 52 µs. Pooled cents 100..800 → type-7
    // quartile boundaries 275 / 450 / 625; early holds buckets 0-1,
    // late holds buckets 2-3, each bucket exactly 2 rows of one side.
    val early = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
    val late = Seq((101L, 5.0), (102L, 6.0), (103L, 7.0), (104L, 8.0))
    val ev = (early ++ late).map { case (us, v) => (us * 1000L, v) }
      .toDF("ts", "value")
    val out = StatsOps.driftCheckQuantile(ev, nBins = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L)) // equi-depth: all populated
    Seq(0L, 1L).foreach { b =>
      assert(out(b).getAs[Long]("n_a") == 2 && out(b).getAs[Long]("n_b") == 0)
    }
    Seq(2L, 3L).foreach { b =>
      assert(out(b).getAs[Long]("n_a") == 0 && out(b).getAs[Long]("n_b") == 2)
    }
    // every bucket: (.5−0)²/((.5+0)/2) = 1.0 — total drift, equal power
    out.values.foreach(r =>
      assert(math.abs(r.getAs[Double]("contrib") - 1.0) < 1e-12))
    // identical halves ⇒ zero drift on the same grid
    val same = (early ++ early.map { case (us, v) => (us + 100L, v) })
      .map { case (us, v) => (us * 1000L, v) }.toDF("ts", "value")
    assert(StatsOps.driftCheckQuantile(same, nBins = 4).collect()
      .forall(_.getAs[Double]("contrib") == 0.0))
    // the heavy-tail case fixed-width goes blind to: 7 clustered values
    // + 1 far outlier. width=50 puts the whole cluster in ONE bucket, so
    // a within-cluster shift is invisible; the quantile grid resolves it.
    val clusterEarly = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 2.0))
    val clusterLate = Seq((101L, 2.0), (102L, 2.0), (103L, 2.0), (104L, 900.0))
    val tail = (clusterEarly ++ clusterLate).map { case (us, v) => (us * 1000L, v) }
      .toDF("ts", "value")
    val fixed = StatsOps.driftCheck(tail, width = 50.0).collect()
      .filter(r => !r.isNullAt(r.fieldIndex("contrib")))
    val quant = StatsOps.driftCheckQuantile(tail, nBins = 4).collect()
      .filter(r => !r.isNullAt(r.fieldIndex("contrib")))
    def totalDrift(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(_.getAs[Double]("contrib")).sum
    assert(totalDrift(quant) > totalDrift(fixed),
      s"quantile grid must out-resolve fixed-width on the clustered tail: " +
        s"${totalDrift(quant)} vs ${totalDrift(fixed)}")
  }

  test("packSequencesSharded: shard-encoded ids, shard-local quota-fill, exact offsets") {
    import graft.ops.TextOps
    // 2 sources × docs 0..9; text of doc i has (i % 4) + 1 tokens
    val docs = (0L until 10L).flatMap { i =>
      Seq((i * 2, "s1"), (i * 2 + 1, "s2"))
    }.map { case (id, src) =>
      (id, src, Seq.fill((id % 4 + 1).toInt)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val out = TextOps.packSequencesSharded(docs, capacity = 4L, shards = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out.size == 20)
    // the shard is recoverable from the id's high bits, and within a
    // shard the local indices are dense 0..max (shard-local quota-fill)
    out.values.foreach { case (_, shard, _, packId, _) =>
      assert(packId >> 40 == shard, s"pack_id $packId not in shard $shard")
    }
    Seq("s1", "s2").foreach { src =>
      out.values.filter(_._1 == src).groupBy(_._2).foreach { case (_, vs) =>
        val local = vs.map(v => v._4 & ((1L << 40) - 1)).toSet
        assert(local == (0L until (local.max + 1)).toSet,
          s"$src shard-local ids not dense: $local")
      }
    }
    // offsets live in [0, capacity); packs never span shards by id
    // construction; every doc appears exactly once
    out.values.foreach { case (_, _, n, _, off) =>
      assert(off >= 0 && off < 4, s"offset $off out of [0, capacity)")
      assert(n >= 1)
    }
    // determinism: same input, same assignment
    val again = TextOps.packSequencesSharded(docs, capacity = 4L, shards = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out.map { case (k, v) => k -> v._4 } == again)
  }

  test("dedupRecall: found ⊆ truth, recall exact against hand-joined pipelines") {
    import graft.ops.DedupOps
    val corpus = DedupOps.augmented(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
    val truth = DedupOps.ngramJaccardPairs(corpus).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val found = DedupOps.minhashPairs(corpus).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(found.subsetOf(truth),
      s"LSH-verified pairs must be true pairs: extra=${found.diff(truth)}")
    val row = DedupOps.dedupRecall(corpus).collect().head
    spark.catalog.clearCache()
    assert(row.getLong(0) == truth.size && row.getLong(1) == found.size)
    assert(row.getDouble(2) == found.size.toDouble / truth.size)
    assert(row.getDouble(2) > 0.5, // the dup-injected corpus has real pairs
      s"suspiciously low recall ${row.getDouble(2)}")
  }

  test("decontaminateRecall: LSH removals ⊆ exact removals, recall exact by hand") {
    import graft.ops.SemanticOps
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = SemanticOps.contaminatedEmbeddings(emb)
    val train = corpus.filter(col("vec_id") % 50 =!= 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exSurv = SemanticOps.semanticDecontaminate(corpus)
      .collect().map(_.getLong(0)).toSet
    val lsSurv = SemanticOps.semanticDecontaminateLsh(corpus)
      .collect().map(_.getLong(0)).toSet
    val remEx = train.diff(exSurv)
    val remLs = train.diff(lsSurv)
    assert(remLs.subsetOf(remEx),
      s"LSH must remove a subset of exact: extra=${remLs.diff(remEx)}")
    assert(remEx.nonEmpty) // the planted copies are removable
    val row = SemanticOps.decontaminateRecall(emb).collect().head
    assert(row.getLong(0) == remEx.size && row.getLong(1) == remLs.size)
    assert(row.getDouble(2) == remLs.size.toDouble / remEx.size)
    // identical planted copies always share their source's bucket, so
    // the LSH path must catch every planted copy: recall is exactly 1.0
    // unless natural near-1 pairs exist cross-bucket (none at sf0.001)
    assert(row.getDouble(2) == 1.0, s"got ${row.getDouble(2)}")
  }

  test("annRecall: exact recall of a planted approximate retriever") {
    import graft.ops.SimilarityOps
    // embeddings fixture: 64-dim unit-ish vectors; LSH probe-1 on the
    // real corpus — recall computed against brute force must be in
    // [0, 1], defined for EVERY query (left join keeps 0-recall rows),
    // and exactly hit-count / k
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val truth = SimilarityOps.cosineTopK(emb, nQueries = 6, k = 4)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = SimilarityOps.lshTopK(emb, nQueries = 6, k = 4)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = SimilarityOps.annRecall(emb, nQueries = 6, k = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recall.keySet == truth.keySet) // every query reports
    recall.foreach { case (q, r) =>
      // denominator = the query's TRUTH-set size (min(k, corpus−1)),
      // not the constant k — a short truth set must not deflate recall
      val expected = truth(q).intersect(approx.getOrElse(q, Set.empty)).size
        .toDouble / truth(q).size
      assert(r == expected, s"q$q: got $r expected $expected")
      assert(r >= 0.0 && r <= 1.0)
    }
    // tiny-corpus edge (review-caught): 4 vectors, k=5 — truth sets have
    // 3 rows; LSH buckets by sign pattern, and identical vectors share a
    // bucket, so a perfect retriever must report exactly 1.0, not 3/5
    val tiny = Seq(0L, 1L, 2L, 3L).map(i =>
      (i, Array.fill(64)(0.5f), 0L)).toDF("vec_id", "embedding", "label")
    val tinyRecall = SimilarityOps.annRecall(tiny, nQueries = 2, k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tinyRecall == Map(0L -> 1.0, 1L -> 1.0), s"got $tinyRecall")
  }

  test("driftCheckQuantile: NULL values keep their own bucket, like the fixed-width twin") {
    // review-caught: IF(NULL > b, 1, 0) counts 0 per boundary, silently
    // conflating NULLs into bucket 0 — a sensor fault nulling `value`
    // must alarm as a NULL-bucket anomaly, not a shift into low values
    val rows = Seq[(Long, java.lang.Double)](
      (1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0),
      (101L, null), (102L, null), (103L, null), (104L, null))
      .map { case (us, v) => (us * 1000L, v) }.toDF("ts", "value")
    val out = StatsOps.driftCheckQuantile(rows, nBins = 4).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r).toMap
    // the NULL bucket exists and holds exactly the 4 late null rows
    assert(out.contains(-1L))
    assert(out(-1L).getAs[Long]("n_a") == 0 && out(-1L).getAs[Long]("n_b") == 4)
    // bucket 0 holds only the real low-value rows, not the nulls
    assert(out(0L).getAs[Long]("n_b") == 0)
    assert(out.values.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum == 8)
  }

  test("native Hilbert expressions: NULL coordinates yield NULL index (both arities)") {
    import graft.ops.LayoutOps
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 2L, 3L), (null, 2L, 3L), (1L, null, 3L))
      .toDF("x", "y", "z")
    val h2 = LayoutOps.withHilbert(rows, col("x"), col("y"), bits = 8, "d")
      .select("d").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(h2(0).isDefined && h2(1).isEmpty && h2(2).isEmpty)
    val h3 = LayoutOps.withHilbertN(rows,
        Seq(col("x"), col("y"), col("z")), bits = 8, "d")
      .select("d").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(h3(0).isDefined && h3(1).isEmpty && h3(2).isEmpty)
    // d-D out-of-range still fails loudly from the kernel
    val e = intercept[Exception] {
      LayoutOps.withHilbertN(Seq((256L, 0L, 0L)).toDF("x", "y", "z"),
        Seq(col("x"), col("y"), col("z")), bits = 8, "d").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("coordinate out of")))
  }

  test("binaryFile ingest: arbitrary bytes round-trip exactly through the source") {
    import graft.ops.MultimodalOps
    withTempDir("graft_binroundtrip") { dir =>
      // all 256 byte values + an empty file — nothing text-safe about it
      val full = (0 until 256).map(_.toByte).toArray
      val rev = full.reverse
      java.nio.file.Files.write(dir.resolve("doc_0.img"), full)
      java.nio.file.Files.write(dir.resolve("doc_1.aud"), rev)
      java.nio.file.Files.write(dir.resolve("doc_2.vid"), Array.empty[Byte])
      val read = spark.read.format("binaryFile").load(dir.toString)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("f"), col("content"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      assert(java.util.Arrays.equals(read("doc_0.img"), full))
      assert(java.util.Arrays.equals(read("doc_1.aud"), rev))
      // PINNED source semantics: Spark's file-partition planner skips
      // zero-length files, so an empty payload is INVISIBLE to binaryFile
      // ingest — which is why writeFixtureTree refuses to write empties
      // (the manifest and its oracle would silently disagree otherwise)
      assert(!read.contains("doc_2.vid"))
      // manifest over the same tree: digests of the exact bytes, distinct
      val man = MultimodalOps.ingestManifest(spark, dir.toString).collect()
        .map(r => r.getAs[String]("file_name") -> r.getAs[String]("digest")).toMap
      def md5hex(b: Array[Byte]): String =
        java.security.MessageDigest.getInstance("MD5").digest(b)
          .map(x => f"${x & 0xff}%02x").mkString
      assert(man == Map(
        "doc_0.img" -> md5hex(full), "doc_1.aud" -> md5hex(rev)))
    }
  }

  test("writeFixtureTree + ingestManifest: planted dups collapse by digest, tree rebuilds clean") {
    import graft.ops.MultimodalOps
    val docs = Seq(
      (0L, "alpha bravo"), (1L, "charlie"), (2L, "delta echo fox"),
      (3L, "golf"), (8L, "hotel india"), (9L, "charlie")) // 9 duplicates 1's text
      .toDF("doc_id", "text")
    withTempDir("graft_mmtree") { tmp =>
      val dir = tmp.toString
      // stale file from a "previous run" must be swept, non-fixture kept
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "doc_999.img"),
        "stale".getBytes)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "README.keep"),
        "not a fixture".getBytes)
      MultimodalOps.writeFixtureTree(docs, dir, maxDocId = 256L, dupEvery = 8L)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "doc_999.img")))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "README.keep")))
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "README.keep"))
      val man = MultimodalOps.ingestManifest(spark, dir).collect()
      // 6 docs + dup copies of 0 and 8 = 8 manifest rows
      assert(man.length == 8)
      val byName = man.map(r => r.getAs[String]("file_name") -> r).toMap
      // modality from extension: 0→image, 1→audio, 2→video
      assert(byName("doc_0.img").getAs[String]("modality") == "image")
      assert(byName("doc_1.aud").getAs[String]("modality") == "audio")
      assert(byName("doc_2.vid").getAs[String]("modality") == "video")
      // planted dup collapses: dup_8 shares digest with doc_8; doc_ wins
      assert(byName("dup_8.vid").getAs[String]("digest")
        == byName("doc_8.vid").getAs[String]("digest"))
      assert(byName("doc_8.vid").getAs[Boolean]("is_canonical"))
      assert(!byName("dup_8.vid").getAs[Boolean]("is_canonical"))
      assert(byName("dup_8.vid").getAs[String]("canonical") == "doc_8.vid")
      // CONTENT dup across different docs collapses too (9 copies 1)
      assert(byName("doc_9.img").getAs[String]("digest")
        == byName("doc_1.aud").getAs[String]("digest"))
      assert(!byName("doc_9.img").getAs[Boolean]("is_canonical"))
      // survivors = one per distinct payload
      assert(man.count(_.getAs[Boolean]("is_canonical")) == 5)
    }
  }
}
