package graft.streaming

import graft.ops.RetrievalOps
import graft.sources.SnapshotSwap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the persisted BM25 inverted index
  * ([[RetrievalOps.Bm25Index]]): a foreachBatch loop folds each
  * doc-disjoint micro-batch into the on-disk index so retrieval /
  * decontamination audits always query the live corpus without ever
  * re-tokenizing it — the lexical twin of
  * [[StreamingDedup.incrementalIndexLoop]] (MinHash) and the PQ index
  * append loop.
  *
  * On-disk layout under `indexDir`:
  *  - `postings/slice_<batchId>/` and `doclens/slice_<batchId>/` —
  *    one parquet slice per micro-batch, each written with
  *    mode=overwrite into its OWN batch-named subdirectory, so an
  *    at-least-once REPLAY (same batchId) overwrites byte-identical
  *    bytes instead of appending duplicates. Read back with
  *    `recursiveFileLookup` (plain subdirs, no partition inference).
  *  - `df/` — the vocabulary-sized document-frequency table, NOT
  *    appendable (it is a per-word SUM): each batch merges its delta
  *    df into a fresh generation published by crash-safe
  *    [[SnapshotSwap]] (retire-then-swap, `_SUCCESS`-gated recovery).
  *    The generation carries an `_applied_batch_<id>` marker file
  *    (underscore-prefixed — parquet readers ignore it), and
  *    marker+data are ATOMIC AT CREATION, not just at publish: the
  *    merged parquet AND the marker are both written into a private
  *    staging directory, which becomes the `__next` generation in one
  *    filesystem rename. A replayed batch whose marker is already in
  *    the live generation is skipped entirely, so df is never
  *    double-counted. (Writing the parquet directly to `__next` and
  *    adding the marker afterwards would leave a window — `_SUCCESS`
  *    present, marker not yet — where a batch-0 crash lets
  *    [[SnapshotSwap.recover]] promote a complete-but-UNMARKED
  *    generation, and the replay re-merges the same delta.)
  *
  * Crash windows, all idempotent: crash after the postings/doclens
  * slice writes but before the staging rename → replay overwrites the
  * slices (same bytes), discards the stale staging dir, and redoes the
  * merge from the OLD generation; crash between the staging rename and
  * the publish → the complete `__next` generation already CARRIES its
  * marker, so whether [[SnapshotSwap.recover]] promotes it (live
  * missing — the batch-0 window above) or discards it (live present),
  * the replay lands in a consistent state; crash mid-publish →
  * [[SnapshotSwap.recover]] restores a complete generation; crash
  * after publish → the marker skips the replay.
  *
  * Scale: each trigger costs delta tokenization + a vocab-sized df
  * merge-rewrite — independent of accumulated postings volume. The
  * slice count grows one-per-trigger; [[compactBm25Index]] bounds it.
  */
object StreamingRetrieval {

  private def appliedMarker(dfDir: String, batchId: Long) =
    s"_applied_batch_$batchId"

  private def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fold one doc-disjoint document slice into the on-disk index.
    * Exposed (rather than buried in the foreachBatch closure) so specs
    * can drive replay scenarios directly. Returns false iff the batch
    * was recognized as already applied and skipped. */
  def foldBatch(spark: SparkSession, docs: DataFrame, batchId: Long,
                indexDir: String): Boolean = {
    val dfDir = s"$indexDir/df"
    val exists = SnapshotSwap.recover(spark, dfDir)
    val fs = hadoopFs(spark, indexDir)
    if (exists && fs.exists(new org.apache.hadoop.fs.Path(
        dfDir, appliedMarker(dfDir, batchId))))
      return false
    val delta = RetrievalOps.bm25BuildIndex(docs)
    delta.postings.write.mode("overwrite")
      .parquet(s"$indexDir/postings/slice_$batchId")
    delta.doclens.write.mode("overwrite")
      .parquet(s"$indexDir/doclens/slice_$batchId")
    val mergedDf =
      if (exists) RetrievalOps.mergeDf(spark.read.parquet(dfDir), delta.df)
      else delta.df
    // Marker+data atomic at CREATION: write parquet + marker into a
    // staging dir, then one rename to __next — no observer (recover
    // included) can ever see a complete generation without its marker.
    // recover() above cleared any previous __next, so the rename target
    // is free; a stale staging dir from a prior crash is swept first.
    val stage = new org.apache.hadoop.fs.Path(
      dfDir.stripSuffix("/") + "__stage")
    fs.delete(stage, true)
    mergedDf.write.mode("overwrite").parquet(stage.toString)
    fs.create(new org.apache.hadoop.fs.Path(stage,
      appliedMarker(dfDir, batchId)), true).close()
    val next = new org.apache.hadoop.fs.Path(SnapshotSwap.nextPath(dfDir))
    require(fs.rename(stage, next), s"foldBatch: stage failed: $stage -> $next")
    SnapshotSwap.publish(spark, dfDir)
    true
  }

  /** The streaming loop: `stream` must carry (doc_id, text) with
    * doc-disjoint micro-batches (the incremental-merge contract —
    * df additivity needs each document in exactly one slice). */
  def bm25IndexStream(spark: SparkSession, stream: DataFrame,
                      indexDir: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      foldBatch(spark,
        batch.select(col("doc_id").cast("long"), col("text")), batchId,
        indexDir)
      ()
    }

  /** Read the streamed on-disk index back as a queryable
    * [[RetrievalOps.Bm25Index]] (recursive lookup over the slice
    * subdirectories; columns selected explicitly so layout details
    * never leak into the schema). */
  def readStreamedIndex(spark: SparkSession,
                        indexDir: String): RetrievalOps.Bm25Index = {
    def rec(sub: String) = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$indexDir/$sub")
    // All THREE tables go through SnapshotSwap at some point in their
    // lifecycle (df every batch; postings/doclens at compaction), so all
    // three need crash repair before a read — a compaction that died
    // mid-publish leaves postings/doclens retired-but-unswapped, and
    // without recover every subsequent read fails until manual repair.
    SnapshotSwap.recover(spark, s"$indexDir/df")
    SnapshotSwap.recover(spark, s"$indexDir/postings")
    SnapshotSwap.recover(spark, s"$indexDir/doclens")
    RetrievalOps.Bm25Index(
      rec("postings").select("doc_id", "word", "tf"),
      rec("doclens").select("doc_id", "dl"),
      spark.read.parquet(s"$indexDir/df").select("word", "df"))
  }

  /** STREAMING SERVING twin of the retrieval family: answer BM25
    * top-k per micro-batch of QUERY documents against
    * the FROZEN persisted index — the [[StreamingText]] lmScoreStream
    * pattern: ZERO streaming state (no watermark, no state store; each
    * batch is an independent scoring pass), so the serving path can
    * restart, replay, or scale out with no recovery semantics beyond
    * the source's own. Query terms are tokenized from the BATCH text
    * (queries need not be corpus members; a query that IS an indexed
    * doc gets the self-excluded audit semantics of
    * [[RetrievalOps.bm25RanksFromIndex]]). Each batch's ranked result
    * goes to `sink` — the pluggable downstream of the house
    * foreachBatch twins. CONCURRENCY: reads the index at START (the
    * frozen-snapshot contract); run the fold loop's generation swap
    * quiescent or restart the serving query to pick up a new
    * generation.
    *
    * Scale: per trigger, cost is one broadcast of the batch's query
    * vocabulary filtering the postings scan map-side — the same
    * bounded-query-side shape as the batch path; nothing about the
    * stream accumulates.
    */
  def bm25ServeStream(spark: SparkSession, queries: DataFrame,
                      indexDir: String, k: Int = 5)
                     (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val idx = readStreamedIndex(spark, indexDir)
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val qterms = batch.select(col("doc_id").cast("long").as("q_id"),
        explode(array_distinct(split(col("text"), " ", -1))).as("word"))
      sink(RetrievalOps.bm25RanksFromIndex(idx, qterms, k), batchId)
      ()
    }
  }

  /** HYBRID serving twin: per-micro-batch RRF fusion of the BM25
    * channel (frozen persisted inverted index, as [[bm25ServeStream]])
    * and the persisted-PQ dense channel ([[graft.ops.PqOps
    * .annIndexTopK]] over a frozen [[graft.ops.PqOps.annIndex]] of the
    * doc vectors + its frozen codebook) — the COMPLETE production
    * retrieval serving shape: both index artifacts read once at start,
    * zero streaming state, each trigger is two broadcast-query-side
    * scoring passes plus a fusion of two k-bounded lists. Batch query
    * vectors are hashed-TF embeddings of the batch text
    * ([[graft.ops.RetrievalOps.denseDocEmbeddings]]), so external
    * queries work on both channels. */
  def hybridServeStream(spark: SparkSession, queries: DataFrame,
                        indexDir: String, annIndex: DataFrame,
                        cb: Array[Array[Seq[Double]]], kChannel: Int = 10,
                        k: Int = 5)
                       (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val idx = readStreamedIndex(spark, indexDir)
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val docs = batch.select(col("doc_id").cast("long").as("doc_id"),
        col("text"))
      val qterms = docs.select(col("doc_id").as("q_id"),
        explode(array_distinct(split(col("text"), " ", -1))).as("word"))
      val sparse = graft.ops.RetrievalOps.bm25RanksFromIndex(idx, qterms,
        kChannel)
      val dense = graft.ops.PqOps.annIndexTopK(annIndex,
          graft.ops.RetrievalOps.denseDocEmbeddings(docs), cb,
          k = kChannel)
        .select(col("q_id"), col("nn_id").as("doc_id"), col("rank"))
      sink(graft.ops.RetrievalOps.rrfFuse(sparse, dense, k), batchId)
      ()
    }
  }

  /** Periodic compaction: rewrite the accumulated postings/doclens
    * slices as `numFiles` large files each (one generation swap per
    * table; df is already one vocab-sized generation). No distinct(),
    * no re-aggregation — slices are doc-disjoint by contract and
    * replays overwrite in place, so rows are already unique; this is
    * purely a small-files rewrite. CONCURRENCY CONTRACT: run only
    * while the appending loop is quiescent (same as
    * [[StreamingDedup.compactSignatureIndex]]). Returns the postings
    * file count (before, after). */
  def compactBm25Index(spark: SparkSession, indexDir: String,
                       numFiles: Int = 8): (Long, Long) = {
    // Repair a predecessor compaction that died mid-publish before
    // listing/reading anything (same contract as readStreamedIndex).
    SnapshotSwap.recover(spark, s"$indexDir/postings")
    SnapshotSwap.recover(spark, s"$indexDir/doclens")
    def files(sub: String): Long = {
      val it = hadoopFs(spark, indexDir).listFiles(
        new org.apache.hadoop.fs.Path(s"$indexDir/$sub"), true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = files("postings")
    for (sub <- Seq("postings", "doclens")) {
      val dir = s"$indexDir/$sub"
      val tmp = SnapshotSwap.nextPath(dir)
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .repartition(numFiles).write.mode("overwrite").parquet(tmp)
      SnapshotSwap.publish(spark, dir)
    }
    (before, files("postings"))
  }
}
