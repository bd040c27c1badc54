package graft.streaming

import graft.ops.MultimodalOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Streaming face of the multimodal binaryFile ingest
  * ([[graft.ops.MultimodalOps.ingestManifest]]) — the landing edge of a
  * continuously-fed media directory: Spark's file-stream source picks up
  * newly arrived files per trigger, each micro-batch emits its
  * content-addressed manifest rows (the SAME
  * [[graft.ops.MultimodalOps.manifestRows]] derivation as batch — one
  * definition, the edges cannot diverge), and every payload is checked
  * against a FROZEN digest index (yesterday's corpus — the boilerplate-
  * index idiom): `is_known` marks exact-duplicate payloads the corpus
  * already holds, the signal an ingest gate drops or routes on.
  *
  * State-free foreachBatch: the file-stream source's own checkpoint is
  * what makes "each file exactly once" durable; the digest index is a
  * broadcast-joined static frame (16-byte-digest rows); batch rows never
  * outlive their trigger. Within-batch duplicate RESOLUTION (canonical
  * survivor) stays a batch-compaction concern — a stream marks, it does
  * not rewrite.
  *
  * Scale notes: `maxFilesPerTrigger` (reader option) bounds per-trigger
  * work; content is dropped map-side right after the digest, so nothing
  * blob-sized crosses an exchange; the frozen index is a digest column —
  * broadcastable far beyond any payload volume.
  */
object StreamingIngest {

  /** binaryFile's fixed schema — a file STREAM source requires the
    * schema up front (unlike the batch reader, which infers it). */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Watch `dir` for new media files; per micro-batch, hand `sink` the
    * manifest rows (file_name, doc_id, modality, byte_len, digest,
    * is_known) where is_known = the payload digest exists in the frozen
    * `knownDigests` index (one `digest` column). */
  def manifestStream(spark: SparkSession, dir: String,
                     knownDigests: DataFrame)
                    (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val known = knownDigests.select(col("digest").as("k_digest"),
      lit(1L).as("k_hit"))
    val stream = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema).load(dir)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val m = MultimodalOps.manifestRows(batch)
        .join(broadcast(known), col("digest") === col("k_digest"), "left")
        .select(col("file_name"), col("doc_id"), col("modality"),
          col("byte_len"), col("digest"),
          col("k_hit").isNotNull.as("is_known"))
      sink(m, batchId)
    }
  }

  /** The full multimodal ingest LOOP (VERDICT r8 item 4) — the
    * index-APPENDING lifecycle twin of
    * [[StreamingDedup.incrementalIndexLoop]], closing the gap the
    * frozen-index [[manifestStream]] deliberately leaves open: per
    * micro-batch, manifest the arriving files, flag each payload
    * against the PERSISTED digest index at `indexDir` (read fresh every
    * trigger — it grows), deliver the verdict rows to `sink`, and
    * APPEND the batch's novel digests — so a copy of a file that
    * arrived in an EARLIER batch is flagged `is_known` without any
    * frozen-snapshot rebuild. foreachBatch because the index is both
    * read and grown inside one trigger, exactly the dedup loop's
    * cycle; the caller seeds `indexDir` (an empty one-column `digest`
    * frame, or yesterday's corpus digests).
    *
    * The batch manifest is persisted before its two consumers (sink +
    * append) — WITHOUT it the append side would re-run the binaryFile
    * scan and re-digest every payload byte (the exact double-scan the
    * batch ingest's review caught); manifest rows are digest+path
    * metadata, so the cache is file-count-sized. Novel digests are
    * `distinct()`-ed within the batch (two copies arriving together
    * append one index row). Idempotence on replay mirrors the dedup
    * loop: a re-delivered batch finds its own digests already indexed
    * and flags them known — re-appends cannot occur, because only
    * not-known digests append.
    *
    * At 100 TB the index is 32-hex-char rows (broadcastable far beyond
    * any payload volume); the per-trigger append is one novel-digest-
    * sized file, so run [[compactDigestIndex]] on the maintenance
    * cadence to bound the file count (in a QUIESCENT window — see its
    * concurrency contract). */
  def ingestIndexLoop(spark: SparkSession, dir: String, indexDir: String)
                     (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val stream = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema).load(dir)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // self-heal: a trigger landing right after a crash mid-compaction
      // finds the swap half-done; recover() restores the live index
      // (cheap when live exists — one FS existence check)
      graft.sources.SnapshotSwap.recover(spark, indexDir)
      val known = spark.read.parquet(indexDir)
        .select(col("digest").as("k_digest"), lit(1L).as("k_hit"))
      val m = MultimodalOps.manifestRows(batch)
        .join(broadcast(known), col("digest") === col("k_digest"), "left")
        .select(col("file_name"), col("doc_id"), col("modality"),
          col("byte_len"), col("digest"),
          col("k_hit").isNotNull.as("is_known"))
        .persist()
      try {
        sink(m, batchId)
        m.filter(!col("is_known")).select("digest").distinct()
          .write.mode("append").parquet(indexDir)
      } finally { m.unpersist(); () }
    }
  }

  /** STREAMING quarantine router for the real-codec ingest (round 14 —
    * the streaming twin of `multimodal_prep`'s verdict stage): per
    * micro-batch, every arriving blob gets exactly ONE lenient decode
    * verdict row; 'ok' rows (exact stats, no reason) flow to the clean
    * sink, everything else routes to the quarantine sink WITH the
    * diagnostic reason column — so an operator watching the quarantine
    * stream can tell one corrupt upload from a systemic decode fault
    * breaking every blob the same way. A file whose PATH does not
    * match `extPattern` (a misnamed or foreign upload) is not silently
    * dropped (review-caught): it quarantines as an `unmatched` verdict
    * row (doc_id = -1, the orphan convention) carrying the file name
    * in its reason. Stateless by construction (per-blob verdicts need
    * no cross-batch state — the spec pins zero state operators); one
    * persist per batch feeds both sinks (the payments two-sink
    * contract, `StreamingOps` foreachBatch fan-out).
    */
  def quarantineStream(spark: SparkSession, dir: String,
                       extPattern: String = "ul_(\\d+)\\.wav$")
                      (sinkOk: (DataFrame, Long) => Unit,
                       sinkQuarantine: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val stream = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema).load(dir)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val decoded = MultimodalOps.decodeAudioLenient(spark, batch, extPattern)
        .toDF()
      val nullStat = lit(null).cast("long")
      val unmatched = batch.filter(!col("path").rlike(extPattern))
        .select(lit(-1L).as("doc_id"), lit("unmatched").as("status"),
          nullStat.as("n_channels"), nullStat.as("sample_rate"),
          nullStat.as("n_frames"), nullStat.as("sum_ch0"),
          nullStat.as("sum_ch1"), nullStat.as("min_sample"),
          nullStat.as("max_sample"),
          concat(lit("unmatched path: "),
            regexp_extract(col("path"), "([^/]+)$", 1)).as("reason"))
      val v = decoded.unionByName(unmatched).persist()
      try {
        sinkOk(v.filter(col("status") === "ok").drop("reason"), batchId)
        sinkQuarantine(v.filter(col("status") =!= "ok"), batchId)
      } finally { v.unpersist(); () }
    }
  }

  /** Periodic COMPACTION for the [[ingestIndexLoop]] digest index — the
    * maintenance twin of [[StreamingDedup.compactSignatureIndex]], same
    * crash-safe [[graft.sources.SnapshotSwap]] publish (retire-then-swap,
    * `_SUCCESS`-gated recovery): the loop appends one novel-digest file
    * per trigger forever, so an unmaintained index degrades into
    * thousands of tiny files. Rewrites it as `numFiles` files with
    * `distinct()` collapsing any duplicate digests (the loop itself
    * cannot append one twice, but a seeded index might overlap a
    * replayed history). One digest-column shuffle — never payload
    * bytes.
    *
    * CONCURRENCY CONTRACT: run only while the loop is
    * QUIESCENT — the query stopped, or from the driver between
    * triggers. The rewrite snapshots the index at its read; a digest
    * appended by a live trigger between that read and `publish` would
    * be dropped by the swap (its copy later mis-flagged novel and
    * re-appended — self-correcting for dedup purposes, but a wrong
    * verdict delivered once), and a trigger's index read landing
    * inside the retire→swap window would fail (the loop self-heals on
    * the NEXT trigger via recover(), but that trigger errors). The
    * lexical twin [[StreamingDedup.compactSignatureIndex]] carries the
    * same contract. Returns (rows before, rows after). */
  def compactDigestIndex(spark: SparkSession, indexDir: String,
                         numFiles: Int = 8): (Long, Long) =
    graft.sources.SnapshotSwap.compact(spark, indexDir, Seq("digest"), numFiles)(_.distinct())
}
