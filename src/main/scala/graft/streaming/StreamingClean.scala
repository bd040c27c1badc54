package graft.streaming

import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twins of the corpus-cleaning gates — the ingest-time
  * position of [[graft.ops.DedupOps.boilerplateStrip]] and
  * [[graft.ops.TextOps.gopherGate]]: a live crawl is cleaned against
  * FROZEN reference artifacts (yesterday's boilerplate index; fixed rule
  * thresholds) before it ever lands in the corpus.
  *
  * Both use foreachBatch, for the reason documented on
  * [[StreamingText.lmScoreStream]]: each op ends in a per-document
  * aggregation (ordered segment reassembly; the top-bigram fraction),
  * and a streaming groupBy is STATEFUL to Spark even though every
  * doc_id occurs in exactly one micro-batch — the engine would hold
  * every processed document's aggregate forever. Running the batch
  * operator per micro-batch keeps exact batch semantics (spec-asserted
  * parity) with zero streaming state.
  *
  * Scale notes: the boilerplate index is a static digest set the caller
  * persist()s once (16 bytes per over-common segment — the thin head of
  * the DF distribution, usually broadcastable); per-trigger cost is the
  * batch operator on the micro-batch alone. The gopher gate is per-doc
  * arithmetic — no reference data at all.
  */
object StreamingClean {

  /** Strip arriving documents (doc_id, text) against the frozen
    * boilerplate `index` ([[graft.ops.DedupOps.boilerplateIndex]] — one
    * `h` digest column) and hand each cleaned micro-batch
    * (doc_id, text_clean, n_kept, n_total) to `sink`. Documents whose
    * every segment is boilerplate vanish, as in batch. */
  def boilerplateStripStream(spark: SparkSession, index: DataFrame,
                             stream: DataFrame, sep: String = ". ")
                            (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val docs = batch.select(col("doc_id").cast("long"), col("text"))
      sink(DedupOps.boilerplateStripAgainst(index, docs, sep), batchId)
    }

  /** Run the Gopher rule battery on each arriving micro-batch and hand
    * the per-doc flag frame (doc_id, f_*, keep) to `sink`. Thresholds
    * are frozen at stream start — the [[graft.ops.TextOps.gopherGate]]
    * defaults unless overridden here. */
  def gopherGateStream(spark: SparkSession, stream: DataFrame,
                       minTokens: Long = 20L, maxTokens: Long = 100000L,
                       minAvgLen: Double = 3.0, maxAvgLen: Double = 4.6,
                       minStopRatio: Double = 0.02,
                       maxDupSegFrac: Double = 0.3,
                       maxTopBigramFrac: Double = 0.06)
                      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val docs = batch.select(col("doc_id").cast("long"), col("text"))
      sink(TextOps.gopherGate(docs, minTokens, maxTokens, minAvgLen,
        maxAvgLen, minStopRatio, maxDupSegFrac, maxTopBigramFrac), batchId)
    }

  /** The frozen REFERENCE histogram for [[driftGateStream]]: fixed-width
    * bucket probabilities of `value` (the established distribution the
    * monitor compares every arriving batch against). Bucket-sized
    * metadata — persist it like the boilerplate index and hand it to the
    * stream; the reference corpus is never rescanned per batch. The
    * `width` column rides WITH the histogram so the stream re-buckets
    * every batch on the same grid by construction — a caller cannot
    * compare histograms with mismatched widths. NULL values
    * form their own bucket: an all-NULL batch alarming against a
    * NULL-free reference is a real anomaly, not a false positive. */
  def referenceHistogram(reference: DataFrame, width: Double = 50.0): DataFrame =
    bucketProbabilities(
      reference.select(floor(col("value") / lit(width)).cast("long").as("bucket")),
      "p_ref")
      .withColumn("width", lit(width))

  /** The ONE bucket→probability normalization (count per bucket / total),
    * shared by both reference-histogram builders and the quantile gate's
    * per-batch side — the four call sites cannot diverge on the
    * normalization. Input: one `bucket`
    * column; output: (bucket, <pName>). */
  private def bucketProbabilities(bucketed: DataFrame, pName: String): DataFrame = {
    val counts = bucketed.groupBy("bucket").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").cast("long").as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (col("n").cast("double") / col("tot").cast("double")).as(pName))
  }

  /** The ONE χ²-gate foreachBatch body shared by [[driftGateStream]] and
    * [[driftGateQuantileStream]], so the two gates cannot diverge: the batch
    * histogram (from the grid-specific `batchHist`) and the frozen
    * reference meet by UNION + one bucket-keyed aggregate (no full-outer
    * join — Spark can't broadcast one), each bucket emits
    * [[graft.ops.StatsOps.chiSquareContrib]], and an EMPTY batch emits
    * zero rows (no data is not drift). */
  private def chiSquareGate(stream: DataFrame, ref: DataFrame,
                            batchHist: DataFrame => DataFrame)
                           (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val joined = batchHist(batch)
        .select(col("bucket"), col("p_b"), lit(0.0).as("p_r"))
        .unionAll(ref)
        .groupBy("bucket")
        .agg(sum("p_b").as("p_batch"), sum("p_r").as("p_ref"))
        .withColumn("contrib",
          graft.ops.StatsOps.chiSquareContrib(col("p_batch"), col("p_ref")))
      val out = if (batch.isEmpty) joined.where(lit(false)) else joined
      sink(out, batchId)
    }

  /** Streaming DRIFT monitor — the production face of
    * [[graft.ops.StatsOps.driftCheck]]: each micro-batch is histogrammed
    * by [[referenceHistogram]] itself (one derivation, the batch and
    * reference bucketing can never drift) and every bucket emits the
    * transcendental-free χ²-style term `(p_b − p_ref)² /
    * ((p_b + p_ref) / 2)`; a missing side contributes p = 0 (a bucket
    * only the batch or only the reference populates is maximal drift for
    * its mass). Σ contrib per batch is the alarm signal. State-free:
    * batch totals are batch-scoped, the reference a bucket-sized frozen
    * frame. The two sides meet by UNION + one bucket-keyed aggregate —
    * not a full-outer join, which Spark cannot broadcast (no full-outer
    * BroadcastHashJoin): both inputs are bucket-sized
    * histograms, so the union shuffle is O(buckets) metadata. The bucket
    * width is read off the histogram itself (one frozen value, collected
    * once at stream start), and the contrib term is
    * [[graft.ops.StatsOps.chiSquareContrib]] — batch and streaming gates
    * share one grid and one formula by construction. An EMPTY batch (or
    * a trigger tail with no rows) emits ZERO rows: no data is not drift. */
  def driftGateStream(spark: SparkSession, stream: DataFrame,
                      refHist: DataFrame)
                     (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    // headOption, not head: an EMPTY reference histogram (empty or
    // all-filtered reference corpus) is a caller error — fail fast with
    // a descriptive message instead of a bare NoSuchElementException
    // surfacing from deep inside stream setup.
    val width = refHist.select("width").limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "driftGateStream: reference histogram is empty — derive it from a " +
          "non-empty reference corpus (referenceHistogram) before starting " +
          "the monitor"))
      .getDouble(0)
    val ref = refHist.select(col("bucket"), lit(0.0).as("p_b"),
      col("p_ref").as("p_r"))
    chiSquareGate(stream, ref, batch =>
      referenceHistogram(batch, width)
        .select(col("bucket"), col("p_ref").as("p_b")))(sink)
  }

  /** EQUI-DEPTH reference histogram for [[driftGateQuantileStream]] —
    * the quantile-grid twin of [[referenceHistogram]]: bucket
    * boundaries are the exact quantiles of the reference
    * corpus's integer cents ([[graft.ops.StatsOps.histExactBoundaries]]
    * — the SAME derivation [[graft.ops.StatsOps.quantileBins]] and
    * [[graft.ops.StatsOps.driftCheckQuantile]] use), so every bucket
    * holds ~1/nBins of the reference mass and a heavy tail can't hide
    * inside one fat fixed-width bucket. The boundary array `bs` rides
    * WITH the histogram (the `width` convention): the stream re-buckets
    * every batch on the frozen reference grid by construction. */
  def referenceHistogramQuantile(reference: DataFrame, nBins: Int = 8): DataFrame = {
    val cents = reference
      .select(round(col("value") * 100).cast("long").as("vc"))
    val bounds = graft.ops.StatsOps.histExactBoundaries(cents, "vc", nBins)
    // assignment + NULL-bucket semantics are StatsOps.quantileBucket —
    // the batch gate's one definition (NULLs keep their own bucket)
    val bucketed = cents.crossJoin(broadcast(bounds))
      .select(graft.ops.StatsOps.quantileBucket.as("bucket"))
    bucketProbabilities(bucketed, "p_ref").crossJoin(broadcast(bounds))
  }

  /** Streaming drift monitor on the EQUI-DEPTH grid — the production
    * face of [[graft.ops.StatsOps.driftCheckQuantile]], with the exact
    * state-free shape of [[driftGateStream]]: the frozen reference
    * boundary array is collected ONCE at stream start (1-row metadata —
    * fail-fast if the reference histogram is empty), every batch is
    * cent-quantized and bucketed against it map-side, and the two
    * bucket-sized histograms meet by UNION + one bucket-keyed aggregate
    * emitting [[graft.ops.StatsOps.chiSquareContrib]] per bucket. An
    * empty batch emits zero rows (no data is not drift). */
  def driftGateQuantileStream(spark: SparkSession, stream: DataFrame,
                              refHist: DataFrame)
                             (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val bs = refHist.select("bs").limit(1).collect().headOption
      .filter(r => !r.isNullAt(0))
      .getOrElse(throw new IllegalArgumentException(
        "driftGateQuantileStream: reference histogram is empty or has no " +
          "boundary array (all-NULL reference values) — derive it from a " +
          "non-empty, non-NULL reference corpus (referenceHistogramQuantile) " +
          "before starting the monitor"))
      .getSeq[Double](0)
    val bsLit = array(bs.map(lit(_)): _*)
    val ref = refHist.select(col("bucket"), lit(0.0).as("p_b"),
      col("p_ref").as("p_r"))
    chiSquareGate(stream, ref, batch =>
      bucketProbabilities(
        batch.select(round(col("value") * 100).cast("long").as("vc"),
            bsLit.as("bs"))
          .select(graft.ops.StatsOps.quantileBucket.as("bucket")),
        "p_b"))(sink)
  }

  /** Per-batch PROFILE monitor: the streaming face of
    * [[graft.ops.StatsOps.dataProfileApprox]] — every arriving
    * micro-batch emits its per-column completeness/distinct/moment rows
    * to `sink` (the time series an ingest dashboard plots; the HLL
    * variant because a stream profile can't afford the exact-distinct
    * Expand). State-free: each batch profiles itself. */
  def profileStream(spark: SparkSession, stream: DataFrame,
                    numCols: Seq[String], strCols: Seq[String])
                   (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.StatsOps.dataProfileApprox(batch, numCols, strCols), batchId)
    }

  /** Ingest-time landing gate: run the declarative constraint suite
    * ([[graft.ops.StatsOps.constraintCheck]]) over every arriving
    * micro-batch and hand the per-constraint verdict rows to `sink` with
    * the batch id — the admit/reject signal evaluated at the batch
    * boundary, before the batch is merged into the corpus. Predicates
    * are frozen at stream start (the batch twin's shared-text strings),
    * so the streaming and batch gates can never disagree on semantics. */
  def constraintGateStream(spark: SparkSession, stream: DataFrame,
                           constraints: Seq[(String, String)])
                          (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.StatsOps.constraintCheck(batch, constraints), batchId)
    }
}
