package graft.streaming

import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One document landed in one LSH band bucket. `sig` is the FULL MinHash
  * signature (numPerm longs) so verification needs no second lookup.
  */
case class BandedDoc(band: Int, band_key: String, doc_id: Long,
                     sig: Seq[Long], ts: java.sql.Timestamp)

/** A verified near-duplicate match: `doc_id` collided with the earlier
  * `dup_of` in ≥1 band and their signatures agree on ≥ minEst of the
  * permutations (the standard MinHash Jaccard estimator).
  *
  * SENTINEL: `dup_of = -1, est = -1.0` marks a hot-bucket OVERFLOW — the
  * document arrived at a band bucket already at `maxBucket` capacity and
  * was neither compared nor retained. Overflow docs may therefore carry
  * undetected duplicates; the sentinel makes the miss queryable at the
  * sink instead of silent. Filter `est >= 0` for matches.
  */
case class DupMatch(doc_id: Long, dup_of: Long, est: Double)

private case class BandBucket(docs: List[(Long, Seq[Long])])

/** Streaming near-duplicate dedup with bounded state (SURVEY §2 streaming
  * extension; the stateful sibling of [[graft.ops.DedupOps.dedupIncremental]]).
  *
  * `dropDuplicatesWithinWatermark` handles EXACT keys; this operator
  * handles NEAR duplicates: each document is MinHash-signed map-side
  * (same native codegen'd expression as the batch path), exploded into
  * 4 LSH band buckets, and each bucket keeps flatMapGroupsWithState
  * state of the (doc_id, signature) pairs seen within the watermark.
  * A new arrival is compared ONLY against its own bucket's state —
  * candidates-by-collision, exactly the batch banding — and emitted as a
  * [[DupMatch]] when signature agreement ≥ `minEst`. Exact duplicates
  * agree on every permutation, so all four of their bands collide and
  * recall for them is 1 by construction.
  *
  * State sizing at 100 TB/day (see PLANS.md): per band bucket the state
  * is numPerm longs + 8 bytes per retained doc, and event-time timeouts
  * evict buckets untouched for `stateTtl` past the watermark, so total
  * state is bounded by (docs inside the watermark horizon) × 4 bands ×
  * (numPerm+1) × 8 bytes — horizon-sized, never corpus-sized. Hot
  * buckets (boilerplate collisions) are the skew risk: the per-bucket
  * `maxBucket` cap drops comparison work for degenerate buckets loudly
  * (emits nothing for overflow docs) rather than melting an executor —
  * same rationale as the batch df-cap in ngramJaccardPairs.
  *
  * A pair colliding in several bands is emitted once per colliding band
  * (each bucket's state is independent); consumers that need exactly-one
  * row per pair add `dropDuplicatesWithinWatermark` on (doc_id, dup_of)
  * downstream or dedup at the sink — the est is identical in every
  * emission, so any copy is authoritative.
  */
object StreamingDedup {

  /** Map-side banding projection: text → shingles → MinHash signature →
    * 4 band buckets, through the batch helpers ([[DedupOps.shingled]],
    * [[DedupOps.signed]], [[DedupOps.bands]]), so a streaming bucket key
    * equals the batch band key for the same text. Stateless — safe
    * before the stateful operator. Documents shorter than 3 tokens carry
    * no shingles and are dropped.
    */
  def bandedSignatures(spark: SparkSession, stream: DataFrame,
                       numPerm: Int = 16, tsCol: String = "ts"): Dataset[BandedDoc] = {
    import spark.implicits._
    DedupOps.bands(DedupOps.signed(DedupOps.shingled(stream), numPerm), numPerm,
        "doc_id", Seq(col("sig"), col(tsCol).as("ts")))
      .withColumn("doc_id", col("doc_id").cast("long"))
      .as[BandedDoc]
  }

  /** The stateful core: per (band, band_key) bucket, match each arrival
    * against the bucket's retained signatures, then retain it. Input must
    * already carry a watermark on `ts` (set by [[minhashDedupStream]]).
    */
  def dedupAgainstState(spark: SparkSession, banded: Dataset[BandedDoc],
                        minEst: Double, numPerm: Int,
                        stateTtlMs: Long, maxBucket: Int): Dataset[DupMatch] = {
    import spark.implicits._
    banded.groupByKey(d => (d.band, d.band_key))
      .flatMapGroupsWithState[BandBucket, DupMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, String), events: Iterator[BandedDoc], state: GroupState[BandBucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = collection.mutable.ArrayBuffer.empty[DupMatch]
            // doc_id order makes intra-batch matching deterministic and
            // oriented smaller-id-first, mirroring the batch candidate
            // orientation (b.doc_id < a.doc_id).
            val arrivals = events.toSeq.sortBy(_.doc_id)
            var seen = state.getOption.map(_.docs).getOrElse(Nil)
            arrivals.foreach { e =>
              if (seen.lengthCompare(maxBucket) < 0) {
                seen.foreach { case (id, sig) =>
                  if (id != e.doc_id) {
                    var n = 0
                    var i = 0
                    while (i < numPerm) { if (sig(i) == e.sig(i)) n += 1; i += 1 }
                    val est = n.toDouble / numPerm
                    if (est >= minEst) out += DupMatch(e.doc_id, id, est)
                  }
                }
                seen = (e.doc_id, e.sig) :: seen
              } else {
                // LOUD overflow: the doc was neither compared nor retained —
                // emit the sentinel so hot-bucket misses are observable at
                // the sink (count sentinels ≙ dropped comparison work).
                out += DupMatch(e.doc_id, -1L, -1.0)
              }
            }
            state.update(BandBucket(seen))
            // Evict once the watermark passes last-touch + TTL. Keyed off
            // the batch's max EVENT time (the watermark itself lags events
            // by the delay — early on it is still epoch 0, and a timeout
            // derived from it would evict live state immediately); the max
            // with the current watermark keeps the timestamp legal.
            val lastTouch = math.max(
              arrivals.iterator.map(_.ts.getTime).max,
              state.getCurrentWatermarkMs())
            state.setTimeoutTimestamp(lastTouch + stateTtlMs)
            out.iterator
          }
      }
  }

  /** STATELESS streaming dedup-against-index — the streaming twin of
    * [[graft.ops.DedupOps.dedupIncremental]]: a live document stream is
    * checked against a persisted, STATIC signature index (yesterday's
    * corpus) with zero streaming state. Each micro-batch is banded
    * map-side and equi-joined (stream-static inner join, Append-legal)
    * against the index's band table; signature agreement ≥ `minEst`
    * emits a [[DupMatch]]. Use this when the reference corpus is fixed
    * within the run and [[minhashDedupStream]]'s stateful path only for
    * intra-stream duplicates — production composes both: index join
    * first (cheap, stateless), stateful bucket match on the survivors.
    *
    * Scale: the banded index is persisted (one derivation, re-used every
    * micro-batch — without it Spark re-reads the static side per batch);
    * the stream side shuffles only (band, band_key, doc_id, sig) rows.
    * A pair colliding in several bands emits once per band, as in
    * [[minhashDedupStream]] — dedup at the sink if exactly-once pairs
    * are required.
    */
  def dedupAgainstIndexStream(spark: SparkSession, index: DataFrame,
                              stream: DataFrame, minEst: Double = 0.5,
                              numPerm: Int = 16,
                              tsCol: String = "ts"): DataFrame = {
    DedupOps.requireSignatureIndex(index)
    val ibands = DedupOps.bands(index.withColumnRenamed("doc_id", "idx_id"),
        numPerm, "idx_id", Seq(col("sig").as("idx_sig")))
      .persist()
    val sbands = bandedSignatures(spark, stream, numPerm, tsCol).toDF()
    sbands.join(ibands, Seq("band", "band_key"))
      .withColumn("est", DedupOps.agreement(col("sig"), col("idx_sig"), numPerm))
      .filter(col("est") >= minEst)
      .select(col("doc_id"), col("idx_id").as("dup_of"), col("est"))
  }

  /** PROTOCOL-CONSISTENT split assignment for newly arriving documents,
    * against a FROZEN reference: the reference corpus's signature index
    * plus that corpus's (leakage-safe) train/valid/test assignment
    * ([[graft.ops.DedupOps.leakageSafeSplit]] is the intended producer).
    * A new doc whose MinHash signature agrees with a reference doc at
    * ≥ `minEst` INHERITS that doc's split — a fresh crawl of a train
    * document can never land in the eval set as the corpus grows, which
    * is the split-integrity guarantee [[graft.ops.DedupOps.splitLeakage]]
    * audits for; an unmatched doc falls back to its own
    * content-addressed hash split. Multi-match ties break on the
    * smallest matched reference doc_id (min over (idx_id, split)
    * structs — deterministic, partitioning-invariant, never `rand()`).
    *
    * ONE derivation serves the batch operator and the streaming loop
    * ([[splitAssignStream]]) — the two faces cannot diverge (the
    * `manifestRows` idiom). Scale shape: candidates come from the
    * banded equi-join (delta bands × index bands — never all-pairs);
    * the delta side is batch-sized, the index side is the reference
    * corpus's signatures (numPerm longs/doc, not text); the final
    * assignment join is delta-sized. Output: (doc_id, split,
    * inherited) — `inherited` marks docs whose split came from the
    * reference rather than their own hash.
    */
  def assignSplitsBatch(batch: DataFrame, index: DataFrame,
                        refSplits: DataFrame, minEst: Double = 0.5,
                        numPerm: Int = 16): DataFrame = {
    DedupOps.requireSignatureIndex(index)
    require(refSplits.columns.sorted.sameElements(Array("doc_id", "split")),
      s"refSplits must be (doc_id, split); got ${refSplits.columns.mkString(",")}")
    // persisted for the duration of the call only (the dedupIncremental
    // contract): three plan branches reference the delta signatures
    val dsig = DedupOps.signatureIndex(batch, numPerm).persist()
    try {
      val cand = DedupOps.bands(dsig, numPerm, "doc_id")
        .join(DedupOps.bands(index.withColumnRenamed("doc_id", "idx_id"), numPerm, "idx_id"),
          Seq("band", "band_key"))
        .select("doc_id", "idx_id").distinct()
      val inherited = cand
        .join(dsig.select(col("doc_id"), col("sig").as("sa")), "doc_id")
        .join(index.select(col("doc_id").as("idx_id"), col("sig").as("sb")), "idx_id")
        .withColumn("est", DedupOps.agreement(col("sa"), col("sb"), numPerm))
        .filter(col("est") >= minEst)
        .join(refSplits.select(col("doc_id").as("idx_id"),
          col("split").as("ref_split")), "idx_id")
        .groupBy("doc_id")
        .agg(min(struct(col("idx_id"), col("ref_split"))).as("m"))
        .select(col("doc_id"), col("m.ref_split").as("ref_split"))
      // eager: materialize the delta-sized assignment before unpersisting
      // the signatures it was derived from
      val out = batch.select("doc_id")
        .join(inherited, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("ref_split"),
            TextOps.splitLabel(TextOps.splitBucket(col("doc_id")))).as("split"),
          col("ref_split").isNotNull.as("inherited"))
      val localOut = out.persist()
      localOut.count()
      localOut
    } finally dsig.unpersist()
  }

  /** The streaming face of [[assignSplitsBatch]]: per micro-batch,
    * assign each arriving document a split consistent with the frozen
    * reference protocol, state-free (the reference is static within the
    * run — re-freeze it when the reference corpus is re-split). The
    * reference frames are persisted once at stream start (re-used every
    * trigger); caller owns the stream lifecycle and the cache (the
    * [[dedupAgainstIndexStream]] contract). Sink receives the batch's
    * (doc_id, split, inherited) rows; the CALLER unpersists each
    * batch's result — the loop itself unpersists after the sink call.
    */
  def splitAssignStream(spark: SparkSession, index: DataFrame,
                        refSplits: DataFrame, stream: DataFrame,
                        minEst: Double = 0.5, numPerm: Int = 16)
                       (sink: (DataFrame, Long) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val idx = index.persist()
    val ref = refSplits.persist()
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val assigned = assignSplitsBatch(
        batch.select("doc_id", "text"), idx, ref, minEst, numPerm)
      try sink(assigned, batchId)
      finally { assigned.unpersist(); () }
    }
  }

  /** The full production incremental-dedup LOOP: per micro-batch, dedup
    * the arriving documents against the persisted signature index
    * (batch [[DedupOps.dedupIncremental]] — band candidates +
    * signature agreement, intra-batch duplicates included), deliver the
    * batch's (doc_id, dup_of, is_dup) verdicts to `sink`, and APPEND the
    * survivors' signatures to the index — so tomorrow's batch dedups
    * against today's survivors without anything ever re-reading old
    * text. foreachBatch because the index is both read and grown inside
    * one trigger (a cycle no declarative streaming join can express).
    *
    * Idempotence on replay: a re-delivered batch re-matches against the
    * survivors it already appended (signature agreement 1.0 with
    * themselves), so re-appends are flagged as dups — dedup-at-sink on
    * doc_id, or run with exactly-once sinks. At 100 TB the index append
    * is signature-sized (numPerm longs/doc); compact it periodically so
    * the band derivation reads few large files.
    */
  def incrementalIndexLoop(spark: SparkSession, stream: DataFrame,
                           indexDir: String, minEst: Double = 0.5,
                           numPerm: Int = 16)
                          (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val docs = batch.select(col("doc_id").cast("long"), col("text"))
      val index = spark.read.parquet(indexDir)
      // dedupIncremental materializes + persists its OUTPUT and unpersists
      // its own intermediates — this loop owns only the returned handle,
      // so no session-wide clearCache is needed (one would evict
      // unrelated concurrent queries' caches every trigger).
      val verdicts = DedupOps.dedupIncremental(index, docs, minEst, numPerm)
      try {
        sink(verdicts, batchId)
        val survivors = docs.join(
          verdicts.filter(!col("is_dup")).select("doc_id"), "doc_id")
        DedupOps.signatureIndex(survivors, numPerm)
          .write.mode("append").parquet(indexDir)
      } finally verdicts.unpersist()
    }

  /** Periodic COMPACTION for the [[incrementalIndexLoop]] signature
    * index: the loop appends one signature-sized parquet slice per
    * trigger forever, so an unmaintained index degrades into
    * thousands of tiny files and — under at-least-once replay — carries
    * bit-identical re-appended rows. Compaction rewrites it as
    * `numFiles` large files with exact `distinct()` collapsing the
    * replay duplicates: signatures are DETERMINISTIC functions of text
    * ([[DedupOps.signatureIndex]]), so a re-delivered batch
    * re-appends byte-identical (doc_id, sig) rows and distinct removes
    * precisely those; two DIFFERENT sigs for one doc_id cannot be
    * produced by the loop.
    *
    * TTL story: `dropBefore` is an id-watermark retention horizon —
    * signatures with doc_id below it are dropped, after which deltas
    * matching ONLY expired documents are admitted as new (the standard
    * retention trade, made explicit here; pipelines that pack ingest
    * time into the id high bits get time-based TTL directly).
    *
    * The rewrite goes to a sibling `__next` directory first and is
    * published via [[graft.sources.SnapshotSwap]] (retire-then-swap
    * with `_SUCCESS`-gated recovery): a crash at ANY point — including
    * mid-swap — leaves a complete index generation recoverable on
    * restart. One (doc_id, sig)-shaped shuffle over the index — never
    * text, never shingles; safe at any index size.
    *
    * CONCURRENCY CONTRACT: run only while the appending loop is
    * QUIESCENT (query stopped, or from the driver between triggers) —
    * an append landing between this rewrite's index read and its
    * publish would be dropped by the swap (same contract as
    * [[StreamingIngest.compactDigestIndex]]).
    *
    * Returns (rows before, rows after).
    */
  def compactSignatureIndex(spark: SparkSession, indexDir: String,
                            numFiles: Int = 8,
                            dropBefore: Option[Long] = None): (Long, Long) =
    graft.sources.SnapshotSwap.compact(spark, indexDir, Seq("doc_id", "sig"), numFiles)(
      idx => dropBefore.fold(idx)(h => idx.filter(col("doc_id") >= h)).distinct())

  /** End-to-end streaming MinHash near-dup dedup: documents
    * (doc_id, text, `tsCol`) → watermark → band buckets → stateful match.
    */
  def minhashDedupStream(spark: SparkSession, stream: DataFrame,
                         minEst: Double = 0.5, numPerm: Int = 16,
                         watermarkDelay: String = "10 minutes",
                         stateTtlMs: Long = 10L * 60 * 1000,
                         maxBucket: Int = 10000,
                         tsCol: String = "ts"): Dataset[DupMatch] = {
    val banded = bandedSignatures(
      spark, stream.withWatermark(tsCol, watermarkDelay), numPerm, tsCol)
    dedupAgainstState(spark, banded, minEst, numPerm, stateTtlMs, maxBucket)
  }
}
