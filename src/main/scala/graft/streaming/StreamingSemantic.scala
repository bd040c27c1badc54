package graft.streaming

import graft.ops.SimilarityOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One vector landed in its hyperplane-signature bucket. `emb`/`norm` ride
  * along so cosine verification needs no second lookup.
  */
case class BucketedVec(bucket: Long, vec_id: Long, emb: Seq[Double],
                       norm: Double, ts: java.sql.Timestamp)

/** A verified semantic near-duplicate: `vec_id` shares a bucket with the
  * earlier `dup_of` at cosine ≥ minCos.
  *
  * SENTINEL: `dup_of = -1, cos = -1.0` marks a hot-bucket OVERFLOW — the
  * vector arrived at a bucket already at `maxBucket` capacity and was
  * neither compared nor retained (same loud-miss contract as
  * [[DupMatch]]). Filter `cos >= 0` for matches.
  */
case class VecMatch(vec_id: Long, dup_of: Long, cos: Double)

private case class VecBucket(vecs: List[(Long, Seq[Double], Double)])

/** Streaming SEMANTIC near-dup dedup — the embedding twin of
  * [[StreamingDedup]] (which handles lexical MinHash): each arriving
  * vector is sign-bucketed map-side on the deterministic hyperplanes
  * ([[SimilarityOps.lshPlanes]], the same planes as the batch
  * `semanticDecontaminateLsh`/`embeddingNearDupLsh` paths), and each
  * bucket keeps flatMapGroupsWithState state of the (vec_id, emb, norm)
  * triples seen within the watermark. A new arrival is compared ONLY
  * against its own bucket's state — candidates-by-collision — and emitted
  * as a [[VecMatch]] when cosine ≥ `minCos`. Near-identical vectors
  * (cos ≥ 0.99 ⇒ angle ≤ ~8°) land in the same bucket unless a
  * hyperplane splits that small angle, so recall at dedup thresholds is
  * near-1; exact copies collide with probability 1.
  *
  * State sizing at 100 TB: per retained vector the state is dims doubles
  * + 16 bytes; event-time timeouts evict buckets untouched for
  * `stateTtl` past the watermark, so total state is horizon-sized ×
  * (dims + 2) × 8 bytes — never corpus-sized. `maxBucket` caps
  * degenerate buckets (e.g. zero-vector pileups) loudly via the
  * sentinel, the same skew valve as the MinHash stream's cap.
  */
object StreamingSemantic {

  /** Map-side bucketing projection: embedding → double cast → norm →
    * hyperplane sign bucket. Stateless — safe before the stateful
    * operator. Key derivation is identical to the batch LSH paths, so a
    * streaming bucket equals the batch bucket for the same vector.
    */
  def bucketedVectors(spark: SparkSession, stream: DataFrame,
                      nPlanes: Int = 8, tsCol: String = "ts"): Dataset[BucketedVec] = {
    import spark.implicits._
    stream
      .withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("norm", sqrt(graft.functions.native.dotFold(col("emb"), col("emb"))))
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
      .select(col("bucket").cast("long"), col("vec_id").cast("long"),
        col("emb"), col("norm"), col(tsCol).as("ts"))
      .as[BucketedVec]
  }

  /** The stateful core: per bucket, match each arrival against the
    * bucket's retained vectors by exact cosine, then retain it. Input
    * must already carry a watermark on `ts` (set by
    * [[semanticDedupStream]]).
    */
  def dedupAgainstState(spark: SparkSession, bucketed: Dataset[BucketedVec],
                        minCos: Double, stateTtlMs: Long,
                        maxBucket: Int): Dataset[VecMatch] = {
    import spark.implicits._
    bucketed.groupByKey(_.bucket)
      .flatMapGroupsWithState[VecBucket, VecMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, events: Iterator[BucketedVec], state: GroupState[VecBucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = collection.mutable.ArrayBuffer.empty[VecMatch]
            // vec_id order: deterministic intra-batch matching, oriented
            // smaller-id-first like the batch pair orientation.
            val arrivals = events.toSeq.sortBy(_.vec_id)
            var seen = state.getOption.map(_.vecs).getOrElse(Nil)
            arrivals.foreach { e =>
              if (seen.lengthCompare(maxBucket) < 0) {
                seen.foreach { case (id, emb, nrm) =>
                  if (id != e.vec_id) {
                    var d = 0.0
                    var i = 0
                    val n = math.min(emb.length, e.emb.length)
                    while (i < n) { d += emb(i) * e.emb(i); i += 1 }
                    val cos = d / (nrm * e.norm)
                    if (cos >= minCos) out += VecMatch(e.vec_id, id, cos)
                  }
                }
                seen = (e.vec_id, e.emb, e.norm) :: seen
              } else {
                out += VecMatch(e.vec_id, -1L, -1.0)
              }
            }
            state.update(VecBucket(seen))
            // Evict once the watermark passes last-touch + TTL (same
            // max-event-time anchoring as StreamingDedup — the watermark
            // itself lags and is 0 in early batches).
            val lastTouch = math.max(
              arrivals.iterator.map(_.ts.getTime).max,
              state.getCurrentWatermarkMs())
            state.setTimeoutTimestamp(lastTouch + stateTtlMs)
            out.iterator
          }
      }
  }

  /** End-to-end streaming semantic near-dup dedup: vectors
    * (vec_id, embedding, `tsCol`) → watermark → hyperplane buckets →
    * stateful cosine match.
    */
  def semanticDedupStream(spark: SparkSession, stream: DataFrame,
                          minCos: Double = 0.99, nPlanes: Int = 8,
                          watermarkDelay: String = "10 minutes",
                          stateTtlMs: Long = 10L * 60 * 1000,
                          maxBucket: Int = 10000,
                          tsCol: String = "ts"): Dataset[VecMatch] = {
    val bucketed = bucketedVectors(
      spark, stream.withWatermark(tsCol, watermarkDelay), nPlanes, tsCol)
    dedupAgainstState(spark, bucketed, minCos, stateTtlMs, maxBucket)
  }

  /** STATELESS streaming semantic decontamination — the streaming twin of
    * [[graft.ops.SemanticOps.semanticDecontaminateLsh]]: arriving train
    * vectors are bucketed map-side and anti-joined (stream-static,
    * Append-legal, zero state) against the PERSISTED bucketed benchmark
    * set; survivors pass through. The eval side is bucketed once and
    * persisted — without it Spark re-derives the static side every
    * micro-batch.
    */
  def decontaminateStream(spark: SparkSession, evalEmbeddings: DataFrame,
                          stream: DataFrame, minCos: Double = 0.99,
                          nPlanes: Int = 8): DataFrame = {
    val eval = evalEmbeddings
      .withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("norm", sqrt(graft.functions.native.dotFold(col("emb"), col("emb"))))
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
      .select(col("vec_id").as("e_id"), col("emb").as("e_emb"),
        col("norm").as("e_norm"), col("bucket").as("e_bucket"))
      .persist()
    val train = stream
      .withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("norm", sqrt(graft.functions.native.dotFold(col("emb"), col("emb"))))
      .withColumn("bucket", SimilarityOps.bucketExpr(nPlanes))
    train.join(eval,
        col("bucket") === col("e_bucket") &&
          graft.functions.native.dotFold(col("emb"), col("e_emb")) /
            (col("norm") * col("e_norm")) >= minCos,
        "left_anti")
      .select(col("vec_id"), col("embedding"))
  }

  /** The persisted-ANN-index maintenance LOOP (VERDICT r11 item 5) — the
    * embedding twin of [[StreamingDedup.incrementalIndexLoop]]: per
    * micro-batch, query the arriving vectors against the persisted
    * [[graft.ops.PqOps.annIndex]] spine (bucket-routed ADC against the
    * FROZEN codebook — [[graft.ops.PqOps.annIndexIncremental]]), deliver
    * the batch's (vec_id, nn_id, adc_dist) verdicts to `sink`, and
    * APPEND the batch's own codes to the index — so tomorrow's batch
    * queries today's vectors without anything ever re-reading raw
    * embeddings. foreachBatch because the index is both read and grown
    * inside one trigger. The caller seeds `indexDir` with the base
    * corpus's annIndex (possibly zero rows, schema-complete) and owns
    * the frozen codebook's lifecycle — re-training it would invalidate
    * every persisted code, the same re-freeze contract as
    * [[splitAssignStream]]'s reference splits.
    *
    * Idempotence on replay: codes are deterministic functions of the
    * vector and the frozen codebook, so a re-delivered batch re-appends
    * byte-identical (vec_id, bucket, codes) rows — compaction's
    * `distinct()` collapses precisely those, exactly as the lexical
    * loop's signature index.
    */
  def annIndexLoop(spark: SparkSession, stream: DataFrame, indexDir: String,
                   cb: Array[Array[Seq[Double]]], nPlanes: Int = 8)
                  (sink: (DataFrame, Long) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val vecs = batch.select(col("vec_id").cast("long"), col("embedding"))
      val index = spark.read.parquet(indexDir)
      sink(graft.ops.PqOps.annIndexIncremental(index, vecs, cb, nPlanes), batchId)
      graft.ops.PqOps.annIndex(vecs, cb, nPlanes)
        .write.mode("append").parquet(indexDir)
    }

  /** Periodic COMPACTION for the [[annIndexLoop]] spine — the embedding
    * twin of [[StreamingDedup.compactSignatureIndex]], same contracts:
    * the loop appends one codes-sized parquet slice per trigger forever,
    * so compaction rewrites the index as `numFiles` large files with
    * exact `distinct()` collapsing at-least-once re-appends (codes are
    * DETERMINISTIC functions of the vector and the frozen codebook, so
    * a re-delivered batch appends byte-identical (vec_id, bucket, codes)
    * rows and distinct removes precisely those). `dropBefore` is the
    * same id-watermark retention horizon. Crash-safe publish via
    * [[graft.sources.SnapshotSwap]]; run only while the appending loop
    * is quiescent. One (vec_id, bucket, m codes)-shaped shuffle — never
    * raw vectors; safe at any index size. Returns (before, after).
    */
  def compactAnnIndex(spark: SparkSession, indexDir: String,
                      numFiles: Int = 8,
                      dropBefore: Option[Long] = None): (Long, Long) =
    graft.sources.SnapshotSwap.compact(spark, indexDir, Seq("vec_id", "bucket", "codes"), numFiles)(
      idx => dropBefore.fold(idx)(h => idx.filter(col("vec_id") >= h)).distinct())
}
