package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of the LM-filter stage ([[graft.ops.TextOps.lmLikelihood]]
  * family): score arriving documents against a FROZEN bigram LM — the gate
  * position in a live ingestion pipeline, where a reference model trained
  * on the curated corpus filters the incoming crawl.
  *
  * Why foreachBatch and not a plain stream-static join: per-document
  * scoring is explode → join → re-aggregate on doc_id, and a streaming
  * groupBy is a STATEFUL aggregation to Spark even though every doc_id
  * occurs in exactly one micro-batch — the engine would hold every
  * already-scored doc's aggregate forever (unbounded state, Update-mode
  * only). Running the BATCH scorer per micro-batch keeps the exact batch
  * semantics (bitwise — spec-asserted parity) with zero streaming state;
  * the same once-per-batch pattern as [[StreamingDedup.incrementalIndexLoop]].
  *
  * Scale notes: the frozen LM is a static DataFrame the caller loads once
  * (persist() it — it is re-joined every trigger); per-trigger cost is the
  * batch scorer's cost on the micro-batch alone — the bigram join
  * broadcasts the LM when it fits and degrades to a (w1, w2) shuffle
  * equi-join when it doesn't, exactly as in batch.
  */
object StreamingText {

  /** Score each micro-batch of documents (doc_id, text, …) against the
    * frozen `lm` (w1, w2, p_cond) and hand (scores, batchId) to `sink`.
    * Scores carry (doc_id, n_bigrams, oov, min_p, avg_p) — the
    * [[graft.ops.TextOps.scoreAgainstLm]] schema.
    */
  def lmScoreStream(spark: SparkSession, lm: DataFrame, stream: DataFrame)
                   (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val docs = batch.select(col("doc_id").cast("long"), col("text"))
      sink(graft.ops.TextOps.scoreAgainstLm(lm, docs), batchId)
    }

  /** DSIR gate at ingestion time: score each micro-batch of documents
    * against a FROZEN importance-ratio table
    * ([[graft.ops.SemanticOps.dsirRatioTable]] — train once, persist,
    * reuse every trigger) and hand (scores, batchId) to `sink`. Scores
    * carry the [[graft.ops.SemanticOps.scoreAgainstRatios]] schema
    * (doc_id, n_dims, n_toks, oov, score_sum, score_avg); never-seen
    * features floor at ratio 0.0 and count into `oov`. Same zero-state
    * foreachBatch rationale as [[lmScoreStream]]: the per-doc
    * re-aggregation would be unbounded streaming state, but each doc_id
    * lives in exactly one micro-batch, so the batch scorer per trigger is
    * exact. Per-trigger cost is batch-scorer cost on the micro-batch
    * alone — the dims-sized ratio table broadcasts.
    */
  def dsirScoreStream(spark: SparkSession, ratios: DataFrame, stream: DataFrame,
                      dims: Int = 4096)
                     (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val docs = batch.select(col("doc_id").cast("long"), col("text"))
      sink(graft.ops.SemanticOps.scoreAgainstRatios(ratios, docs, dims), batchId)
    }

  /** Classify arriving documents against a FROZEN centroid model
    * ([[graft.ops.SemanticOps.centroidTrain]] — train once on the labeled
    * corpus, persist, reuse every trigger). Rows carry the
    * [[graft.ops.SemanticOps.centroidClassify]] schema minus `actual`
    * (an arriving crawl has no label — that is why it is being
    * classified): (doc_id, pred, score). Same zero-state foreachBatch
    * rationale as the scorers above: the per-doc feature aggregation +
    * argmax window would be unbounded streaming state, but each doc_id
    * lives in exactly one micro-batch.
    *
    * Every ingested doc_id reaches the sink: the batch
    * classifier's inner join drops docs sharing no hashed dim with any
    * centroid (empty text, all-OOV tokens) — acceptable in batch where
    * the input set is queryable, but an ingest gate that silently
    * swallows documents breaks downstream accounting. A left join back
    * to the micro-batch's doc_ids emits those as (doc_id, pred=NULL,
    * score=0.0), so the sink can count and route rejects explicitly.
    */
  def classifyStream(spark: SparkSession, model: DataFrame, stream: DataFrame,
                     dims: Int = 4096)
                    (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val docs = batch
        .select(col("doc_id").cast("long"), col("text"))
        .withColumn("lang", lit(null).cast("string"))
      val classified = graft.ops.SemanticOps.centroidClassify(model, docs, dims)
        .select(col("doc_id"), col("pred"), col("score"))
      val all = docs.select(col("doc_id"))
        .join(classified, Seq("doc_id"), "left")
        .select(col("doc_id"), col("pred"),
          coalesce(col("score"), lit(0.0)).as("score"))
      sink(all, batchId)
    }
}
