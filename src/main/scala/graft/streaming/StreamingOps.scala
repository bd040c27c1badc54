package graft.streaming

import graft.model.ExchangeRates
import graft.ops.{PaymentOps, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.storage.StorageLevel

/** Structured Streaming layer (SURVEY.md §2.1/2.2/§7 B4): the reference's
  * Kafka-sourced dataflows re-expressed as readStream→transform→writeStream.
  *
  * Sources S1-S6 collapse to [[kafkaSource]] (the stock `kafka` format — the
  * reference's `lenses-kafka` fork only added metrics, which our
  * StreamingQueryListener supplies instead, SURVEY §4.3). Sinks K1-K5
  * collapse to [[kafkaSink]]; K6 (SuspiciousPaymentsService.java:43-45's
  * empty loop) is plain `format("noop")`. The synthetic
  * generators S7/S8 are deterministic rate-source maps.
  *
  * Transform stages are the SAME batch functions from graft.ops —
  * Structured Streaming runs identical DataFrame code incrementally, so
  * correctness of the batch path (DuckDB-verified) carries over; tests
  * drive them via MemoryStream (SURVEY §5.4).
  */
object StreamingOps {

  /** S1-S6 — Kafka source (PaymentsService.java:113-121 poll loop ≙ micro-
    * batches; maxOffsetsPerTrigger ≙ MAX_POLL_RECORDS=50000).
    */
  def kafkaSource(spark: SparkSession, servers: String, topic: String,
                  maxOffsetsPerTrigger: Long = 50000L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()

  /** F5 — project the Kafka envelope to the string (k, value) shape the
    * pipeline stages consume (spark/kafka/App.java:74's CAST(value AS
    * STRING), plus the key the reference carries as currency/word).
    */
  def kafkaRecords(df: DataFrame): DataFrame =
    df.select(col("key").cast("string").as("k"),
      col("value").cast("string").as("value"))

  /** K1-K5 — Kafka sink: expects `key`/`value` string columns
    * (spark/kafka/App.java:79-85; Update mode + checkpoint).
    */
  def kafkaSink(df: DataFrame, servers: String, topic: String,
                checkpoint: String, mode: OutputMode = OutputMode.Update()): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode(mode)

  /** S7 — deterministic payments generator over the rate source
    * (PaymentsSimulator.java:25-46: 5 currencies round-robin; amount made
    * deterministic so tests can assert).
    */
  def syntheticPayments(spark: SparkSession, rowsPerSecond: Int = 13): DataFrame = {
    val currencies = array(ExchangeRates.currencies.map(lit): _*)
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        element_at(currencies, (col("value") % 5 + 1).cast("int")).as("currency"),
        (col("value") * 9973L % 2000000L + 1L).as("amount"),
        unix_millis(col("timestamp")).as("ts"))
  }

  /** S8 — text replay generator (kstreams/App.java:125-157's 15-line
    * corpus loop) over the rate source.
    */
  def textReplay(spark: SparkSession, lines: Seq[String], rowsPerSecond: Int = 15): DataFrame = {
    val corpus = array(lines.map(lit): _*)
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(element_at(corpus, (col("value") % lines.size + 1).cast("int")).as("value"))
  }

  /** A1-A3 — streaming word count, Update mode, watermark-free by
    * reference semantics (spark/kafka/App.java:74-81: split on single
    * space, no case fold, state unbounded — fine for a bounded vocabulary;
    * production pipelines add a watermark + windowing instead).
    * Input: a streaming DataFrame with a string `value` column.
    */
  def wordCountSpace(stream: DataFrame): DataFrame =
    TextOps.wordCount(TextOps.tokenizeSpace(stream, col("value")))

  /** F6 variant — regex tokenize + lowercase (kstreams/App.java:98-102). */
  def wordCountRegex(stream: DataFrame): DataFrame =
    TextOps.wordCount(TextOps.tokenizeRegex(stream, col("value")))

  /** Watermarked tumbling-window aggregation — the production form of the
    * reference's unwindowed A3 count: state per (key, window) is evicted
    * once the watermark passes the window end, so state is bounded by
    * (keys × windows-in-flight) instead of growing forever.
    */
  def windowedCounts(stream: DataFrame, eventTimeCol: String, keyCol: String,
                     windowDur: String, watermarkDelay: String): DataFrame =
    stream.withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** Declarative streaming sessionization: Spark's native session_window
    * (dynamic gap-merged windows) + watermark. Sessions merge by event
    * time, so an event that arrives late but inside the watermark joins
    * the session it falls in, whatever the trigger split. Each session's
    * window is [first event, last event + gap). The split rule is the
    * batch rule of [[graft.ops.EventOps.sessionize]]: a new session
    * starts when the gap between consecutive events is > g. Events
    * exactly g apart stay in one session, because windows [t, t + g)
    * that only touch merge (StatefulStreamingSpec pins both boundaries).
    */
  def sessionWindowCounts(stream: DataFrame, eventTimeCol: String, keyCol: String,
                          gap: String, watermarkDelay: String): DataFrame =
    stream.withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(session_window(col(eventTimeCol), gap), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** B8k streaming — decontaminate a LIVE document stream against a
    * static benchmark digest set. Stream-static LEFT ANTI joins are
    * unsupported by Structured Streaming (and a post-explode per-doc
    * aggregate would add streaming state), so the stateless production
    * shape is the reference's own in-memory-dimension pattern
    * (CurrencyExchangeRepo → broadcast variable): the eval-set 8-gram
    * digests ship once per executor, and each document is a map-side
    * typed filter — Append mode, zero state, the stream never shuffles.
    * Digests match [[graft.ops.DedupOps.decontaminate]]'s batch
    * digestion (md5 of the space-joined n-gram), so batch and stream
    * decontamination agree document-for-document.
    */
  def decontaminateStream(spark: SparkSession, stream: DataFrame,
                          benchDigests: Set[String], n: Int = 8): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(benchDigests)
    stream.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .filter { case (_, text) =>
        val toks = text.split(" ", -1)
        toks.length < n ||
          !toks.sliding(n).exists(w => bc.value.contains(graft.functions.Hashing.md5Hex(w.mkString(" "))))
      }
      .toDF("doc_id", "text")
  }

  /** B8k-frac streaming — FRACTIONAL contamination scoring as a
    * stateless stream stage (the scoring twin of [[decontaminateStream]],
    * mirroring the batch gate/score pair): per arriving document, the
    * fraction of its distinct n-grams present in the broadcast benchmark
    * digest set. Map-side only — the eval-sized set rides the broadcast,
    * each micro-batch is embarrassingly parallel, Append mode, zero
    * state; a pipeline routes on `frac` thresholds downstream exactly
    * like the batch composite.
    */
  def contaminationScoreStream(spark: SparkSession, stream: DataFrame,
                               benchDigests: Set[String], n: Int = 8): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(benchDigests)
    stream.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < n) None
        else {
          val grams = toks.sliding(n)
            .map(w => graft.functions.Hashing.md5Hex(w.mkString(" "))).toSet
          val hit = grams.count(bc.value.contains)
          Some((id, grams.size.toLong, hit.toLong, hit.toDouble / grams.size))
        }
      }
      .toDF("doc_id", "n_grams", "n_hit", "frac")
  }

  /** B8k-surgical streaming — SURGICAL decontamination of a LIVE stream:
    * every arriving document re-emitted with its
    * benchmark-covered token spans removed, matching
    * [[graft.ops.DedupOps.decontaminateSurgical]] document-for-document
    * (clean docs verbatim, fully-contaminated docs become '', null text
    * cleans to '' — the row-for-row contract). CALLER CONTRACT: feed
    * TRAINING documents only — this operator redacts
    * everything it receives, so the batch parity claim holds for the
    * training stream, not for a stream that still carries benchmark
    * docs. The batch twin's `doc_id % 50` routing is the registered
    * query's FIXTURE convention, not an operator semantic (the digests
    * here are an arbitrary caller-supplied eval set), so benchmark-side
    * routing belongs upstream: `stream.filter(...)` with whatever
    * predicate identifies the caller's eval corpus. Same stateless
    * shape as
    * [[decontaminateStream]]: the eval-set digests broadcast once per
    * executor, marking + interval coverage + reassembly are all local
    * to one document (a boolean coverage mask IS the merged-interval
    * filter), Append mode, zero state, the stream never shuffles.
    */
  def decontaminateSurgicalStream(spark: SparkSession, stream: DataFrame,
                                  benchDigests: Set[String], n: Int = 8): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(benchDigests)
    stream.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val clean =
          if (text == null) ""
          else {
            val toks = text.split(" ", -1)
            if (toks.length < n) text
            else {
              val covered = new Array[Boolean](toks.length)
              var i = 0
              while (i + n <= toks.length) {
                if (bc.value.contains(graft.functions.Hashing.md5Hex(
                  toks.slice(i, i + n).mkString(" ")))) {
                  var j = i
                  while (j < i + n) { covered(j) = true; j += 1 }
                }
                i += 1
              }
              // uncovered docs reassemble to the ORIGINAL string exactly:
              // split(" ", -1) + mkString(" ") is lossless (empty tokens
              // preserved), so "clean docs pass verbatim" holds by
              // construction, not by a separate fast path
              toks.indices.collect { case p if !covered(p) => toks(p) }
                .mkString(" ")
            }
          }
        (id, clean)
      }
      .toDF("doc_id", "text_clean")
  }

  /** B10 streaming — the corpus-cleaning pipeline as a STATELESS stream:
    * quality gate → PII scrub → deterministic hash split, every stage a
    * map-side expression from the batch operators (the same Columns,
    * literally — batch/stream parity is by construction, and the spec
    * still asserts it). No watermark, no state store, Append mode: at
    * 100 TB/day this is the shape you want — each micro-batch is
    * embarrassingly parallel, and a failed batch replays with zero state
    * reconciliation.
    */
  def cleanStream(stream: DataFrame,
                  minTokens: Long = 20, maxStopRatio: Double = 0.3,
                  maxAvgTokenLen: Double = 8.0): DataFrame =
    graft.ops.TextOps.textStats(stream, keep = Seq("text", "source"))
      .filter(col("n_tokens") >= minTokens &&
        col("stop_ratio") <= maxStopRatio &&
        col("avg_token_len") <= maxAvgTokenLen)
      .select(col("doc_id"), col("source"),
        graft.ops.TextOps.scrubbed(col("text")).as("text_clean"),
        col("quality_score"),
        graft.ops.TextOps.splitLabel(
          graft.ops.TextOps.splitBucket(col("doc_id"))).as("split"))

  /** B8a streaming — event-time dedup with bounded state: duplicates
    * arriving within the watermark are dropped, state for keys older than
    * the watermark is evicted (unlike plain dropDuplicates, whose state
    * grows forever — the only safe form at 100 TB/day stream volume).
    */
  def dedupWithinWatermark(stream: DataFrame, keys: Seq[String],
                           eventTimeCol: String, delay: String): DataFrame =
    stream.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** F1-F4+K1/K2 — the payments pipeline as ONE foreachBatch fan-out
    * (SURVEY §4.4: the reference splits after decode+convert inside one
    * consumer loop, PaymentsService.java:50-59 — two independent queries
    * would read the source twice).
    *
    * Decode, convert and encode are applied to the stream once, when the
    * query is built: `jsonEncodeRouted(convert(jsonDecode(jsonStream),
    * rates))`. Spark's incremental execution then plans that
    * one query each trigger, and the decode's `Generate` runs in the
    * scan's whole-stage codegen stage; no batch re-analyses or re-codegens
    * a frame of its own. The rates dimension is collected once, at build
    * time, into [[PaymentOps.rateLookup]]; no batch runs a join or a
    * broadcast. Each record is decoded once ([[PaymentOps.jsonDecode]]'s
    * native fast path with its exact `from_json` fallback).
    *
    * Each batch's rows, already encoded as `(key, value, is_suspicious)`,
    * are pinned: computed once, by the first sink's job, into a
    * batch-local RDD held at `MEMORY_AND_DISK` (one row array per
    * partition), which both sinks scan as a DataFrame. The source is
    * therefore read once per batch. The pin holds at most one trigger's
    * encoded rows and is released (non-blocking) when the batch ends,
    * whether or not a sink failed; it goes through no session-global cache
    * and plans no cached query. The main sink gets `(key, value)` of every
    * row, the suspicious sink `(key, value)` of the flagged ones. Sinks are
    * injected so tests (and Kafka/parquet prod paths) share the exact
    * fan-out logic. At-least-once per sink, matching the reference.
    */
  def paymentsFanout(jsonStream: DataFrame, rates: DataFrame,
                     mainSink: (DataFrame, Long) => Unit,
                     suspiciousSink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val routed = PaymentOps.jsonEncodeRouted(
      PaymentOps.convert(PaymentOps.jsonDecode(jsonStream), rates))
    routed.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // toRdd reuses its row buffers, so each row is copied into the pin;
      // a partition is stored as one array, which the block manager sizes
      // by sampling instead of estimating the size of every row object
      val pin = batch.queryExecution.toRdd
        .mapPartitions(rows => Iterator.single(rows.map(_.copy()).toArray))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val pinned = ColumnBridge.rowsFrame(batch.sparkSession, pin.flatMap(_.iterator), batch.schema)
        mainSink(pinned.select("key", "value"), batchId)
        suspiciousSink(pinned.filter(col("is_suspicious")).select("key", "value"), batchId)
      } finally pin.unpersist(blocking = false)
    }
  }
}
