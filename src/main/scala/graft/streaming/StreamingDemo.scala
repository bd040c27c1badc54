package graft.streaming

import graft.model.ExchangeRates
import graft.plans.{NodeType, TopologyBuilder, TopologyExtract}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end demo of the streaming + observability stack, mirroring the
  * reference's PaymentsServiceApp + spark/kafka/App wiring without a
  * broker: synthetic payments generator (S7) → JSON encode → fan-out
  * pipeline (F1-F4, K1/K2) with topology registration (O1) and throttled
  * metrics (O2) on a console sink. Run: sbt "runMain graft.streaming.StreamingDemo".
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    val sink = new ConsoleMetricsSink

    // A rate-source query stopped mid-commit can surface the interrupt as
    // CANNOT_WRITE_STATE_STORE (the commit raced the stop, not a failure);
    // the demo's assertions read row counts BEFORE stopping, so a noisy
    // stop is ignorable here.
    def safeStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      try q.stop() catch { case e: Throwable =>
        println(s"[demo] ignored stop-race: ${e.getClass.getSimpleName}") }

    // O1 — declared topology, reference vocabulary
    val topo = TopologyBuilder.start("SparkStreaming", "payments-demo")
      .withTopic("payments").withDescription("synthetic payments").endNode()
      .withNode("convert", NodeType.Select).withDescription("rate lookup").withParent("payments").endNode()
      .withTopic("payments_xchg").withParent("convert").endNode()
      .withTopic("suspicious_payments").withParent("convert").endNode()
      .build()
    TopologyRegistrar.register(topo, sink)

    // O2 — metrics listener at the 2s reference cadence
    spark.streams.addListener(new TopologyMetricsListener("payments-demo", sink, 2000L))

    // S7 → wire-format JSON records (what a Kafka topic would carry)
    val payments = StreamingOps.syntheticPayments(spark, rowsPerSecond = 500)
      .select(col("currency").cast("string").as("k"),
        to_json(struct(col("currency"), col("amount"), col("ts"))).as("value"))

    var mainRows = 0L; var suspRows = 0L
    val query = StreamingOps.paymentsFanout(payments, ExchangeRates.ratesDF(spark),
      (df: DataFrame, id: Long) => { val n = df.count(); mainRows += n; println(s"[main-sink] batch=$id rows=$n") },
      (df: DataFrame, id: Long) => { val n = df.count(); suspRows += n; println(s"[susp-sink] batch=$id rows=$n") }
    ).start()

    query.awaitTermination(8000)
    safeStop(query)

    // Watermarked tumbling-window counts over the payment stream (the
    // bounded-state production form of the reference's A3 aggregate).
    val windowed = StreamingOps.windowedCounts(
      StreamingOps.syntheticPayments(spark, rowsPerSecond = 500)
        .withColumn("event_time", timestamp_millis(col("ts"))),
      "event_time", "currency", "2 seconds", "1 second")
    val wq = windowed.writeStream.format("memory").queryName("win_demo")
      .outputMode("update").start()
    wq.awaitTermination(6000)
    safeStop(wq)
    val winRows = spark.table("win_demo").count()
    println(s"[demo] windowed count rows=$winRows " +
      (if (winRows > 0) "PASS" else "FAIL"))
    // Stateful streaming near-dup dedup over a replayed text
    // stream — every 3rd line is a verbatim repeat, so the band-bucket
    // state must flag it (DupMatch rows in the memory sink).
    val lines = (0 until 12).map(i =>
      s"streaming text line number ${i % 4} with enough tokens to shingle")
    val corpus = array(lines.map(lit): _*)
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", 50).load()
      .select(col("value").as("doc_id"),
        element_at(corpus, (col("value") % lines.size + 1).cast("int")).as("text"),
        col("timestamp").as("ts"))
    val dq = StreamingDedup.minhashDedupStream(spark, docs,
        watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("dedup_demo")
      .outputMode("append").start()
    dq.awaitTermination(6000)
    safeStop(dq)
    val dupRows = spark.table("dedup_demo").count()
    println(s"[demo] streaming near-dup matches=$dupRows " +
      (if (dupRows > 0) "PASS" else "FAIL"))

    // O1 auto-derived topology from the batch equivalent, for comparison
    val derived = TopologyExtract.fromDataFrame(
      graft.ops.PaymentOps.pipeline(spark, graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")),
      "Spark", "payments-batch")
    sink.publish(s"""{"kind":"derivedTopology","payload":${derived.toJson}}""")
    println(s"[demo] main=$mainRows susp=$suspRows " +
      (if (mainRows > 0 && suspRows > 0 && suspRows < mainRows) "PASS" else "FAIL"))
    spark.stop()
  }
}
