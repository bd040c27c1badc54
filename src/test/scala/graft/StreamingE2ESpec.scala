package graft

import graft.model.ExchangeRates
import graft.ops.PaymentOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** File-backed end-to-end run of the FULL streaming payments pipeline —
  * source → decode → convert → fan-out → two sinks → read back — the loop
  * the reference runs against Kafka (PaymentsService.java:44-59). No
  * kafka-clients jars exist in this environment, so the file source/sink
  * stands in for the broker: same micro-batch engine, same checkpointed
  * offset tracking, same foreachBatch fan-out; only the connector differs.
  */
class StreamingE2ESpec extends SparkSpec {
  import spark.implicits._

  private def mkOrders(fromKey: Long, toKey: Long): DataFrame =
    spark.range(fromKey, toKey).select(
      col("id").as("o_orderkey"),
      (col("id").cast("double") * 931.37).as("o_totalprice"),
      to_timestamp(lit("1995-01-01 00:00:00")).as("o_orderdate"))

  test("payments pipeline end-to-end over files: source → fanout → sinks → read-back") {
    val root = tempDir("graft_e2e").toString
    val (inDir, mainDir, suspDir, cp) =
      (s"$root/in", s"$root/main", s"$root/susp", s"$root/cp")

    // Increment 1: 199 payments (every 97th malformed) land in the source
    // dir as multiple files, so AvailableNow splits them into micro-batches.
    val feed1 = PaymentOps.syntheticPaymentsJson(mkOrders(1, 200))
    feed1.repartition(4).write.parquet(inDir)

    def runPipeline(): Unit = {
      val src = spark.readStream
        .schema("k LONG, value STRING")
        .option("maxFilesPerTrigger", 2)   // force >1 micro-batch per run
        .parquet(inDir)
      val q = StreamingOps.paymentsFanout(
        src, ExchangeRates.ratesDF(spark),
        (df: DataFrame, _: Long) => df.write.mode("append").parquet(mainDir),
        (df: DataFrame, _: Long) => df.write.mode("append").parquet(suspDir))
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runPipeline()

    // Expected = the (DuckDB-verified) batch operators over the same feed.
    def expected(feed: DataFrame): (Set[(String, String)], Set[(String, String)]) = {
      val conv = PaymentOps.convert(PaymentOps.jsonDecode(feed), ExchangeRates.ratesDF(spark))
      (PaymentOps.jsonEncode(conv).as[(String, String)].collect().toSet,
        PaymentOps.jsonEncode(conv.filter(PaymentOps.suspicious)).as[(String, String)].collect().toSet)
    }
    val (expMain1, expSusp1) = expected(feed1)
    val gotMain1 = spark.read.parquet(mainDir).as[(String, String)].collect().toSet
    val gotSusp1 = spark.read.parquet(suspDir).as[(String, String)].collect().toSet
    assert(gotMain1 == expMain1 && expMain1.nonEmpty)
    assert(gotSusp1 == expSusp1 && expSusp1.nonEmpty)
    assert(gotSusp1.subsetOf(gotMain1))   // fan-out: suspicious also reach main

    // Increment 2: more source files + a RESTART on the same checkpoint —
    // only the new files are processed (offset log), nothing re-emitted.
    val feed2 = PaymentOps.syntheticPaymentsJson(mkOrders(200, 260))
    feed2.repartition(2).write.mode("append").parquet(inDir)
    runPipeline()

    val (expMain2, _) = expected(feed2)
    val gotMain2 = spark.read.parquet(mainDir).as[(String, String)].collect().toSet
    assert(gotMain2 == expMain1 ++ expMain2)
    // multiset check: restart must not duplicate increment-1 rows either
    assert(spark.read.parquet(mainDir).count() == (expMain1 ++ expMain2).size)
  }
}
