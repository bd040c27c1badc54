package graft

import graft.functions.PaymentJson
import graft.model.ExchangeRates
import graft.ops.PaymentOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{DataSourceScanExec, GenerateExec, InputAdapter, RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics via MemoryStream (SURVEY.md §5.4): Update-mode
  * changelog word count mirroring spark/kafka/App.java:74-85, and the
  * foreachBatch payments fan-out mirroring PaymentsService.java:50-59.
  */
class StreamingSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("A3 Update-mode word count emits per-trigger changelog deltas") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    val counts = StreamingOps.wordCountSpace(input.toDF().toDF("value"))
    val query = counts.writeStream.format("memory")
      .queryName("wc_update").outputMode(OutputMode.Update()).start()
    try {
      input.addData("a b a")
      query.processAllAvailable()
      val batch1 = spark.table("wc_update").as[(String, Long)].collect().toMap
      assert(batch1 == Map("a" -> 2L, "b" -> 1L))

      input.addData("b c")
      query.processAllAvailable()
      // Update mode appends only changed keys to the memory sink:
      // b updated to 2, c new at 1; a NOT re-emitted.
      val all = spark.table("wc_update").as[(String, Long)].collect().toSeq
      val afterBatch2 = all.diff(batch1.toSeq)
      assert(afterBatch2.toSet == Set("b" -> 2L, "c" -> 1L))
    } finally query.stop()
  }

  test("A2/K4 changelog keeps state across triggers (KTable semantics)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    val counts = StreamingOps.wordCountRegex(input.toDF().toDF("value"))
    val query = counts.writeStream.format("memory")
      .queryName("wc_state").outputMode(OutputMode.Complete()).start()
    try {
      input.addData("To be, or NOT to be")
      query.processAllAvailable()
      input.addData("to be")
      query.processAllAvailable()
      val state = spark.table("wc_state").as[(String, Long)].collect().toMap
      assert(state == Map("to" -> 3L, "be" -> 3L, "or" -> 1L, "not" -> 1L))
    } finally query.stop()
  }

  test("F3 foreachBatch fan-out writes both sinks from one pass, strict threshold") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val main = collection.mutable.ArrayBuffer.empty[String]
    val susp = collection.mutable.ArrayBuffer.empty[String]
    val query = StreamingOps.paymentsFanout(
      input.toDF().toDF("k", "value"),
      ExchangeRates.ratesDF(spark),
      (df: DataFrame, _: Long) => main.synchronized { main ++= df.select("value").as[String].collect() },
      (df: DataFrame, _: Long) => susp.synchronized { susp ++= df.select("value").as[String].collect() }
    ).start()
    try {
      input.addData(
        (1L, """{"currency":"GBP","amount":999999,"ts":1}"""),   // suspicious
        (2L, """{"currency":"GBP","amount":1000000,"ts":2}"""),  // boundary: NOT
        (3L, "garbage"),                                          // dropped
        (4L, """{"currency":"USD","amount":2000000,"ts":3}""")   // not suspicious
      )
      query.processAllAvailable()
      assert(main.size == 3)      // both suspicious and non-suspicious land in main
      assert(susp.size == 1)
      assert(susp.head.contains("999999"))
    } finally query.stop()
  }

  test("S7/S8 generators produce the declared shapes") {
    val p = StreamingOps.syntheticPayments(spark)
    assert(p.isStreaming && p.columns.toSeq == Seq("currency", "amount", "ts"))
    val t = StreamingOps.textReplay(spark, Seq("line one", "line two"))
    assert(t.isStreaming && t.columns.toSeq == Seq("value"))
  }

  /** Every physical node of `p`, through AQE stages and into the plans
    * that built the caches it scans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    collect(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }

  private def joinsOrBroadcasts(p: SparkPlan): Seq[SparkPlan] =
    nodes(p).filter(n => n.isInstanceOf[BaseJoinExec] || n.isInstanceOf[BroadcastExchangeLike])

  /** Checks one decode per record, `from_json` only as the kernel's
    * fallback, and every `GenerateExec` inside a whole-stage codegen
    * stage, on the physical plan `p`. */
  private def assertDecodeStaged(p: SparkPlan): Unit = {
    val all = nodes(p)
    val exprs = all.flatMap(_.expressions)
    assert(exprs.flatMap(_.collect { case k: PaymentJson => k }).size == 1, p.toString)
    assert(exprs.forall(_.find(_.isInstanceOf[JsonToStructs]).isEmpty), p.toString)
    // a stage's own operators: everything below it up to its InputAdapters
    def own(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case n => n +: n.children.flatMap(own)
    }
    val staged = all.collect { case w: WholeStageCodegenExec => own(w.child) }.flatten
    val gens = all.collect { case g: GenerateExec => g }
    assert(gens.nonEmpty && gens.forall(g => staged.exists(_ eq g)), p.toString)
  }

  test("payments plan shape: one JSON parse, no join or broadcast, one source read per batch") {
    // a Range source, so the optimizer cannot fold the parse into local data
    val json = spark.range(3).select(col("id").as("k"),
      when(col("id") === 0, """{"currency":"GBP","amount":999999,"ts":1}""")
        .when(col("id") === 1, "garbage").as("value"))
    val decoded = PaymentOps.jsonDecode(json)
    // one decode per record, and its fallback is from_json(value, paymentSchema),
    // held by the kernel rather than planned beside it
    val exprs = decoded.queryExecution.optimizedPlan.flatMap(_.expressions)
    val kernels = exprs.flatMap(_.collect { case k: PaymentJson => k })
    assert(kernels.size == 1, decoded.queryExecution.optimizedPlan.toString)
    assert(exprs.forall(_.find(_.isInstanceOf[JsonToStructs]).isEmpty),
      decoded.queryExecution.optimizedPlan.toString)
    val fallback = kernels.head.fallback
    assert(fallback.schema == PaymentOps.paymentSchema && fallback.options.isEmpty &&
      fallback.child == kernels.head.value, fallback.toString)
    assert(decoded.select("k").as[Long].collect().toSeq == Seq(0L))
    assertDecodeStaged(decoded.queryExecution.executedPlan)

    val conv = PaymentOps.convert(decoded, ExchangeRates.ratesDF(spark))
    assert(conv.collect().length == 1)
    assert(conv.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty)
    assert(joinsOrBroadcasts(conv.queryExecution.executedPlan).isEmpty,
      conv.queryExecution.executedPlan.toString)

    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val sinkPlans = collection.mutable.ArrayBuffer.empty[SparkPlan]
    def sink(df: DataFrame, id: Long): Unit = sinkPlans.synchronized {
      df.collect()
      sinkPlans += df.queryExecution.executedPlan
    }
    val query = StreamingOps.paymentsFanout(input.toDF().toDF("k", "value"),
      ExchangeRates.ratesDF(spark), sink, sink).start()
    val added = Seq(5, 3, 7)
    try {
      for ((n, b) <- added.zipWithIndex) {
        input.addData((0 until n).map(i => (100L * b + i,
          s"""{"currency":"${ExchangeRates.currencies(i % 5)}","amount":${i * 400000},"ts":$i}""")))
        query.processAllAvailable()
        // the trigger's incremental plan decodes, converts and encodes
        val incremental = query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        assertDecodeStaged(incremental.executedPlan)
        assert(joinsOrBroadcasts(incremental.executedPlan).isEmpty, incremental.executedPlan.toString)
      }
      val perBatch = query.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
      assert(perBatch == added.map(_.toLong), s"numInputRows per batch: $perBatch")
    } finally query.stop()
    assert(sinkPlans.size == 2 * added.size)
    sinkPlans.foreach { p =>
      assert(joinsOrBroadcasts(p).isEmpty, p.toString)
      // both sinks scan the batch's pinned rows: the encoded output plus
      // the flag, with no session cache, file scan or JSON decode above them
      val leaves = nodes(p).filter(_.children.isEmpty)
      assert(leaves.map(_.getClass) == Seq(classOf[RDDScanExec]), p.toString)
      assert(leaves.head.output.map(_.name) == Seq("key", "value", "is_suspicious"), p.toString)
      assert(!nodes(p).exists(n => n.isInstanceOf[InMemoryTableScanExec] ||
        n.isInstanceOf[DataSourceScanExec]), p.toString)
      assert(nodes(p).forall(_.expressions.forall(_.collectFirst {
        case e @ (_: JsonToStructs | _: PaymentJson) => e }.isEmpty)), p.toString)
    }
  }
}
