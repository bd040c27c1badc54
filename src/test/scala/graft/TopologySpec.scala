package graft

import graft.model.ExchangeRates
import graft.ops.TextOps
import graft.plans._
import graft.streaming.{CollectingMetricsSink, StreamingOps, TopologyMetricsListener, TopologyRegistrar}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

/** B5/B6: topology builder semantics (kstreams/App.java:35-58), plan→
  * topology derivation, and the metrics listener cadence (O1/O2).
  */
class TopologySpec extends SparkSpec {
  import spark.implicits._

  test("builder mirrors the reference chain and tolerates duplicate names") {
    val topo = TopologyBuilder.start("SparkStreaming", "wordcount")
      .withTopic("wordcount-input").withDescription("input").endNode()
      .withNode("groupby", NodeType.Select).withParent("wordcount-input").endNode()
      .withNode("groupby", NodeType.GroupBy).withParent("wordcount-input").endNode()
      .withNode("count", NodeType.Count).withDescription("count")
        .withRepresentation(Representation.Table).withParent("groupby").endNode()
      .withTopic("wordcount-output").withParent("count").endNode()
      .build()
    // duplicate "groupby" nodes: last wins (SURVEY §2.5)
    val d = topo.deduped.nodes
    assert(d.count(_.name == "groupby") == 1)
    assert(d.find(_.name == "groupby").get.nodeType == NodeType.GroupBy)
    assert(topo.toJson.contains("\"appName\":\"wordcount\""))
    assert(topo.toJson.contains("\"parents\":[\"count\"]"))
  }

  test("plan-derived topology of word count is TOPIC -> SELECT -> GROUPBY -> COUNT") {
    val docs = Seq((1L, "a b a")).toDF("doc_id", "text")
    val wc = TextOps.wordCount(TextOps.tokenizeSpace(docs, col("text")))
    val topo = TopologyExtract.fromDataFrame(wc, "Spark", "wc")
    val types = topo.nodes.map(_.nodeType)
    assert(types == Seq(NodeType.Topic, NodeType.Select, NodeType.GroupBy, NodeType.Count))
    // edges chain upstream
    val byName = topo.nodes.map(n => n.name -> n).toMap
    val count = topo.nodes.last
    val groupby = byName(count.parents.head)
    val select = byName(groupby.parents.head)
    assert(select.nodeType == NodeType.Select && select.parents.nonEmpty)
  }

  test("O1 topology registration publishes the DAG JSON once") {
    val sink = new CollectingMetricsSink
    val topo = TopologyBuilder.start("Spark", "app").withTopic("t").endNode().build()
    TopologyRegistrar.register(topo, sink)
    assert(sink.all.size == 1)
    assert(sink.all.head.startsWith("""{"kind":"topology""""))
  }

  test("O2 metrics listener publishes progress, throttled to the interval") {
    implicit val sq = spark.sqlContext
    val sink = new CollectingMetricsSink
    var now = 0L
    val listener = new TopologyMetricsListener("app", sink,
      intervalMs = 2000L, clock = () => now)
    spark.streams.addListener(listener)
    val input = MemoryStream[String]
    val query = input.toDF().toDF("value")
      .writeStream.format("memory").queryName("metrics_probe")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData("x"); query.processAllAvailable()   // t=0: publish
      now = 500L
      input.addData("y"); query.processAllAvailable()   // t=500: throttled
      now = 2500L
      input.addData("z"); query.processAllAvailable()   // t=2500: publish
      // allow async listener bus to drain
      val deadline = System.currentTimeMillis() + 10000
      while (sink.all.count(_.contains("\"kind\":\"metrics\"")) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val metrics = sink.all.filter(_.contains("\"kind\":\"metrics\""))
      assert(metrics.size == 2, s"expected 2 throttled publishes, got:\n${sink.all.mkString("\n")}")
      assert(sink.all.exists(_.contains("\"kind\":\"queryStarted\"")))
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("O1 auto-registration: query start publishes the extracted topology DAG") {
    implicit val sq = spark.sqlContext
    val sink = new CollectingMetricsSink
    val listener = new TopologyMetricsListener("auto_app", sink,
      autoRegisterFrom = Some(spark))
    spark.streams.addListener(listener)
    val input = MemoryStream[String]
    val query = graft.streaming.StreamingOps.wordCountSpace(input.toDF().toDF("value"))
      .writeStream.format("memory").queryName("auto_topo")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData("a b a"); query.processAllAvailable()
      val deadline = System.currentTimeMillis() + 10000
      while (!sink.all.exists(_.startsWith("""{"kind":"topology"""")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val topo = sink.all.filter(_.startsWith("""{"kind":"topology""""))
      assert(topo.nonEmpty, s"no topology payload on query start:\n${sink.all.mkString("\n")}")
      // the extracted DAG reflects the word-count plan: an aggregate node
      assert(topo.head.contains("groupby"), topo.head)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("O1 auto-registration: the payments fan-out publishes its decode/convert/route as a SELECT") {
    implicit val sq = spark.sqlContext
    val sink = new CollectingMetricsSink
    val listener = new TopologyMetricsListener("payments", sink,
      autoRegisterFrom = Some(spark))
    spark.streams.addListener(listener)
    val input = MemoryStream[(Long, String)]
    val noop = (_: DataFrame, _: Long) => ()
    val query = StreamingOps.paymentsFanout(input.toDF().toDF("k", "value"),
      ExchangeRates.ratesDF(spark), noop, noop).queryName("payments_topo").start()
    try {
      input.addData((1L, """{"currency":"GBP","amount":999999,"ts":1}"""))
      query.processAllAvailable()
      val deadline = System.currentTimeMillis() + 10000
      while (!sink.all.exists(_.startsWith("""{"kind":"topology"""")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val topo = sink.all.filter(_.startsWith("""{"kind":"topology""""))
      assert(topo.size == 1, s"one topology payload on query start:\n${sink.all.mkString("\n")}")
      // PaymentsService's decode → convert → route, downstream of the source
      val nodes = new com.fasterxml.jackson.databind.ObjectMapper().readTree(topo.head)
        .get("payload").get("nodes").elements().asScala.toSeq
      def names(t: String) = nodes.filter(_.get("type").asText == t).map(_.get("name").asText).toSet
      val sources = names("TOPIC")
      assert(sources.nonEmpty && nodes.exists(n => n.get("type").asText == "SELECT" &&
        n.get("parents").elements().asScala.exists(p => sources(p.asText))), topo.head)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }
}

class TopologyJoinDerivationSpec extends SparkSpec {
  import spark.implicits._

  test("plan-derived topology of a join query contains a JOIN node with two parents") {
    val facts = Seq((1L, "GBP"), (2L, "USD")).toDF("id", "currency")
    val dims = Seq(("GBP", 1.0), ("USD", 1.3)).toDF("currency", "rate")
    val joined = facts.join(dims, "currency")
      .groupBy("currency").agg(org.apache.spark.sql.functions.count("*").as("n"))
    val topo = graft.plans.TopologyExtract.fromDataFrame(joined, "Spark", "j")
    val join = topo.nodes.find(_.nodeType == graft.plans.NodeType.Join)
    assert(join.isDefined && join.get.parents.size == 2)
    assert(topo.nodes.last.nodeType == graft.plans.NodeType.Count)
    // every parent edge resolves to a declared node
    val names = topo.nodes.map(_.name).toSet
    assert(topo.nodes.flatMap(_.parents).forall(names.contains))
  }
}
