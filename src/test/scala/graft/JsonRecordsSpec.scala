package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.plans.TopologyBuilder
import graft.streaming.{CollectingMetricsSink, TopologyMetricsListener, TopologyRegistrar}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Every hand-written JSON record graft publishes parses under a strict
  * parser, whatever text its names and descriptions carry. */
class JsonRecordsSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  test("Json.quote escapes quotes, backslashes and control characters") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    assert(mapper.readTree(Json.quote(s)).asText() == s)
  }

  test("listener records parse for a query and app name that hold a quote") {
    implicit val sq = spark.sqlContext
    val sink = new CollectingMetricsSink
    val listener = new TopologyMetricsListener("app\"x", sink, intervalMs = 0L)
    spark.streams.addListener(listener)
    val input = MemoryStream[String]
    val query = input.toDF().writeStream.format("noop").queryName("a\"b")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData("x"); query.processAllAvailable()
    } finally {
      query.stop()
    }
    val deadline = System.currentTimeMillis() + 10000
    while (!sink.all.exists(_.contains("queryTerminated")) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    spark.streams.removeListener(listener)
    val records = sink.all.map(mapper.readTree)
    val kinds = records.map(_.get("kind").asText())
    assert(Seq("queryStarted", "metrics", "queryTerminated").forall(kinds.contains), kinds)
    assert(records.forall(_.get("app").asText() == "app\"x"))
    val started = records.find(_.get("kind").asText() == "queryStarted").get
    assert(started.get("name").asText() == "a\"b")
  }

  test("a topology record parses when a node description holds a newline") {
    val sink = new CollectingMetricsSink
    val topo = TopologyBuilder.start("Spark", "app").withTopic("t")
      .withDescription("first line\nsecond line").endNode().build()
    TopologyRegistrar.register(topo, sink)
    val payload = mapper.readTree(sink.all.head).get("payload")
    assert(payload.get("nodes").get(0).get("description").asText() ==
      "first line\nsecond line")
  }
}
