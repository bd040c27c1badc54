package graft.streaming

import graft.plans.Topology
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.ConcurrentHashMap

/** Observability layer (SURVEY.md §2.6 O1-O4, §7 B6): topology
  * registration + interval-throttled throughput metrics, re-expressed on
  * Spark's native StreamingQueryListener instead of the reference's forked
  * Kafka clients (TopologyKafkaStreamsClientSupplier, kstreams/App.java:117
  * — Spark already exposes source/sink rates in progress events, SURVEY
  * §4.3).
  *
  * The sink is pluggable: console (reference's stdout debugging), an
  * in-memory collector (tests), or a Kafka `__topology__metrics` producer
  * in deployments that have kafka-clients on the classpath.
  */
trait MetricsSink {
  def publish(json: String): Unit
}

final class ConsoleMetricsSink extends MetricsSink {
  def publish(json: String): Unit = println(json)
}

/** Test/inspection sink collecting everything published. */
final class CollectingMetricsSink extends MetricsSink {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def publish(json: String): Unit = buf.add(json)
  def all: Seq[String] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
}

/** The deployment sink the reference actually ships:
  * a Kafka producer publishing topology DAGs to `__topology` and metric
  * records to `__topology__metrics` — the reference's two observability
  * topics (kstreams/App.java:64-65; PaymentsServiceApp.java:26-30 sets the
  * 2000 ms publish cadence this sink receives from
  * [[TopologyMetricsListener]]).
  *
  * Publishing goes through Spark's own Kafka batch writer
  * (`format("kafka")`, resolved BY NAME at runtime), not a direct
  * kafka-clients `KafkaProducer`: this sandbox has no kafka jars, so a
  * compile-time producer dependency is impossible, and any environment
  * with a broker already carries `spark-sql-kafka-0-10` +
  * `kafka-clients` for the source/sink path — the exact availability gate
  * of [[graft.KafkaE2ESpec]], where this sink's e2e proof lives. Records
  * route by their `kind` field: `topology` → `topologyTopic`, everything
  * else (queryStarted / metrics / queryTerminated) → `metricsTopic`,
  * keyed by `appName` so multi-app brokers partition per application the
  * way the reference keys its registrations.
  *
  * Cost note: each publish is a 1-row local-relation batch write — a
  * driver-side producer send plus job bookkeeping. At the 2 s throttled
  * cadence per query that is negligible; a per-record firehose should use
  * a raw producer instead, which this trait's pluggability permits.
  */
final class KafkaMetricsSink(spark: org.apache.spark.sql.SparkSession,
                             servers: String,
                             appName: String,
                             topologyTopic: String = "__topology",
                             metricsTopic: String = "__topology__metrics")
  extends MetricsSink {
  def publish(json: String): Unit = {
    val t = if (json.startsWith("""{"kind":"topology"""")) topologyTopic
            else metricsTopic
    import spark.implicits._
    Seq((appName, json)).toDF("key", "value")
      .write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", t)
      .save()
  }
}

/** O1 — publish the topology DAG once (reference: client.register publishes
  * to `__topology`, kstreams/App.java:64-65).
  */
object TopologyRegistrar {
  def register(topology: Topology, sink: MetricsSink): Unit =
    sink.publish(s"""{"kind":"topology","payload":${topology.toJson}}""")
}

/** O2/O3 — per-query throughput metrics at the reference cadence
  * (PUBLISH_INTERVAL_CONFIG_KEY = 2000 ms, PaymentsServiceApp.java:26-30):
  * progress events are throttled per query to at most one publish per
  * interval. numInputRows/inputRowsPerSecond mirror the reference's
  * consumer/producer rate metrics.
  */
final class TopologyMetricsListener(appName: String, sink: MetricsSink,
                                    intervalMs: Long = 2000L,
                                    clock: () => Long = () => System.currentTimeMillis(),
                                    autoRegisterFrom: Option[org.apache.spark.sql.SparkSession] = None)
  extends StreamingQueryListener {

  private val lastPublished = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  private val app = graft.Json.quote(appName)

  /** O1, closed end-to-end: when a session is supplied, query start
    * auto-publishes the query's extracted topology DAG — the Spark
    * analogue of the reference's `client.register` at app wiring
    * (kstreams/App.java:64-65). QueryStartedEvent is delivered before
    * `start()` returns and the query is registered in the manager before
    * that, so the plan lookup is safe here; extraction failures must
    * never poison the listener bus, hence the Try.
    */
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    sink.publish(s"""{"kind":"queryStarted","app":$app,"id":"${e.id}","name":${graft.Json.quote(Option(e.name).getOrElse(""))}}""")
    for {
      spark <- autoRegisterFrom
      query <- scala.util.Try(Option(spark.streams.get(e.id))).toOption.flatten
      plan <- org.apache.spark.sql.graftshim.StreamingBridge.logicalPlan(query)
      topo <- scala.util.Try(graft.plans.TopologyExtract.fromLogicalPlan(
        plan, "spark-streaming",
        Option(e.name).filter(_.nonEmpty).getOrElse(appName)).deduped).toOption
    } TopologyRegistrar.register(topo, sink)
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val now = clock()
    val last = lastPublished.get(p.id)
    if (last == null || now - last >= intervalMs) {
      lastPublished.put(p.id, now)
      val stateRows = Option(p.stateOperators).filter(_.nonEmpty)
        .map(_.map(_.numRowsTotal).sum).getOrElse(0L)
      sink.publish(
        s"""{"kind":"metrics","app":$app,"id":"${p.id}","batchId":${p.batchId},""" +
          s""""numInputRows":${p.numInputRows},"inputRowsPerSecond":${safe(p.inputRowsPerSecond)},""" +
          s""""processedRowsPerSecond":${safe(p.processedRowsPerSecond)},"stateRows":$stateRows}""")
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    sink.publish(s"""{"kind":"queryTerminated","app":$app,"id":"${e.id}"}""")

  private def safe(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else d.toString
}
