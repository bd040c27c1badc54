package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.model.ExchangeRates
import graft.ops.PaymentOps
import graft.sources.Tables
import graft.streaming.{CollectingMetricsSink, MetricsSink, StreamingOps, TopologyMetricsListener}
import org.apache.spark.perfbenchshim.BusShim
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** JVM side of the benchmark: one workload, one seed, one session.
  *
  * Set-up (session, stream slices, an untimed warm pass), then a timed
  * region of whole units (a pass over the query list, or one closed-loop
  * drain of the slices) repeated until `--seconds` have passed. Everything
  * measured is written raw to `--out`; metrics and output checks are
  * computed by `perfbench/run.py`.
  *
  * With `--trace 1` the harness also registers its SparkListener and
  * QueryExecutionListener for the timed region and records spans around
  * its calls into graft (query functions, `Tables` loaders, the injected
  * sinks, the MetricsSink and the topology listener callbacks).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    new Run(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      o("nproc").toInt, o("data"), o("work"), o("out"), o).run()
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean, nproc: Int,
                data: String, work: String, out: String, opts: Map[String, String]) {

  private val spans = new Spans(trace)
  private val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sc = spark.sparkContext
  record("t_session_ms") = System.currentTimeMillis()
  record("t_jvm_start_ms") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  def run(): Unit = {
    record ++= Map("workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "master" -> sc.master, "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).toSeq)
    workload match {
      case "payments_stream" => stream(payments = true)
      case "wordcount_stream" => stream(payments = false)
      case _ => batch(opts("queries").split(",").toSeq)
    }
    if (trace) {
      val f = Paths.get(opts("spans"))
      Files.createDirectories(f.getParent)
      Files.write(f, spans.all.map(_.toJson).asJava)
    }
    spark.stop()
    record("vm_hwm_kb") = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    Files.writeString(Paths.get(out), Json(record))
  }

  // ---- timed region bookkeeping -------------------------------------------

  private val sched = new SchedRecorder
  private val phases = new PhaseRecorder

  /** Runs `unit(i)` for i = 0, 1, ... until `seconds` have passed (at least
    * once), with the traced run's listeners registered only meanwhile. */
  private def timed(unit: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    BusShim.drain(sc)
    if (trace) { sc.addSparkListener(sched); spark.listenerManager.register(phases) }
    val t0 = System.nanoTime()
    record("t_first_timed_ms") = System.currentTimeMillis()
    record("region_start_ns") = t0
    val done = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    do done += unit(done.size)
    while (System.nanoTime() - t0 < (seconds * 1e9).toLong)
    record("region_end_ns") = System.nanoTime()
    record("region_end_ms") = System.currentTimeMillis()
    BusShim.drain(sc)
    if (trace) {
      sc.removeSparkListener(sched); spark.listenerManager.unregister(phases)
      record("sched") = sched.record
      record("phases") = phases.record
    }
    done.toSeq
  }

  // ---- batch query families -------------------------------------------------

  private def batch(names: Seq[String]): Unit = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    record("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    val tablesOf = new ConcurrentHashMap[String, Seq[String]]()

    def exec(pass: String, name: String, fn: (SparkSession, String) => DataFrame): Map[String, Any] = {
      spark.catalog.clearCache()
      val tag = s"pass=$pass;query=$name"
      val dest = s"$work/out/$name/$pass"
      sc.setLocalProperty("perfbench.op", tag)
      val t0 = System.nanoTime()
      val err = try {
        spans("query", tag) {
          val df = spans("ops.build", tag)(fn(spark, data))
          tablesOf.computeIfAbsent(name, _ => df.inputFiles.toSeq
            .filter(_.contains(data)).map(f => Paths.get(new java.net.URI(f)).getFileName.toString
              .stripSuffix(".parquet")).distinct.sorted)
          spans("exec", tag)(df.write.mode("overwrite").parquet(dest))
        }
        None
      } catch { case e: Throwable => Some(msg(e)) }
      val t1 = System.nanoTime()
      sc.setLocalProperty("perfbench.op", null)
      Map("pass" -> pass, "query" -> name, "start_ns" -> t0, "end_ns" -> t1, "out" -> dest,
        "error" -> err)
    }

    def pass(label: String, order: Seq[(String, (SparkSession, String) => DataFrame)]) = {
      val t0 = System.nanoTime()
      val execs = order.map { case (n, f) => exec(label, n, f) }
      val t1 = System.nanoTime()
      if (trace) order.foreach { case (n, _) =>
        // The loaders run inside each query function; the traced run
        // re-issues the ones the query's plan reads, outside its timing.
        Option(tablesOf.get(n)).getOrElse(Nil).foreach(t =>
          spans("sources.load", s"pass=$label;query=$n;table=$t")(Tables.table(spark, data, t)))
      }
      Map("pass" -> label, "start_ns" -> t0, "end_ns" -> t1, "execs" -> execs)
    }

    def shuffled(p: Int) = new scala.util.Random(seed * 1000003L + p).shuffle(fns)
    record("t_inputs_ms") = System.currentTimeMillis()
    record("warm") = Seq(pass("warm", shuffled(-1)))
    record("units") = timed(i => pass(s"p$i", shuffled(i)))
    record("tables_of") = tablesOf.asScala.toMap
  }

  // ---- streaming pipelines --------------------------------------------------

  private val progress = new ConcurrentLinkedQueue[RawJson]()

  private object ProgressLog extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(RawJson(e.progress.json))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The reference apps attach the topology client; the benchmark attaches
    * graft's TopologyMetricsListener. The traced run times its callbacks
    * and its sink's publishes. */
  private final class TimedSink extends MetricsSink {
    private val inner = new CollectingMetricsSink
    def publish(json: String): Unit = spans("observe.publish", "")(inner.publish(json))
  }
  private final class TimedListener(inner: StreamingQueryListener) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      spans("observe.extract", s"query=${e.id}")(inner.onQueryStarted(e))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      spans("observe.callback", s"query=${e.progress.id};batch=${e.progress.batchId}")(inner.onQueryProgress(e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      spans("observe.callback", s"query=${e.id}")(inner.onQueryTerminated(e))
  }

  /** Writes `nSlices` parquet files of `perSlice` rows each: `df` in a
    * seeded hash order of `key`, written by one task and cut into
    * consecutive runs, so the seed sets which rows land in which slice and
    * every slice has the same size. Files past the first `nSlices` (the
    * rest of the order) are removed. */
  private def writeSlices(df: DataFrame, key: Column, nSlices: Int, perSlice: Long,
                          dir: String): Unit = {
    df.orderBy(xxhash64(key, lit(seed)), key).coalesce(1)
      .write.option("maxRecordsPerFile", perSlice).parquet(dir)
    val part = ".*-c(\\d+)(\\..*)?\\.parquet".r
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .collect { case p if part.matches(p.getFileName.toString) =>
        val part(n, _) = p.getFileName.toString; (n.toInt, p) }
      .sortBy(_._1).drop(nSlices).foreach { case (_, p) => Files.delete(p) }
  }

  private def stream(payments: Boolean): Unit = {
    val topo = new TopologyMetricsListener(s"perfbench-$workload", new TimedSink,
      autoRegisterFrom = Some(spark))
    spark.streams.addListener(ProgressLog)
    spark.streams.addListener(if (trace) new TimedListener(topo) else topo)

    val slices = s"$work/slices"
    val sinkRows = new ConcurrentLinkedQueue[Map[String, Any]]()
    val wordCounts = new ConcurrentHashMap[String, ConcurrentHashMap[String, Long]]()
    val perTrigger = if (payments) nproc else 1

    val inputs: Map[String, Any] =
      if (payments) {
        // One slice per core per trigger. The orders are replicated, each
        // copy's keys shifted by a seeded offset, until each slice holds
        // about slice_rows rows.
        val nSlices = nproc * opts("drain_batches").toInt
        val orders = spans("sources.load", "setup;table=orders")(Tables.orders(spark, data))
        val base = orders.count()
        val target = nSlices.toLong * opts("slice_rows").toLong
        val reps = math.max(1L, math.round(target.toDouble / base)).toInt
        val rng = new scala.util.Random(seed)
        val shifted = (0 until reps).map(r =>
          orders.withColumn("o_orderkey", col("o_orderkey") + ((r.toLong << 32) + rng.nextInt(1 << 20))))
          .reduce(_ union _)
        val perSlice = base * reps / nSlices
        writeSlices(PaymentOps.syntheticPaymentsJson(shifted), col("k"), nSlices, perSlice, slices)
        Map("rows" -> perSlice * nSlices, "slices" -> nSlices, "replicas" -> reps)
      } else {
        // A seeded sample of the corpus, one slice of docs_per_slice
        // documents per trigger.
        val nSlices = opts("drain_batches").toInt
        val docs = spans("sources.load", "setup;table=documents")(Tables.documents(spark, data))
        val perSlice = opts("docs_per_slice").toLong
        writeSlices(docs.select("doc_id", "text"), col("doc_id"), nSlices, perSlice, slices)
        Map("rows" -> perSlice * nSlices, "slices" -> nSlices, "corpus_rows" -> docs.count())
      }
    val files = Files.list(Paths.get(slices)).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    record("inputs") = inputs ++ Map("slice_files" -> files.size,
      "slice_bytes" -> files.map(Files.size(_)).sum, "files_per_trigger" -> perTrigger)
    if (!payments) record("oracle_sql") = Map("wordcount_space" -> SparkEntry.oracleSql("wordcount_space"))
    val schema = spark.read.parquet(slices).schema

    def drain(label: String): Map[String, Any] = {
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", perTrigger.toString)
        .parquet(slices)
      val writer = spans("ops.build", s"drain=$label") {
        if (payments) {
          def sink(name: String)(df: DataFrame, batchId: Long): Unit =
            spans(s"sink.$name", s"drain=$label;batch=$batchId") {
              val obs = Observation()
              df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
              sinkRows.add(Map("drain" -> label, "batch" -> batchId, "sink" -> name,
                "rows" -> obs.get("rows")))
            }
          StreamingOps.paymentsFanout(src, ExchangeRates.ratesDF(spark), sink("main"), sink("suspicious"))
        } else {
          val latest = wordCounts.computeIfAbsent(label, _ => new ConcurrentHashMap[String, Long]())
          StreamingOps.wordCountSpace(src.select(col("text").as("value")))
            .writeStream.outputMode("update")
            .foreachBatch { (df: DataFrame, _: Long) =>
              df.collect().foreach(r => latest.put(r.getString(0), r.getLong(1)))
            }
        }
      }
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val q = writer.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/checkpoints/$label")
        .queryName(s"$workload-$label").start()
      val err = try { q.awaitTermination(); None } catch { case e: Throwable => Some(msg(e)) }
      val t1 = System.nanoTime()
      Map("drain" -> label, "id" -> q.id.toString, "start_ms" -> startMs,
        "start_ns" -> t0, "end_ns" -> t1, "error" -> err)
    }

    record("t_inputs_ms") = System.currentTimeMillis()
    // The JIT keeps speeding batches up for several drains; timing starts
    // once warm_drains drains have run.
    record("warm") = (0 until opts("warm_drains").toInt).map(i => drain(s"warm$i"))
    record("units") = timed(i => drain(s"d$i"))
    BusShim.drain(sc)
    record("progress") = progress.asScala.toSeq
    record("sink_rows") = sinkRows.asScala.toSeq
    record("word_counts") = wordCounts.asScala.map { case (k, v) => k -> v.asScala.toMap }.toMap
    record("slices_dir") = slices
  }
}
