package graft

import graft.ops.BpeOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Developer profiler over the query registry: every subcommand reaches
  * queries only through `SparkEntry.queries(name)(spark, sfDir)`. Run:
  * SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile <subcommand> ..."
  */
object Profile {
  val usage: String =
    """usage: graft.Profile <subcommand>
      |  explain <q...>          print each query's formatted physical plan
      |  time <q...> [reps]      time each query reps times (3), cache cleared between reps
      |  jobstats <q...>         jobs, stages, tasks, task time and shuffle bytes of a warm run
      |  count-prune             flag registered queries whose plan loses joins under count()
      |  audit                   scan pruning, joins, exchanges and codegen spans per query
      |  bpe-merges [n]          bpeTrainAuto's n merges (16) on the documents, as a Scala literal
      |  ladder <factor> <q...>  time each query against factor x copies of the tables""".stripMargin

  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    def isCount(s: String) = s.toIntOption.exists(_ > 0)
    val valid = args.headOption.exists {
      case "explain" | "jobstats" => rest.nonEmpty
      case "time" => rest.nonEmpty && !isCount(rest.head)
      case "count-prune" | "audit" => rest.isEmpty
      case "bpe-merges" => rest.forall(isCount) && rest.size <= 1
      case "ladder" => rest.size >= 2 && isCount(rest.head)
      case _ => false
    }
    if (!valid) { System.err.println(usage); sys.exit(2) }

    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    try args.head match {
      case "explain" => rest.foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      case "time" =>
        val (names, reps) =
          if (rest.size > 1 && isCount(rest.last)) (rest.init, rest.last.toInt)
          else (rest, 3)
        time(spark, sfDir, names, reps)
      case "jobstats" => jobstats(spark, sfDir, rest)
      case "count-prune" => countPrune(spark, sfDir)
      case "audit" => audit(spark, sfDir)
      case "bpe-merges" =>
        val n = rest.headOption.fold(16)(_.toInt)
        val merges = BpeOps.bpeTrainAuto(Tables.documents(spark, sfDir), n)
        println(s"[profile] bpe-merges sfDir=$sfDir n=$n")
        println(merges.map { case (a, b) =>
          "(\"" + a + "\", \"" + b + "\")" }.mkString("Seq(", ", ", ")"))
      case "ladder" =>
        val (factor, dir) = (rest.head.toInt, java.nio.file.Files.createTempDirectory("graft-ladder"))
        try {
          amplify(spark, sfDir, dir.toString, factor)
          println(s"[profile] ladder factor=$factor dir=$dir")
          time(spark, dir.toString, rest.tail, 3)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    } finally spark.stop()
  }

  /** Times each query `reps` times against `dir`, dropping cached blocks
    * between reps as Bench does. */
  def time(spark: SparkSession, dir: String, names: Seq[String], reps: Int): Unit =
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        println(f"[profile] ${s"$name#$i"}%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
        spark.catalog.clearCache()
      }
    }

  private val dayNs = 24L * 3600 * 1000 * 1000 * 1000

  /** `factor` copies of table `name` (copy 0 is `t` itself), every column
    * of its schema kept. Copy k shifts the keys so copies are disjoint:
    *  - documents: doc_id + k·10⁷, and a per-(copy, position) salt token
    *    after every original token, so each copy's 2+-grams and shingles
    *    are new while its unigrams are shared and the near-dup rate stays
    *    constant (a salt shared across a copy would homogenize the token
    *    distribution and collapse SimHash); n_chars is the salted length;
    *  - events: event_id + k·10⁸, ts + 40·k days (temporally disjoint
    *    copies), user_id + k·10⁶;
    *  - embeddings: vec_id + k·10⁷, each component scaled and offset per
    *    copy (cluster structure kept, so bucket occupancy grows linearly);
    *  - lineitem and orders: orderkey + k·10⁸ on both, so their join stays
    *    1:1 within each copy (part, supplier and customer keys get hotter);
    *  - every other table: `t` once, unchanged.
    */
  def amplified(name: String, t: DataFrame, factor: Int): DataFrame = {
    def copies(copy: Int => DataFrame): DataFrame =
      (0 until factor).map(k => if (k == 0) t else copy(k)).reduce(_ union _)
    def shifted(k: Int, steps: (String, Long)*): DataFrame =
      steps.foldLeft(t) { case (df, (c, step)) => df.withColumn(c, col(c) + lit(k * step)) }
    name match {
      case "documents" => copies(k => shifted(k, "doc_id" -> 10000000L)
        .withColumn("text", expr(
          s"concat_ws(' ', transform(split(text, ' '), (w, i) -> concat(w, ' z${k}x', i)))"))
        .withColumn("n_chars", length(col("text")).cast("long")))
      case "events" => copies(k => shifted(k, "event_id" -> 100000000L, "user_id" -> 1000000L)
        .withColumn("ts", t.schema("ts").dataType match {
          case LongType => col("ts") + lit(k * 40L * dayNs)
          case _ => col("ts") + expr(s"INTERVAL ${k * 40} DAYS")
        }))
      case "embeddings" => copies(k => shifted(k, "vec_id" -> 10000000L)
        .withColumn("embedding", expr(
          s"transform(embedding, x -> float(x * (1.0 + $k * 0.0003) + $k * 0.001))")))
      case "lineitem" => copies(k => shifted(k, "l_orderkey" -> 100000000L))
      case "orders" => copies(k => shifted(k, "o_orderkey" -> 100000000L))
      case _ => t
    }
  }

  /** Writes [[amplified]] copies of every table under `sfDir` to `out`. */
  def amplify(spark: SparkSession, sfDir: String, out: String, factor: Int): Unit =
    Tables.loadSpecs.keys.foreach { name =>
      amplified(name, Tables.table(spark, sfDir, name), factor)
        .write.parquet(s"$out/$name.parquet")
    }

  /** Splits each query's warm wall-clock into jobs, stages, tasks, summed
    * task time and shuffle bytes, plus its 8 longest stages: wall −
    * Σtask-time/cores is scheduling and planning overhead. Rep 1 warms
    * codegen and caches; rep 2 is measured. */
  private def jobstats(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    import org.apache.spark.scheduler._
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import scala.jdk.CollectionConverters._
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val shufWr = new AtomicLong
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        shufWr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        stageAgg.put(s.stageInfo.stageId,
          (s.stageInfo.name.takeWhile(_ != '\n').take(70),
            m.executorRunTime, s.stageInfo.numTasks,
            m.executorDeserializeTime, m.jvmGCTime))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count(); spark.catalog.clearCache()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shufWr.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // drain the listener bus so every event of the run is counted
      org.apache.spark.sql.graftshim.ColumnBridge
        .drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobstats] $name%-34s wall=$wall%7.2fs jobs=${jobs.get}%3d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%5d " +
        f"taskSum=${taskMs.get / 1e3}%8.2fs shufWr=${shufWr.get / 1e6}%8.2fMB rows=$n")
      stageAgg.asScala.toSeq.sortBy(-_._2._2).take(8).foreach {
        case (sid, (nm, run, nt, deser, gc)) =>
          println(f"[jobstats]   stage $sid%4d run=${run / 1e3}%7.2fs " +
            f"deser=${deser / 1e3}%6.2fs gc=${gc / 1e3}%5.2fs tasks=$nt%4d  $nm")
      }
      stageAgg.clear()
    }
  }

  /** Bench-integrity audit: flags every registered query whose optimized
    * plan loses joins under `count()` (Bench's action). A left join
    * against an aggregate keyed on the join key with no payload
    * referenced is a no-op to Catalyst, so a bare count would time only
    * the surviving prefix; a flagged query needs a no-op guard that
    * references the join output (see SparkEntry's substring_dedup). */
  private def countPrune(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def joins(p: LogicalPlan): Int =
      p.collectWithSubqueries { case j: Join => j }.size
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val full = joins(df.queryExecution.optimizedPlan)
      val cnt = joins(df.groupBy().count().queryExecution.optimizedPlan)
      if (cnt < full) {
        flagged += 1
        println(s"[count-prune] $name: joins $full -> $cnt under count()")
      }
    }
    println(s"[count-prune] flagged=$flagged")
  }

  /** Plan-health audit: for each registered query, its scans' read
    * schemas, join strategies, hash exchanges and codegen spans. */
  private def audit(spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // Execute this queryExecution before reading its plan: under AQE the
      // pre-execution plan has no WholeStageCodegen stages, so codegen
      // coverage and runtime join demotions show only in the final plan
      // (df.count() would wrap the plan in a new, un-finalized one).
      val df = fn(spark, sfDir)
      try df.queryExecution.toRdd.foreachPartition(_ => ())
      catch { case _: Throwable => () }
      val plan = df.queryExecution.executedPlan.toString
      val schemas = plan.linesIterator
        .flatMap(l => "ReadSchema: struct<([^>]*)".r.findFirstMatchIn(l).map(_.group(1)))
        .map(s => s"${s.split(",").length} cols: ${s.take(70)}").toSeq
      val joins = "(\\w*(?:Join|Cartesian)\\w*)".r.findAllIn(plan).toSeq
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
      println(s"[audit] $name")
      schemas.foreach(s => println(s"[audit]   scan  $s"))
      if (joins.nonEmpty) println(s"[audit]   joins ${joins.groupBy(identity).view.mapValues(_.size).toMap}")
      println(s"[audit]   exchanges=$exchanges codegenSpans=$wsc")
    }
}
