package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ColumnBridge
import scala.jdk.CollectionConverters._

/** One registry query run: how long its build and its action took, the
  * jobs the build started, what the action ran, and the cached state the
  * query left behind. `outcome` is the action's result or the failure's
  * message. */
final case class QueryRun[A](
    name: String, outcome: Either[String, A], buildNs: Long, actionNs: Long,
    buildJobs: Int, jobs: Int, stages: Int, tasks: Int, taskMs: Long,
    shuffleWriteBytes: Long, longestStages: Seq[QueryRun.Stage],
    persistedRdds: Int, cachedPlans: Int) {
  /** Build + action wall time: one cold rep. */
  def sec: Double = (buildNs + actionNs) / 1e9
  def error: Option[String] = outcome.left.toOption
}

/** The one way a main runs a registry query. Each phase tags the jobs it
  * starts with a thread-local job property, so the listener attributes
  * every job to build or action from its own events, and the listener bus
  * is drained only after the action, outside the timed window.
  *
  * The runner is the one place where cached state is counted and cleared:
  * after every run, failed or not, it records the persistent RDDs and
  * `CacheManager` entries the query left and then drops them all, so each
  * run starts from an empty cache. */
object QueryRun {
  final case class Stage(id: Int, name: String, runMs: Long, tasks: Int,
                         deserializeMs: Long, gcMs: Long)

  private val PhaseKey = "graft.queryRun.phase"
  private val runIds = new AtomicLong

  def apply[A](spark: SparkSession, name: String, build: => DataFrame)(
      action: DataFrame => A): QueryRun[A] = {
    val sc = spark.sparkContext
    val id = runIds.incrementAndGet()
    val (buildTag, actionTag) = (s"$id/build", s"$id/action")
    val buildJobs, jobs, stages, tasks = new AtomicInteger
    val taskMs, shufWr = new AtomicLong
    val actionStages = ConcurrentHashMap.newKeySet[Int]()
    val stageStats = new ConcurrentHashMap[Int, Stage]()
    def tag(props: java.util.Properties) = Option(props).map(_.getProperty(PhaseKey)).orNull
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = tag(j.properties) match {
        case `buildTag` => buildJobs.incrementAndGet()
        case `actionTag` => jobs.incrementAndGet()
        case _ =>
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (tag(s.properties) == actionTag) actionStages.add(s.stageInfo.stageId)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val (info, m) = (s.stageInfo, s.stageInfo.taskMetrics)
        if (actionStages.contains(info.stageId)) {
          stages.incrementAndGet()
          shufWr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          stageStats.put(info.stageId, Stage(info.stageId, info.name.takeWhile(_ != '\n'),
            m.executorRunTime, info.numTasks, m.executorDeserializeTime, m.jvmGCTime))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (actionStages.contains(t.stageId)) {
          tasks.incrementAndGet()
          if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        }
    }
    sc.addSparkListener(listener)
    var (buildNs, actionNs) = (0L, 0L)
    val outcome = try {
      val t0 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, buildTag)
      val df = build
      buildNs = System.nanoTime() - t0
      sc.setLocalProperty(PhaseKey, actionTag)
      val result = action(df)
      actionNs = System.nanoTime() - t0 - buildNs
      Right(result)
    } catch {
      case e: Throwable => Left(Option(e.getMessage).getOrElse(e.getClass.getName))
    } finally sc.setLocalProperty(PhaseKey, null)
    ColumnBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    val (persisted, cachedPlans) = (sc.getPersistentRDDs, ColumnBridge.cachedPlans(spark))
    spark.catalog.clearCache()
    persisted.values.foreach(_.unpersist(blocking = false))
    QueryRun(name, outcome, buildNs, actionNs, buildJobs.get, jobs.get, stages.get, tasks.get,
      taskMs.get, shufWr.get, stageStats.values.asScala.toSeq.sortBy(-_.runMs).take(8),
      persisted.size, cachedPlans)
  }

  /** Warms the JVM, codegen and the Hadoop/parquet reader on tiny data, so
    * the first timed query is not charged seconds of one-time setup:
    * shuffle, explode + regex split, hash aggregate, md5, the JSON codecs
    * (Jackson init, JsonToStructs) and one parquet read. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(5000)
      .selectExpr("explode(split(lower(concat('a b,c ', id)), '\\\\W+')) AS w")
      .groupBy("w").count().selectExpr("max(md5(w))").collect()
    spark.range(5000)
      .selectExpr("id", """concat('{"a":', id, '}') AS v""")
      .selectExpr("from_json(v, 'a BIGINT') AS s", "to_json(struct(id)) AS j")
      .filter("s.a IS NOT NULL").count()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Exception => () }
  }
}
