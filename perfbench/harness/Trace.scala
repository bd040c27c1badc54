package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the raw run record (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case RawJson(j) => j
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Already-serialised JSON (streaming progress events). */
final case class RawJson(json: String)

/** One timed call: name, monotonic start/end (ns), parent span (0 = none)
  * and the run/pass/query/batch tag the spans of one operation share. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long, tag: String) {
  def toJson: String = Json(Map("id" -> id, "name" -> name, "parent" -> parent,
    "start_ns" -> startNs, "end_ns" -> endNs, "tag" -> tag))
}

/** In-memory span recorder. Nesting follows a per-thread stack, so a span
  * opened inside another on the same thread becomes its child. Disabled
  * (the untraced run) it runs the body and records nothing. */
final class Spans(val enabled: Boolean) {
  private val recs = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def apply[T](name: String, tag: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        recs.add(Span(id, name, outer.headOption.getOrElse(0L), t0, t1, tag))
      }
    }

  def all: Seq[Span] = recs.asScala.toSeq.sortBy(_.id)
}

/** Scheduler/executor/shuffle events, as flat records: every job's
  * interval and tags, every finished task's metrics. Registered only in
  * the traced run and only for the timed region. */
final class SchedRecorder extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Map[String, Any])]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[Seq[Long]]()
  private val stagesDone = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobStart.put(e.jobId, (e.time, Map("op" -> prop("perfbench.op"),
      "batch" -> prop("streaming.sql.batchId"), "query" -> prop("sql.streaming.queryId"))))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, tags) =>
      jobs.add(tags ++ Map("job" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stagesDone.incrementAndGet()

  /** Task columns, in order: job, stage, launch_ms, finish_ms, run_ms,
    * cpu_ns, gc_ms, input_records, input_bytes, shuffle_read_records,
    * shuffle_read_bytes, fetch_wait_ms, shuffle_write_bytes, spill_bytes. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(Seq(stageJob.getOrDefault(e.stageId, -1).toLong, e.stageId.toLong,
        i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        sr.recordsRead, sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  def record: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq,
    "stages" -> stagesDone.get)
}

/** Catalyst phase times of every query execution that finishes while the
  * listener is registered (`qe.tracker.phases`). */
final class PhaseRecorder extends QueryExecutionListener {
  private val recs = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    recs.add(Map("end_ms" -> System.currentTimeMillis()) ++
      Seq("analysis", "optimization", "planning").map(k => k -> ph.get(k).map(_.durationMs).getOrElse(0L)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def record: Seq[Map[String, Any]] = recs.asScala.toSeq
}
