package graft

import graft.Json.{quote => q}
import java.nio.file.{Files, Paths, StandardCopyOption => Copy, StandardOpenOption => Open}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * through [[QueryRun]] and prints one JSON line per query, a full summary
  * line and a compact final line. Failures are reported per query in an
  * `errors` field (never silently folded into the total) and excluded from
  * the timed total. [[QueryRun.warmUp]] absorbs session/codegen startup so
  * the first query isn't charged ~10s of JVM warmup.
  */
object Bench {

  /** Reps per query from `SPARK_GRAFT_BENCH_REPS`: 3 when unset, else a
    * positive integer; anything else fails naming the variable. */
  def parseReps(raw: Option[String]): Int =
    GraftSession.positiveInt("SPARK_GRAFT_BENCH_REPS", raw, 3)

  /** The optional query-name filter `SPARK_GRAFT_BENCH_ONLY` for
    * targeted re-measurement: unset times every registered query. */
  def parseOnly(raw: Option[String]): Option[Set[String]] =
    GraftSession.queryFilter("SPARK_GRAFT_BENCH_ONLY", raw, SparkEntry.queries.keySet)

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val reps = parseReps(sys.env.get("SPARK_GRAFT_BENCH_REPS"))
    val only = parseOnly(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = GraftSession.local(GraftSession.cpus)
    QueryRun.warmUp(spark, sfDir)
    // Sorted order: stable attribution across runs (Map iteration order
    // shifts as entries are added, moving the noise-prone early slots).
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val (fullLine, compactLine) = measure(spark, sfDir, queries, reps)(println)
    // FULL runs only, so a SPARK_GRAFT_BENCH_ONLY re-run never clobbers the
    // full-surface record; a failed write is reported, never fatal.
    def artifact(write: => Unit): Unit = if (only.isEmpty) try write catch { case e: Throwable =>
      println(s"""{"metric":"artifact_error","error":${q(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}""")
    }
    val dir = Paths.get(sys.props.getOrElse("user.dir", "."))
    // Cross-run HISTORY, append-only: min-of-N-runs arbitration reads
    // BENCH_RUNS.jsonl (tools/bench_arbitrate.py renders it).
    artifact(Files.writeString(dir.resolve("BENCH_RUNS.jsonl"), fullLine + "\n",
      Open.CREATE, Open.APPEND))
    // BENCH_SUMMARY.json, because a wrapper's footer can displace a stdout
    // tail. ATOMIC_MOVE: without it Files.move may fall back to copy+delete
    // and a concurrent reader could see a torn file.
    artifact(Files.move(Files.writeString(dir.resolve(".BENCH_SUMMARY.json.tmp"), fullLine + "\n"),
      dir.resolve("BENCH_SUMMARY.json"), Copy.REPLACE_EXISTING, Copy.ATOMIC_MOVE))
    println(compactLine)
    spark.stop()
  }

  /** Runs each query `reps` times; prints through `out` each query's line
    * as its median lands (so a killed run still leaves parseable timings),
    * then the full summary line; returns that and the compact final line.
    * MEDIAN-OF-`reps`: the bench host is co-tenant contended (identical
    * plans measured 1.7 s and 102 s), so the median measures the engine.
    * A rep's `sec` is [[QueryRun.sec]], build + action of a cold run; the
    * runner's cache clearing and listener drain are untimed. `reps_sec`
    * keeps every rep for min-of-N arbitration, `rows` lets a regression
    * normalize by data touched. A query's first failed rep is its error. */
  def measure(spark: SparkSession, sfDir: String,
              queries: Seq[(String, (SparkSession, String) => DataFrame)], reps: Int)(
      out: String => Unit): (String, String) = {
    val timings = collection.mutable.LinkedHashMap.empty[String, Double]
    val repTimes = collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val rowCounts = collection.mutable.LinkedHashMap.empty[String, Long]
    val errors = collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      val runs = collection.mutable.ArrayBuffer.empty[QueryRun[Long]]
      while (runs.size < reps && runs.forall(_.error.isEmpty))
        runs += QueryRun(spark, name, fn(spark, sfDir))(_.count())
      runs.last.outcome match {
        case Left(e) =>
          errors(name) = e.take(200)
          out(s"""{"metric":"query","name":${q(name)},"error":${q(errors(name))}}""")
        case Right(rows) =>
          val ts = runs.map(_.sec).toSeq
          timings(name) = ts.sorted.apply(reps / 2)
          repTimes(name) = ts
          rowCounts(name) = rows
          out(s"""{"metric":"query","name":${q(name)},"sec":${timings(name)},"min":${ts.min},"reps_sec":${ts.mkString("[", ",", "]")},"rows":$rows}""")
      }
    }
    def obj[V](m: Iterable[(String, V)])(v: V => String) =
      m.map { case (k, x) => s"${q(k)}:${v(x)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    // surface_hash keys cross-run arbitration: runs are comparable ONLY
    // when they timed the same query set.
    val surfaceHash = graft.functions.Hashing.md5Hex(timings.keys.toSeq.sorted.mkString(","))
    val counts = s""""n_ok":${timings.size},"n_err":${errors.size},"reps":$reps,"sf":${q(sfDir)}"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","ts_ms":${System.currentTimeMillis()},"surface_hash":${q(surfaceHash)},"queries":${obj(timings)(_.toString)},"queries_reps":${obj(repTimes)(_.mkString("[", ",", "]"))},"rows":${obj(rowCounts)(_.toString)},"errors":${obj(errors)(q)},$counts}"""
    out(fullLine)
    // The FINAL line is COMPACT (<1500 chars) so a tail-window capture
    // always ends with a parseable record: the same shape, but `queries`
    // carries only the slowest 5.
    val slowest = obj(timings.toSeq.sortBy(-_._2).take(5))(_.toString)
    (fullLine, s"""{"metric":"total","value":$total,"unit":"sec","queries":$slowest,"queries_truncated":true,$counts}""")
  }
}
