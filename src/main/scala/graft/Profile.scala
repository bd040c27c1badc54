package graft

import graft.ops.BpeOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Developer profiler over the query registry: every subcommand reaches
  * queries only through `SparkEntry.queries(name)(spark, sfDir)`, and runs
  * them only through [[QueryRun]]. Run:
  * SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile <subcommand> ..."
  */
object Profile {
  val usage: String =
    """usage: graft.Profile <subcommand>
      |  explain <q...>          print each query's formatted physical plan
      |  time <q...> [reps]      each query's time, jobs, tasks, shuffle and cache, per rep (3)
      |  count-prune             flag registered queries whose plan loses joins under count()
      |  audit                   scan pruning, joins, exchanges and codegen spans per query
      |  bpe-merges [n]          bpeTrainAuto's n merges (16) on the documents, as a Scala literal
      |  ladder <factor> <q...>  time each query against factor x copies of the tables""".stripMargin

  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    def isCount(s: String) = s.toIntOption.exists(_ > 0)
    val valid = args.headOption.exists {
      case "explain" => rest.nonEmpty
      case "time" => rest.nonEmpty && !isCount(rest.head)
      case "count-prune" | "audit" => rest.isEmpty
      case "bpe-merges" => rest.forall(isCount) && rest.size <= 1
      case "ladder" => rest.size >= 2 && isCount(rest.head)
      case _ => false
    }
    if (!valid) { System.err.println(usage); sys.exit(2) }

    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cpus)
    QueryRun.warmUp(spark, sfDir)
    val registry = SparkEntry.queries.keys.toSeq.sorted
    try args.head match {
      case "explain" => rest.foreach(name => run(spark, sfDir, name) { df =>
        println(s"===== $name ====="); df.explain("formatted") }((_, _) => ()))
      case "time" =>
        val (names, reps) =
          if (rest.size > 1 && isCount(rest.last)) (rest.init, rest.last.toInt)
          else (rest, 3)
        time(spark, sfDir, names, reps)
      case "count-prune" =>
        var flagged = 0
        registry.foreach(run(spark, sfDir, _)(countJoins) { case (r, (full, cnt)) =>
          if (cnt < full) {
            flagged += 1
            println(s"[count-prune] ${r.name}: joins $full -> $cnt under count()")
          }
        })
        println(s"[count-prune] flagged=$flagged")
      case "audit" => registry.foreach(run(spark, sfDir, _) { df =>
        // Execute this queryExecution before reading its plan: under AQE the
        // pre-execution plan has no WholeStageCodegen stages, so codegen
        // coverage and runtime join demotions show only in the final plan
        // (df.count() would wrap the plan in a new, un-finalized one).
        df.queryExecution.toRdd.foreachPartition((_: Iterator[_]) => ())
        df.queryExecution.executedPlan.toString
      }((r, plan) => audit(r.name, plan)))
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

  /** Runs query `name` against `dir` through [[QueryRun]], then hands the
    * action's result to `show`, or prints the query's error. */
  private def run[A](spark: SparkSession, dir: String, name: String)(action: DataFrame => A)(
      show: (QueryRun[A], A) => Unit): Unit = {
    val r = QueryRun(spark, name, SparkEntry.queries(name)(spark, dir))(action)
    r.outcome.fold(e => println(s"[profile] $name error: $e"), show(r, _))
  }

  /** Runs each query `reps` times against `dir` and prints every rep's
    * [[QueryRun]]: its wall time and build share, the jobs the build ran,
    * the action's jobs, stages, tasks, Σ task time and shuffle write, the
    * cached state it left, and its 8 longest stages. Wall − Σtask-time /
    * cores is scheduling and planning overhead. */
  def time(spark: SparkSession, dir: String, names: Seq[String], reps: Int): Unit =
    for (name <- names; i <- 1 to reps) run(spark, dir, name)(_.count()) { (r, rows) =>
      println(f"[profile] ${s"$name#$i"}%-28s ${r.sec}%8.2f s  rows=$rows " +
        f"build=${r.buildNs / 1e9}%.2fs buildJobs=${r.buildJobs} jobs=${r.jobs} " +
        f"stages=${r.stages} tasks=${r.tasks} taskSum=${r.taskMs / 1e3}%.2fs " +
        f"shufWr=${r.shuffleWriteBytes / 1e6}%.2fMB cached=${r.persistedRdds} rdds/${r.cachedPlans} plans")
      r.longestStages.foreach { s =>
        println(f"[profile]   stage ${s.id}%4d run=${s.runMs / 1e3}%7.2fs " +
          f"deser=${s.deserializeMs / 1e3}%6.2fs gc=${s.gcMs / 1e3}%5.2fs tasks=${s.tasks}%4d  ${s.name.take(70)}")
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

  /** A query's joins in its optimized plan, and under `count()` (Bench's
    * action). count-prune flags a query that loses joins under `count()`:
    * a left join against an aggregate keyed on the join key with no
    * payload referenced is a no-op to Catalyst, so a bare count would
    * time only the surviving prefix; a flagged query needs a no-op guard
    * that references the join output (see SparkEntry's substring_dedup). */
  private def countJoins(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def joins(p: LogicalPlan): Int = p.collectWithSubqueries { case j: Join => j }.size
    (joins(df.queryExecution.optimizedPlan), joins(df.groupBy().count().queryExecution.optimizedPlan))
  }

  /** Plan-health audit of one executed plan: its scans' read schemas,
    * join strategies, hash exchanges and codegen spans. */
  private def audit(name: String, plan: String): Unit = {
    println(s"[audit] $name")
    plan.linesIterator
      .flatMap(l => "ReadSchema: struct<([^>]*)".r.findFirstMatchIn(l).map(_.group(1)))
      .foreach(s => println(s"[audit]   scan  ${s.split(",").length} cols: ${s.take(70)}"))
    val joins = "(\\w*(?:Join|Cartesian)\\w*)".r.findAllIn(plan).toSeq
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
    if (joins.nonEmpty) println(s"[audit]   joins ${joins.groupBy(identity).view.mapValues(_.size).toMap}")
    println(s"[audit]   exchanges=$exchanges codegenSpans=$wsc")
  }
}
