package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The local engine session every main builds: `local[cpus]` with `cpus`
  * shuffle partitions, UTC session time, graft's SQL extensions (which
  * also install the spawn-free local file system
  * [[graft.sources.NioLocalFileSystem]] and the session [[defaults]]), no
  * UI, WARN logging.
  */
object GraftSession {

  /** graft's session defaults. [[graft.functions.GraftExtensions]]
    * installs them on the running context's conf, and the test session
    * sets them as builder confs. Each is a default only: an explicit
    * setting (builder `.config`, `--conf` or `-Dspark.…`) wins.
    *  - `spark.sql.artifact.isolation.enabled=false`: every query's tasks
    *    run in the executor's default session. With Spark's default
    *    (`true`) each streaming query's cloned session gets its own
    *    executor class loader, so the code generator's cache, keyed by
    *    class loader, misses and the first micro-batch of every query
    *    recompiles every generated class. The trade-off: artifacts added
    *    with `SparkSession.addArtifact` are visible to every session on
    *    the context. graft adds none.
    *  - `spark.sql.legacy.parquet.nanosAsLong=true`: an `events.parquet`
    *    written with TIMESTAMP(NANOS), which Spark's reader rejects by
    *    default, reads as raw epoch nanos (see
    *    [[graft.sources.Tables.events]]).
    */
  val defaults: Map[String, String] = Map(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Set every key of [[defaults]] that `conf` leaves unset; no-op on
    * `None` (no running context). */
  def installDefaults(conf: Option[SparkConf]): Unit =
    conf.foreach(c => defaults.foreach { case (k, v) => c.setIfMissing(k, v) })

  /** `SPARK_GRAFT_CPUS`, parsed once on first use. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The core count from the raw setting: 4 when unset, else a positive
    * integer; anything else fails naming the variable. */
  def parseCpus(raw: Option[String]): Int = positiveInt("SPARK_GRAFT_CPUS", raw, 4)

  /** The setting `name` from its raw value: `default` when unset, else a
    * positive integer; anything else fails naming the variable. */
  def positiveInt(name: String, raw: Option[String], default: Int): Int = raw match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
  }

  /** The query-name filter `name` from its raw value: `None` (every
    * query) when unset, else the set of its comma-separated names, empty
    * items dropped. A name not in `known`, or a value with no name at
    * all, fails naming the variable and each unknown name, so a typo
    * never selects zero queries. */
  def queryFilter(name: String, raw: Option[String],
                  known: Set[String]): Option[Set[String]] = raw.map { v =>
    val names = v.split(',').map(_.trim).filter(_.nonEmpty).toSet
    if (names.isEmpty)
      throw new IllegalArgumentException(s"$name names no query, got '$v'")
    val unknown = (names -- known).toSeq.sorted
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"$name names unknown queries: ${unknown.map(u => s"'$u'").mkString(", ")}")
    names
  }

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
