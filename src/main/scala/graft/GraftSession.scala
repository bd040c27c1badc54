package graft

import org.apache.spark.sql.SparkSession

/** The local engine session every main builds: `local[cpus]` with `cpus`
  * shuffle partitions, UTC session time, graft's SQL extensions (which
  * also install the local streaming checkpoint manager), no UI, WARN
  * logging.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, parsed once on first use. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The core count from the raw setting: 4 when unset, else a positive
    * integer; anything else fails naming the variable. */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => 4
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
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
