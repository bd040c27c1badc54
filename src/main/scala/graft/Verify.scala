package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The optional query-name filter `SPARK_GRAFT_VERIFY_ONLY`, an
    * iteration aid: dump only the named queries; unset dumps every
    * registered query. oracle_sql.json is written in full either way. */
  def parseOnly(raw: Option[String]): Option[Set[String]] =
    GraftSession.queryFilter("SPARK_GRAFT_VERIFY_ONLY", raw, SparkEntry.queries.keySet)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val only = parseOnly(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) => dump(spark, sfDir, outDir, name, fn) }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes query `name`'s result to `outDir/name` through [[QueryRun]].
    * A failed query leaves NO dump, so the compare reports it missing:
    * `mode("overwrite")` replaces a dump only when the write succeeds, and
    * a query that throws would otherwise leave the previous run's parquet
    * for the compare to grade (an OOM'd query once "mismatched" an updated
    * oracle by comparing last run's rows). */
  def dump(spark: SparkSession, sfDir: String, outDir: String, name: String,
           fn: (SparkSession, String) => DataFrame): QueryRun[Unit] = {
    val run = QueryRun(spark, name, fn(spark, sfDir))(
      _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    run.error.foreach { e =>
      System.err.println(s"[verify] $name failed: $e")
      graft.ops.FixtureDirs.rmTree(Paths.get(s"$outDir/$name"))
    }
    run
  }
}
