package graft
import java.nio.file.{Files, Paths}
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
    // Recursive delete for FAILED queries: `mode("overwrite")` only
    // replaces the dump when the write SUCCEEDS — a query that throws
    // leaves the PREVIOUS run's parquet in place, and the driver compare
    // would silently grade stale results (observed: an OOM'd query
    // "mismatching" an updated oracle by comparing last run's rows).
    // Failure must leave NO dump so the compare reports the query missing.
    def rmTree(p: java.nio.file.Path): Unit = {
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
        finally s.close()
      }
    }
    val selected = only match {
      case Some(set) => SparkEntry.queries.filter { case (n, _) => set(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        rmTree(Paths.get(s"$outDir/$name"))
      }
      // Operators that persist() intermediates (minhashPairs,
      // ngramJaccardPairs) leave cached blocks behind; drop them so a
      // 46-query session doesn't accumulate until LRU eviction.
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
