package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
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
    // Iteration aid (mirrors Bench's SPARK_GRAFT_BENCH_ONLY): dump only a
    // comma-separated subset; the driver never sets it, so its runs are
    // always the full surface. oracle_sql.json is still written in full.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
