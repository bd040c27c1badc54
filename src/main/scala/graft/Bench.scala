package graft

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line. Failures are reported per query in an `errors`
  * field (never silently folded into the total) and excluded from the
  * timed total. A trivial warmup action absorbs
  * session/codegen startup so the first query isn't charged ~10s of JVM
  * warmup.
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
    // MEDIAN-OF-3 per query: the bench host is co-tenant contended (2-4×
    // single-run variance observed across runs; identical plans measured
    // 1.7 s and 102 s) — one run measures the neighbors, the median of
    // three measures the engine. Each rep is a full cold run (cache
    // cleared between reps), so the median is a cold-query time, not a
    // cache readback.
    val reps = parseReps(sys.env.get("SPARK_GRAFT_BENCH_REPS"))
    val only = parseOnly(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = GraftSession.local(GraftSession.cpus)

    // JVM/codegen warmup + Hadoop/parquet reader init (otherwise the first
    // query is charged several seconds of one-time setup): exercise the
    // hot code paths — shuffle, explode+regex split, hash agg, md5 — on
    // tiny data before the clock starts.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(5000)
      .selectExpr("explode(split(lower(concat('a b,c ', id)), '\\\\W+')) AS w")
      .groupBy("w").count().selectExpr("max(md5(w))").collect()
    spark.range(5000)  // JSON codec paths (Jackson init, JsonToStructs)
      .selectExpr("id", """concat('{"a":', id, '}') AS v""")
      .selectExpr("from_json(v, 'a BIGINT') AS s", "to_json(struct(id)) AS j")
      .filter("s.a IS NOT NULL").count()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }

    import Json.{quote => q}

    val timings = collection.mutable.LinkedHashMap.empty[String, Double]
    // Per-query per-REP times: every rep is in the machine record, so a
    // min-of-N arbitration across runs is recomputed from the record,
    // not asserted in prose.
    val repTimes = collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // Per-query OUTPUT rows: regressions normalize by data touched
    // instead of re-arbitrating co-tenant noise on every run.
    val rowCounts = collection.mutable.LinkedHashMap.empty[String, Long]
    val errors = collection.mutable.LinkedHashMap.empty[String, String]
    // Sorted order: stable attribution across runs (Map iteration order
    // shifts as entries are added, moving the noise-prone early slots).
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val ts = collection.mutable.ArrayBuffer.empty[Double]
      try {
        var r = 0
        while (r < reps) {
          val t0 = System.nanoTime()
          rowCounts(name) = fn(spark, sfDir).count()
          ts += (System.nanoTime() - t0) / 1e9
          // Untimed: drop persist()ed intermediates between reps/queries so
          // cached blocks don't accumulate and each rep is independent.
          spark.catalog.clearCache()
          r += 1
        }
        timings(name) = ts.sorted.apply(reps / 2)
        repTimes(name) = ts.toSeq
        // Incremental record: one JSON line per query as its median lands,
        // so a timed-out or killed run still leaves parseable per-query
        // timings in its output tail instead of only Spark startup noise.
        // The final summary line below is unchanged — consumers that only
        // read the last line still work. `reps_sec` carries every rep so
        // min-of-N arbitration is recomputable from any surviving line.
        println(s"""{"metric":"query","name":${q(name)},"sec":${timings(name)},"min":${ts.min},"reps_sec":${ts.mkString("[", ",", "]")},"rows":${rowCounts(name)}}""")
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          println(s"""{"metric":"query","name":${q(name)},"error":${q(errors(name))}}""")
          spark.catalog.clearCache()
      }
    }
    val qs = timings.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val rts = repTimes.map { case (k, v) =>
      s"${q(k)}:${v.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val rs = rowCounts.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    // surface_hash keys cross-run arbitration: runs are comparable ONLY
    // when they timed the same query set, and a changed set changes the
    // hash.
    val surfaceHash = graft.functions.Hashing.md5Hex(
      timings.keys.toSeq.sorted.mkString(","))
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","ts_ms":${System.currentTimeMillis()},"surface_hash":${q(surfaceHash)},"queries":$qs,"queries_reps":$rts,"rows":$rs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"reps":$reps,"sf":"$sfDir"}"""
    println(fullLine)
    // Cross-run HISTORY: every FULL run appends its complete record to
    // BENCH_RUNS.jsonl, so the min-of-N-runs arbitration that justifies
    // a perf gate is machine-readable across runs
    // (tools/bench_arbitrate.py renders it).
    // Append-only — a run never erases another run's evidence.
    if (only.isEmpty) try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.props.getOrElse("user.dir", "."), "BENCH_RUNS.jsonl"),
        fullLine + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      println(s"""{"metric":"artifact_error","error":${q(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}""")
    }
    // COMMITTED ARTIFACT: a stdout-tail parse reads only the final
    // captured line, which a wrapper's footer (sbt's `[success]`, say)
    // can displace, so the complete summary record — same JSON object as the full stdout
    // line above, including the whole per-query map — is ALSO written to
    // repo-root BENCH_SUMMARY.json on every run. Atomic tmp+rename so a
    // concurrent reader never sees a torn file; failures are non-fatal
    // (the bench numbers themselves must never be lost to an EROFS).
    // FULL runs only: a SPARK_GRAFT_BENCH_ONLY arbitration re-run must
    // not clobber the full-surface record with a partial one.
    if (only.isEmpty) try {
      val dir = new java.io.File(sys.props.getOrElse("user.dir", "."))
      val tmp = new java.io.File(dir, ".BENCH_SUMMARY.json.tmp")
      val out = new java.io.File(dir, "BENCH_SUMMARY.json")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try w.println(fullLine) finally w.close()
      // ATOMIC_MOVE, not just REPLACE: without it Files.move may fall
      // back to copy+delete (cross-mount / no-rename filesystems) and a
      // concurrent reader could see a torn file — the exact guarantee
      // the artifact exists for. Platforms that can't rename atomically
      // fail loudly into the catch below instead of lying.
      java.nio.file.Files.move(tmp.toPath, out.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Throwable =>
      println(s"""{"metric":"artifact_error","error":${q(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}""")
    }
    // FINAL line is COMPACT (<1500 chars) so a tail-window capture always
    // ends with a parseable record (the full summary above runs to ~8 KB,
    // past a 2000-char tail window). Same contract shape — metric/value/unit/queries/sf
    // — but `queries` carries only the slowest 5; the full per-query map is
    // in the line above and in the incremental per-query lines.
    val slowest = timings.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$slowest,"queries_truncated":true,"n_ok":${timings.size},"n_err":${errors.size},"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
  }
}
