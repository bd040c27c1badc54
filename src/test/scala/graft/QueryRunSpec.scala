package graft

import java.nio.file.Files
import org.apache.spark.sql.graftshim.ColumnBridge

/** The one query runner: build jobs counted apart from the action's, the
  * cached state a query leaves reported and then cleared, failures
  * returned in the record, and Verify's dump on top of it. */
class QueryRunSpec extends SparkSpec {

  private def assertNoCachedState(): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(ColumnBridge.cachedPlans(spark) == 0)
  }

  test("a job run while the query is built counts as a build job, apart from the action's") {
    // one eager job: a collect without a shuffle (a count() under AQE runs
    // two, its shuffle map stage and its result)
    val r = QueryRun(spark, "eager", { spark.range(10).collect(); spark.range(7).toDF("id") })(
      _.count())
    assert(r.outcome == Right(7L), r)
    assert(r.buildJobs == 1, r)
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, r)
    assert(r.buildNs > 0 && r.actionNs > 0 && r.sec == (r.buildNs + r.actionNs) / 1e9, r)
    val lazyBuild = QueryRun(spark, "lazy", spark.range(7).toDF("id"))(_.count())
    assert(lazyBuild.buildJobs == 0 && lazyBuild.jobs == r.jobs, lazyBuild)
  }

  test("an intermediate the build persists and materializes is reported, then cleared") {
    QueryRun(spark, "empty", spark.range(1).toDF("id"))(_.count())
    assertNoCachedState()
    val r = QueryRun(spark, "pinned", {
      val pinned = spark.range(100).toDF("id").persist()
      pinned.count()
      pinned.filter("id % 2 = 0")
    })(_.count())
    assert(r.outcome == Right(50L), r)
    assert(r.buildJobs >= 1, r)
    assert(r.persistedRdds == 1 && r.cachedPlans == 1, r)
    assertNoCachedState()
  }

  test("an action that throws comes back as the record's error, and the cache is still cleared") {
    val r = QueryRun(spark, "throws", {
      val pinned = spark.range(10).toDF("id").persist()
      pinned.count()
      pinned
    })(_ => throw new IllegalStateException("action failed"))
    assert(r.error.contains("action failed"), r)
    assert(r.persistedRdds == 1 && r.cachedPlans == 1, r)
    assertNoCachedState()
  }

  test("Verify's dump writes a passing query and removes a failed query's stale dump") {
    val out = tempDir("verify-dump")
    val dump = out.resolve("q")
    val ok = Verify.dump(spark, "unused", out.toString, "q", (s, _) => s.range(3).toDF("id"))
    assert(ok.error.isEmpty, ok)
    assert(spark.read.parquet(dump.toString).count() == 3)
    val failed = Verify.dump(spark, "unused", out.toString, "q",
      (_, _) => throw new IllegalArgumentException("no such table"))
    assert(failed.error.contains("no such table"), failed)
    assert(!Files.exists(dump), "a failed query must leave no dump for the compare to grade")
    assertNoCachedState()
  }
}
