package graft

import graft.functions.EditDistancePrefilter
import org.apache.spark.sql.functions._

/** The injected optimizer rule: length-difference lower-bound guard for
  * edit-distance predicates (see EditDistancePrefilter scaladoc). The
  * rule ships in GraftExtensions (spark.sql.extensions) and, per
  * session, via `spark.experimental.extraOptimizations` — the latter is
  * what this suite uses against the shared test session.
  */
class EditDistancePrefilterSpec extends SparkSpec {
  import spark.implicits._

  // a real scan under the filter: over a LocalRelation the main
  // optimizer folds the whole Filter eagerly (ConvertToLocalRelation,
  // which runs BEFORE user-provided rules) and there is nothing left to
  // rewrite
  private def pairs = {
    val dir = tempDir("editdist").toString
    Seq(
      ("kitten", "sitting"),        // dist 3, lengths 6/7
      ("abcdef", "abcdxf"),         // dist 1
      ("short", "a much longer string entirely"),  // length gap 25 -> guard kills
      ("same", "same"),
      ("x" * 30, "y")               // length gap 29 -> guard kills
    ).toDF("a", "b").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ EditDistancePrefilter
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq EditDistancePrefilter)
  }

  test("rule injects the length guard, preserves results, and is idempotent") {
    val query = pairs.filter(levenshtein(col("a"), col("b")) <= 3)
    val expected = query.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(expected == Set(("kitten", "sitting"), ("abcdef", "abcdxf"), ("same", "same")))
    withRule {
      val q = pairs.filter(levenshtein(col("a"), col("b")) <= 3)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("abs(") && opt.contains("length("),
        s"expected the length guard in the optimized plan:\n$opt")
      // fixed-point batches re-run the rule: the guard must appear ONCE
      assert("abs\\(".r.findAllIn(opt).size == 1, s"guard must be idempotent:\n$opt")
      val got = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == expected, "the rewrite must not change results")
    }
  }

  test("guard preserves three-valued logic on NULL inputs") {
    val dir = tempDir("editdist_null").toString
    Seq((Some("abc"), Some("abd")), (None, Some("x")),
      (Some("y"), None)).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val withNulls = spark.read.parquet(dir)
    val expected = withNulls.filter(levenshtein(col("a"), col("b")) <= 1).count()
    withRule {
      val got = withNulls.filter(levenshtein(col("a"), col("b")) <= 1).count()
      assert(got == expected && got == 1L)
    }
  }
}
