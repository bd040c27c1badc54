package graft

import graft.ops.Ranking
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The engine's one ranking tail: [[Ranking.topK]]'s numbering contract,
  * and the plan shape every registered per-key top-k gets from it. */
class RankingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private val rows = Seq(
    ("a", 3.0, 1L), ("a", 3.0, 2L), ("a", 3.0, 3L), ("a", 1.0, 0L),
    ("b", 5.0, 7L)
  ).toDF("p", "score", "id")

  private def ranked(order: Seq[org.apache.spark.sql.Column], k: Int): Map[String, Seq[(Long, Long)]] =
    Ranking.topK(rows, "p", order, k)
      .select("p", "id", "rank").as[(String, Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (p, rs) => p -> rs.map(r => (r._2, r._3)).sortBy(_._2) }

  test("topK: ties on the leading order column are broken by the trailing one") {
    assert(ranked(Seq(col("score").desc, col("id").asc), 2)("a") == Seq((1L, 1L), (2L, 2L)))
    assert(ranked(Seq(col("score").desc, col("id").desc), 2)("a") == Seq((3L, 1L), (2L, 2L)))
  }

  test("topK: a partition with fewer than k rows is kept whole") {
    val out = ranked(Seq(col("score").desc, col("id").asc), 3)
    assert(out("b") == Seq((7L, 1L)))
    assert(out("a") == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    assert(ranked(Seq(col("score").desc, col("id").asc), 10)("a").size == 4)
  }

  test("topK: rank is a LONG column appended last, numbered from 1") {
    val out = Ranking.topK(rows, "p", Seq(col("score").desc, col("id").asc), 4)
    assert(out.columns.toSeq == Seq("p", "score", "id", "rank"))
    assert(out.schema("rank").dataType == LongType)
    assert(out.select("p", "rank").as[(String, Long)].collect().toSeq
      .groupBy(_._1).values.forall(rs => rs.map(_._2).sorted == (1L to rs.size.toLong)))
  }

  // every registered query whose result is a per-key top-k
  private val topKQueries = Seq(
    "cosine_topk", "ann_ivf", "ann_ivf_nprobe", "ann_lsh", "ann_lsh_multiprobe",
    "ann_lsh_multitable", "ann_project_rerank", "ann_pq_adc", "ann_ivf_pq",
    "ann_ivf_pq_residual", "hybrid_rrf", "hybrid_rrf_lsh", "hybrid_rrf_index",
    "bm25_topk", "bm25_prf", "tfidf_top", "stratified_sample",
    "top_orders_per_priority", "q10_top_return_customers")

  /** `p` and every node below it in pre-order, through adaptive plans,
    * their query stages and cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => p.children.flatMap(nodes)
  })

  // the result's own ranking window is the one nearest the root; an
  // inner window (a probe or shortlist cut) may carry a limit of its own
  for (name <- topKQueries) test(s"$name plans its top-k as a WindowGroupLimit") {
    try {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val top = nodes(plan).collectFirst { case w: WindowExec => w }
      assert(top.exists(_.child.isInstanceOf[WindowGroupLimitExec]), s"$name:\n$plan")
    } finally spark.catalog.clearCache()
  }
}
