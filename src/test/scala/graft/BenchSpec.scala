package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

class BenchSpec extends SparkSpec {

  test("SPARK_GRAFT_BENCH_REPS: unset gives 3, a positive integer parses, anything else " +
      "fails naming the variable") {
    assert(Bench.parseReps(None) == 3)
    assert(Bench.parseReps(Some(" 5 ")) == 5)
    for (bad <- Seq("abc", "0", "-1", "")) {
      val e = intercept[IllegalArgumentException](Bench.parseReps(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_REPS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  for ((name, parse) <- Seq[(String, Option[String] => Option[Set[String]])](
      "SPARK_GRAFT_BENCH_ONLY" -> Bench.parseOnly,
      "SPARK_GRAFT_VERIFY_ONLY" -> Verify.parseOnly)) {
    test(s"$name: unset selects every query, known names parse with empty items " +
        "dropped, unknown names or no name fail naming the variable") {
      assert(parse(None).isEmpty)
      assert(parse(Some(" bm25_topk,,bm25_prf , ")) == Some(Set("bm25_topk", "bm25_prf")))
      val e = intercept[IllegalArgumentException](
        parse(Some("bm25_topk,bm25_tpok,hybrid_rff")))
      assert(e.getMessage.contains(name), e.getMessage)
      assert(e.getMessage.contains("'bm25_tpok'") && e.getMessage.contains("'hybrid_rff'"),
        e.getMessage)
      assert(!e.getMessage.contains("'bm25_topk'"), e.getMessage)
      for (empty <- Seq("", " , ")) {
        val e = intercept[IllegalArgumentException](parse(Some(empty)))
        assert(e.getMessage.contains(name), e.getMessage)
      }
    }
  }

  test("Bench's per-query, error, summary and compact lines parse as JSON with their keys, " +
      "and sec is the median of the reps") {
    val mapper = new ObjectMapper()
    val printed = collection.mutable.ArrayBuffer.empty[String]
    val (full, compact) = Bench.measure(spark, "/data/sf\"x", Seq(
      "five_rows" -> ((s, _) => s.range(5).toDF("id")),
      "fails" -> ((_, _) => throw new IllegalStateException("no \"such\" table"))), reps = 3)(
      printed += _)
    assert(printed.size == 3 && printed.last == full)
    val Seq(ok, err, summary, last) = (printed.toSeq :+ compact).map(mapper.readTree)
    def keys(n: com.fasterxml.jackson.databind.JsonNode) = n.fieldNames().asScala.mkString(",")
    assert(keys(ok) == "metric,name,sec,min,reps_sec,rows")
    assert(keys(err) == "metric,name,error")
    assert(keys(summary) == "metric,value,unit,ts_ms,surface_hash,queries,queries_reps,rows," +
      "errors,n_ok,n_err,reps,sf")
    assert(keys(last) == "metric,value,unit,queries,queries_truncated,n_ok,n_err,reps,sf")
    val reps = ok.get("reps_sec").elements().asScala.map(_.asDouble).toSeq
    assert(reps.size == 3)
    assert(ok.get("sec").asDouble == reps.sorted.apply(1) && ok.get("min").asDouble == reps.min)
    assert(ok.get("rows").asLong == 5 && ok.get("name").asText == "five_rows")
    assert(err.get("error").asText == "no \"such\" table")
    assert(summary.get("errors").get("fails").asText == "no \"such\" table")
    for (total <- Seq(summary, last)) {
      assert(total.get("value").asDouble == ok.get("sec").asDouble)
      assert(total.get("n_ok").asInt == 1 && total.get("n_err").asInt == 1)
      assert(total.get("sf").asText == "/data/sf\"x" && total.get("reps").asInt == 3)
      assert(keys(total.get("queries")) == "five_rows")
    }
  }
}
