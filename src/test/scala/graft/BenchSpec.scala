package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

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
}
