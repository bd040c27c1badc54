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
}
