package graft

import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {

  test("parseMinBytes: unset gives the 512 KiB default, a byte count parses") {
    assert(Tables.parseMinBytes(None) == 512L * 1024)
    assert(Tables.parseMinBytes(Some("0")) == 0L)
    assert(Tables.parseMinBytes(Some(" 1048576 ")) == 1048576L)
  }

  test("parseMinBytes: a malformed or negative value fails naming the variable") {
    for (bad <- Seq("", "512k", "1.5", "-1", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](Tables.parseMinBytes(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_PARALLELIZE_MIN_BYTES"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
