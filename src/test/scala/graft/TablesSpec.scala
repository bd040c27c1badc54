package graft

import graft.ops.RelationalOps
import graft.sources.Tables

class TablesSpec extends SparkSpec {

  private val sf0p001 = "/root/testdata/sf0.001"
  private val sf0p01 = "/root/testdata/sf0.01"

  /** The default loader floor, whatever `SPARK_GRAFT_PARALLELIZE_MIN_BYTES`
    * this JVM was started with. */
  private val defaultFloor = Tables.parseMinBytes(None)

  /** Table `name` of `dir` as [[Tables.table]] loads it, under the byte
    * floor `minBytes`. */
  private def load(dir: String, name: String, minBytes: Long) =
    Tables.parallelize(spark.read.parquet(s"$dir/$name.parquet"),
      Tables.loadSpecs.get(name), minBytes)

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

  test("Q6 predicates push into the parquet scan") {
    val p = RelationalOps.revenueChange(load(sf0p001, "lineitem", defaultFloor))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // Column pruning: the scan reads EXACTLY the 4 referenced columns.
    // sf0.001's lineitem is under the default floor, so the load
    // repartition is skipped; above the floor its hash-partition key
    // column rides the scan by construction.
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:ti"))
  }

  test("loader size gate: KB-scale tables skip the repartition, tables " +
    "above the gate (and always-parallel text/vector tables) get it") {
    val target = spark.sparkContext.defaultParallelism
    // region (1.9 KB) is under the default floor -> single scan split
    assert(load(sf0p001, "region", defaultFloor).rdd.getNumPartitions < target)
    // ... and above a zero floor -> repartitioned
    assert(load(sf0p001, "region", 0L).rdd.getNumPartitions == target)
    // lineitem at sf0.01 (~1 MB) is above the default floor ->
    // repartitioned on its spec'd key
    val li = load(sf0p01, "lineitem", defaultFloor)
    assert(li.rdd.getNumPartitions == target)
    assert(li.queryExecution.executedPlan.toString
      .contains("hashpartitioning(l_orderkey"))
    // documents is alwaysParallel (heavy per-row operators) even at KB
    // scale
    assert(load(sf0p001, "documents", defaultFloor).rdd.getNumPartitions == target)
  }
}
