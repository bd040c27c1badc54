package graft

import graft.ops.{EventOps, RelationalOps}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-3 additions: relational breadth (Q3/Q4/Q6 flavors) and the
  * native event-time window operators. Value checks on synthetic inputs
  * plus physical-plan shape assertions — the plan IS the contract at
  * scale (semi-join must not fan out, global top-k must not global-sort).
  */
class Round3AdditionsSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("tumbling window: epoch-aligned hour buckets, counts and sums") {
    val hourUs = 3600L * 1000 * 1000
    val events = Seq(
      (1L, 10L * hourUs * 1000, "a", """{"k":1}"""),          // ts is NANOS
      (2L, (10L * hourUs + 1) * 1000, "a", """{"k":2}"""),
      (3L, 11L * hourUs * 1000, "a", """{"k":4}"""),
      (4L, (11L * hourUs - 1) * 1000, "b", """{"k":8}""")
    ).toDF("event_id", "ts", "event_type", "props")
    val got = EventOps.tumblingCounts(events)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (10 * hourUs, "a", 2L, 3L),
      (11 * hourUs, "a", 1L, 4L),
      (10 * hourUs, "b", 1L, 8L)))                            // 11h-1us → 10h bucket
  }

  test("sliding window: every event lands in exactly width/slide windows") {
    val halfUs = 1800L * 1000 * 1000
    val events = Seq((1L, 5L * halfUs * 1000, "a", "{}"))
      .toDF("event_id", "ts", "event_type", "props")
    val got = EventOps.slidingCounts(events)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((4 * halfUs, "a", 1L), (5 * halfUs, "a", 1L)))
  }

  test("semi-join emits each order once regardless of matching-line count") {
    val orders = Seq((1L, "1-URGENT"), (2L, "1-URGENT"), (3L, "2-HIGH"))
      .toDF("o_orderkey", "o_orderpriority")
    val lineitem = Seq((1L, "R"), (1L, "R"), (1L, "R"), (3L, "R"), (2L, "N"))
      .toDF("l_orderkey", "l_returnflag")
    val got = RelationalOps.prioritiesWithReturns(orders, lineitem)
      .as[(String, Long)].collect().toMap
    assert(got == Map("1-URGENT" -> 1L, "2-HIGH" -> 1L))
    assert(plan(RelationalOps.prioritiesWithReturns(orders, lineitem))
      .contains("LeftSemi"))
  }

  test("global top-k plans TakeOrderedAndProject, never a global sort") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(RelationalOps.shippingPriority(
      Tables.customer(spark, dir), Tables.orders(spark, dir),
      Tables.lineitem(spark, dir)))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("rangepartitioning"))
  }

  test("anti join keeps exactly the customers with no qualifying order") {
    val customer = Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 2))
      .toDF("c_custkey", "c_name", "c_nationkey")
    val orders = Seq((10L, 1L, 500000.0), (11L, 2L, 100.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val got = RelationalOps.customersWithoutOrders(customer, orders)
      .as[(Long, String, Long)].collect().toSet
    // 2's only order is under threshold; 3 has none — both kept, 1 dropped.
    assert(got == Set((2L, "b", 1L), (3L, "c", 2L)))
    assert(plan(RelationalOps.customersWithoutOrders(customer, orders))
      .contains("LeftAnti"))
  }

  test("rollup produces all three levels from one Expand pass") {
    val li = Seq(("A", "F", 1.0), ("A", "F", 2.0), ("N", "O", 4.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
    val got = RelationalOps.pricingRollup(li)
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    assert(got == Set(
      (Some("A"), Some("F"), 2L, 3.0, 0L),
      (Some("N"), Some("O"), 1L, 4.0, 0L),
      (Some("A"), None, 2L, 3.0, 1L),
      (Some("N"), None, 1L, 4.0, 1L),
      (None, None, 3L, 7.0, 3L)))
    assert(plan(RelationalOps.pricingRollup(li)).contains("Expand"))
  }

  test("pivot fills empty cells with 0 and plans one shuffle") {
    val li = Seq(("A", "F"), ("A", "F"), ("R", "F"), ("N", "O"))
      .toDF("l_returnflag", "l_linestatus")
    val got = RelationalOps.returnFlagPivot(li)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("F", 2L, 0L, 1L), ("O", 0L, 1L, 0L)))
  }

  test("running totals accumulate per customer in date order") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val orders = Seq(
      (1L, 7L, ts("1995-01-01 00:00:00"), 10.0),
      (2L, 7L, ts("1995-01-02 00:00:00"), 5.0),
      (3L, 8L, ts("1995-01-01 00:00:00"), 2.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = RelationalOps.runningTotals(orders)
      .select("o_custkey", "o_orderkey", "running_spend", "order_seq")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == Set((7L, 1L, 10.0, 1L), (7L, 2L, 15.0, 2L), (8L, 3L, 2.0, 1L)))
  }

  test("except/intersect split behavior keys by half-window activity") {
    val mid = 1705363200000000L
    val events = Seq(
      (1L, (mid - 5) * 1000, 100L, "a", 3.7),  // (100,a,3) in both halves
      (2L, (mid + 5) * 1000, 100L, "a", 3.2),
      (3L, (mid - 9) * 1000, 100L, "b", 3.7),  // (100,b,3) first only
      (4L, (mid + 9) * 1000, 300L, "a", 9.9)   // (300,a,9) second only
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(graft.ops.EventOps.churnedUsers(events)
      .as[(Long, String, Long)].collect().toSet == Set((100L, "b", 3L)))
    assert(graft.ops.EventOps.retainedUsers(events)
      .as[(Long, String, Long)].collect().toSet == Set((100L, "a", 3L)))
    // Set ops must plan as anti/semi joins over distinct keys — no fan-out.
    assert(plan(graft.ops.EventOps.churnedUsers(events)).contains("LeftAnti"))
    assert(plan(graft.ops.EventOps.retainedUsers(events)).contains("LeftSemi"))
  }

  test("resize decimates payload bytes; empty payload yields empty result") {
    val packed = Seq(
      (1L, "abcdefghij", "en", "web", 10L),
      (2L, "", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS payload", "lang", "source", "n_chars")
    val got = graft.ops.MultimodalOps.resizeStub(spark, packed)
      .collect().map(r => (r.doc_id, r.orig_len, r.new_len, r.resized_hex)).toSet
    // every 4th byte of "abcdefghij" = a,e,i → 0x61 0x65 0x69
    assert(got == Set((1L, 10L, 3L, "616569"), (2L, 0L, 0L, "")))
  }

  test("Q17 correlated subquery decorrelates to aggregate + join") {
    val dir = "/root/testdata/sf0.001"
    val p = plan(RelationalOps.smallQuantityRevenue(
      spark, Tables.lineitem(spark, dir), Tables.part(spark, dir)))
    // Decorrelated: the per-part average is a standalone aggregate joined
    // back, never a re-executed per-row subquery.
    assert(!p.contains("ScalarSubquery"))
    assert(p.contains("Join"))
    assert(p.contains("avg("))
  }

  test("Q16 count-distinct plans as multi-phase aggregation, not raw shuffle") {
    val dir = "/root/testdata/sf0.001"
    val df = RelationalOps.supplierCountByBrand(
      Tables.lineitem(spark, dir), Tables.part(spark, dir))
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size >= 3) // partial-distinct phases
    val row = df.filter(col("p_brand") === "Brand#4").head()
    assert(row.getLong(1) > 0 && row.getLong(1) <= row.getLong(2))
  }

  test("vocab encoding: dense df-ordered ids, OOV is -1, positions kept") {
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the dog sat"),
      (3L, "the rare xylophone")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.vocabEncode(docs, vocabSize = 3)
      .as[(Long, Long, Long)].collect().toSet
    // df: the=3, sat=2, then ties at df=1 break alphabetically: cat.
    // dog/rare/xylophone fall out of the 3-token vocab → -1.
    assert(got == Set(
      (1L, 0L, 0L), (1L, 1L, 2L), (1L, 2L, 1L),
      (2L, 0L, 0L), (2L, 1L, -1L), (2L, 2L, 1L),
      (3L, 0L, 0L), (3L, 1L, -1L), (3L, 2L, -1L)))
  }
}
