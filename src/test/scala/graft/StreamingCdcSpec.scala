package graft

import graft.ops.EventOps
import graft.streaming.StreamingCdc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming CDC ingest: per-micro-batch MERGE into a parquet snapshot
  * must equal the one-shot batch MERGE regardless of how the changelog
  * was micro-batched (tombstone retention makes the fold
  * order-insensitive).
  */
class StreamingCdcSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "alice", 10.0),
    (2L, "bob", 20.0),
    (3L, "carol", 30.0)
  ).toDF("c_custkey", "c_name", "c_acctbal")

  // (event_id, ts_ns, user_id, event_type, value)
  private val allChanges = Seq(
    (101L, 2000L * 1000, 2L, "click", 99.0),    // newest for key 2
    (100L, 1000L * 1000, 2L, "purchase", 50.0), // superseded
    (103L, 2000L * 1000, 3L, "error", 0.0),     // tombstone for key 3
    (102L, 1000L * 1000, 3L, "purchase", 77.0), // older than the tombstone
    (104L, 1000L * 1000, 4L, "signup", 44.0))   // insert

  private def changesDF(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")

  private def collected(df: DataFrame): Set[(Long, Option[String], Option[Double], Option[String])] =
    df.collect().map(r => (r.getLong(0), Option(r.getString(1)),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)),
      Option(r.getString(3)))).toSet

  test("foreachBatch merge over OUT-OF-ORDER micro-batches equals the one-shot MERGE") {
    val snapDir = tempDir("graft_cdc_snap").toString + "/snap"
    val ckpt = tempDir("graft_cdc_ckpt").toString
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val query = StreamingCdc.cdcSink(spark, stream, base, snapDir, ckpt)
    try {
      // batch 1: the NEWER changes; batch 2: the older, late-arriving ones
      input.addData(allChanges(0), allChanges(2), allChanges(4))
      query.processAllAvailable()
      input.addData(allChanges(1), allChanges(3))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = collected(StreamingCdc.currentView(spark, snapDir))
    val oneShot = collected(EventOps.cdcUpsert(changesDF(allChanges), base))
    assert(streamed === oneShot)
    assert(streamed === Set(
      (1L, Some("alice"), Some(10.0), None),
      (2L, Some("bob"), Some(99.0), Some("upsert")),
      (4L, None, Some(44.0), Some("upsert"))))
  }

  test("late older upsert for a deleted key does NOT resurrect the row") {
    val snapDir = tempDir("graft_cdc_ttl").toString + "/snap"
    StreamingCdc.initSnapshot(spark, base, snapDir)
    StreamingCdc.mergeBatch(spark, changesDF(Seq((103L, 2000L * 1000, 3L, "error", 0.0))), snapDir)
    StreamingCdc.mergeBatch(spark, changesDF(Seq((102L, 1000L * 1000, 3L, "purchase", 77.0))), snapDir)
    val view = StreamingCdc.currentView(spark, snapDir)
    assert(view.filter(col("key") === 3L).count() === 0,
      "the retained tombstone must win the ordering comparison")
  }

  test("an interrupted publish recovers the COMMITTED generation, never re-initializes") {
    import graft.sources.SnapshotSwap
    val snapDir = tempDir("graft_cdc_crash").toString + "/snap"
    StreamingCdc.initSnapshot(spark, base, snapDir)
    StreamingCdc.mergeBatch(spark,
      changesDF(Seq((300L, 1000L * 1000, 1L, "click", 77.0))), snapDir)
    // simulate the crash window of the NEXT merge: the next generation is
    // fully written but the live dir was already retired (the window the
    // old delete-then-rename protocol lost data in)
    val next = EventOps.cdcApplyChanges(spark.read.parquet(snapDir),
      changesDF(Seq((301L, 2000L * 1000, 1L, "click", 88.0))))
    next.repartition(2).write.parquet(SnapshotSwap.nextPath(snapDir))
    val fs = new org.apache.hadoop.fs.Path(snapDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(snapDir),
      new org.apache.hadoop.fs.Path(snapDir + "__old")))
    // restart path: initSnapshot must RECOVER (not re-init from base)
    StreamingCdc.initSnapshot(spark, base, snapDir)
    val bal = StreamingCdc.currentView(spark, snapDir)
      .filter(col("key") === 1L).select("acctbal").collect().head.getDouble(0)
    assert(bal === 88.0, "recovery must surface the committed next generation")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(snapDir + "__old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(SnapshotSwap.nextPath(snapDir))),
      "recovery must clean up the protocol's working directories")
  }

  test("empty batch is a no-op and the snapshot keeps a bounded file count") {
    val snapDir = tempDir("graft_cdc_files").toString + "/snap"
    StreamingCdc.initSnapshot(spark, base, snapDir, numFiles = 2)
    (0 until 5).foreach { i =>
      StreamingCdc.mergeBatch(spark,
        changesDF(Seq((200L + i, (i + 1) * 1000L * 1000, 1L, "click", i.toDouble))),
        snapDir, numFiles = 2)
    }
    StreamingCdc.mergeBatch(spark, changesDF(Nil), snapDir, numFiles = 2)
    val files = new java.io.File(snapDir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"snapshot must stay at <= numFiles parquet files, got $files")
    val bal = StreamingCdc.currentView(spark, snapDir)
      .filter(col("key") === 1L).select("acctbal").collect().head.getDouble(0)
    assert(bal === 4.0, "the last (highest-ts) merge wins")
  }
}
