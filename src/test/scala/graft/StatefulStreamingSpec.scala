package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StatefulStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed counts with watermark: per-window per-key aggregation") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = StreamingOps.windowedCounts(
      input.toDF().toDF("ts", "kind"), "ts", "kind", "10 seconds", "5 seconds")
    val query = counts.writeStream.format("memory")
      .queryName("win_counts").outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (new Timestamp(1000), "a"), (new Timestamp(3000), "a"),
        (new Timestamp(12000), "a"), (new Timestamp(13000), "b"))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT window.start, kind, cnt FROM win_counts ORDER BY 1, 2").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSeq
      assert(rows == Seq((0L, "a", 2L), (10000L, "a", 1L), (10000L, "b", 1L)))
    } finally query.stop()
  }

  test("session_window merges events within the gap, splits beyond it") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val sessions = StreamingOps.sessionWindowCounts(
      input.toDF().toDF("ts", "kind"), "ts", "kind", "5 seconds", "2 seconds")
    val query = sessions.writeStream.format("memory")
      .queryName("sess_counts").outputMode(OutputMode.Complete()).start()
    try {
      // events at 1s, 4s (same session: gap 3s < 5s), 60s (new session)
      input.addData(
        (new Timestamp(1000), "u"), (new Timestamp(4000), "u"),
        (new Timestamp(60000), "u"))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT session_window.start, cnt FROM sess_counts ORDER BY 1").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
      assert(rows == Seq((1000L, 2L), (60000L, 1L)))
    } finally query.stop()

    // A late event over several triggers: 1000 and 5000, then 3000, then
    // 60000 ms. EventOps.sessionize's rule on the same events gives one
    // session (1000, 5000, 3) and then (60000, 60000, 1); the session
    // window reports [start, last + gap). Keys "w" (across triggers) and
    // "x" (in one trigger) are the gap boundary: 1000 and 6000 are exactly
    // one gap apart, and like the batch rule session_window keeps them in
    // one session (it splits only on a gap > 5 s).
    val late = MemoryStream[(Timestamp, String)]
    val lateSessions = StreamingOps.sessionWindowCounts(
      late.toDF().toDF("ts", "kind"), "ts", "kind", "5 seconds", "10 seconds")
    val lateQuery = lateSessions.writeStream.format("memory")
      .queryName("late_sess_counts").outputMode(OutputMode.Complete()).start()
    try {
      for (batch <- Seq(Seq(1000L -> "u", 5000L -> "u", 1000L -> "w",
            1000L -> "x", 6000L -> "x"),
          Seq(3000L -> "u", 6000L -> "w"), Seq(60000L -> "u"))) {
        late.addData(batch.map { case (t, k) => (new Timestamp(t), k) })
        lateQuery.processAllAvailable()
      }
      val gapMs = 5000L
      val rows = spark.sql("SELECT kind, session_window.start, session_window.end, cnt " +
          "FROM late_sess_counts ORDER BY 1, 2").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime - gapMs, r.getLong(3))).toSeq
      assert(rows == Seq(("u", 1000L, 5000L, 3L), ("u", 60000L, 60000L, 1L),
        ("w", 1000L, 6000L, 2L), ("x", 1000L, 6000L, 2L)))
    } finally lateQuery.stop()
  }
}
