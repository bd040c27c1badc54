package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

/** graft's session defaults ([[GraftSession.defaults]]): how they are
  * installed, that an explicit setting wins, and what they buy. With
  * artifact isolation off, a new streaming query's tasks run in the
  * executor's default session, so its generated classes are the ones an
  * earlier query compiled; with it on, each query gets its own class
  * loader and recompiles.
  */
class SessionDefaultsSpec extends SparkSpec {

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  test("installDefaults sets every default the conf leaves unset") {
    val conf = new SparkConf(false)
    GraftSession.installDefaults(Some(conf))
    assert(conf.getAll.toMap === GraftSession.defaults)
    assert(conf.get(Isolation) === "false")
  }

  test("installDefaults keeps an explicit setting") {
    val conf = new SparkConf(false).set(Isolation, "true")
    GraftSession.installDefaults(Some(conf))
    assert(conf.get(Isolation) === "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("installDefaults does nothing when no context is active") {
    val before = spark.sparkContext.getConf.getAll.toMap
    GraftSession.installDefaults(None)
    assert(spark.sparkContext.getConf.getAll.toMap === before)
  }

  /** Generated classes compiled while the same word-count stream is
    * drained twice from `session`, each time by a fresh `AvailableNow`
    * query with a fresh checkpoint: (first drain, second drain). */
  private def compilesPerDrain(session: SparkSession): (Long, Long) =
    withTempDir("graft_session_defaults") { dir =>
      val input = Files.createDirectories(dir.resolve("in"))
      val rng = new scala.util.Random(11)
      (0 until 3).foreach(i => Files.write(input.resolve(s"part-$i.txt"),
        Seq.fill(8)(Seq.fill(6)(s"w${rng.nextInt(20)}").mkString(" ")).asJava))
      def drain(run: Int): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val q = StreamingOps.wordCountSpace(
            session.readStream.option("maxFilesPerTrigger", 1).text(input.toString))
          .writeStream.outputMode("update")
          .foreachBatch((df: DataFrame, _: Long) => df.collect(): Unit)
          .option("checkpointLocation", dir.resolve(s"ckpt$run").toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        assert(q.exception.isEmpty, q.exception)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      (drain(0), drain(1))
    }

  test("a second query of the same stream compiles no generated class") {
    val (first, second) = compilesPerDrain(spark)
    assert(second === 0, s"first drain compiled $first classes")
  }

  test("an explicit artifact isolation setting wins: each query then recompiles") {
    val isolated = spark.newSession()
    isolated.conf.set(Isolation, "true")
    val (_, second) = compilesPerDrain(isolated)
    assert(second > 0)
  }

  test("Tables.table changes no session conf, and events loads in a new session") {
    withTempDir("graft_tables_conf") { dir =>
      val sf = dir.toString
      spark.range(5).selectExpr("id AS event_id", "timestamp_seconds(id) AS ts")
        .write.parquet(s"$sf/events.parquet")
      val before = spark.conf.getAll
      Tables.table(spark, sf, "events").count()
      Tables.events(spark, sf).count()
      val after = spark.conf.getAll
      assert(after.toSet -- before.toSet === Set.empty)
      assert(after.keySet === before.keySet)
      val fresh = spark.newSession()
      assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
      val events = Tables.events(fresh, sf)
      assert(events.schema("ts").dataType === LongType)
      assert(events.orderBy("event_id").collect().map(_.getLong(1)).toSeq ===
        (0L until 5L).map(_ * 1000000000L))
    }
  }
}
