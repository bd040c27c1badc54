package graft

import graft.sources.IO
import org.apache.spark.sql.types._
import java.nio.file.Files

class IOSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("round-trip through parquet, csv, json preserves rows") {
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "name")
    val base = tempDir("graft_io").toString
    for (fmt <- Seq("parquet", "csv", "json")) {
      IO.write(df, fmt, s"$base/$fmt")
      val back = fmt match {
        case "parquet" => IO.readParquet(spark, s"$base/parquet")
        case "csv" => IO.readCsv(spark, s"$base/csv", schema, header = false)
        case "json" => IO.readJson(spark, s"$base/json", schema)
      }
      assert(back.as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")), s"format $fmt")
    }
  }

  test("partitionBy produces prunable directory layout") {
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "part")
    val base = tempDir("graft_iop").toString
    IO.write(df, "parquet", s"$base/t", partitionBy = Seq("part"))
    assert(new java.io.File(s"$base/t/part=x").exists())
    // partition filter prunes to one directory
    val pruned = IO.readParquet(spark, s"$base/t").filter($"part" === "x")
    assert(pruned.count() == 1)
  }

  test("streaming file source feeds the same word-count operators") {
    val dir = tempDir("graft_stream").toString
    val sc = StructType(Seq(StructField("value", StringType)))
    Files.writeString(java.nio.file.Path.of(s"$dir/batch1.json"),
      """{"value":"a b a"}""" + "\n" + """{"value":"b"}""")
    val counts = graft.streaming.StreamingOps.wordCountSpace(
      IO.streamJson(spark, dir, sc))
    val q = counts.writeStream.format("memory").queryName("file_wc")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val m = spark.table("file_wc").as[(String, Long)].collect().toMap
      assert(m == Map("a" -> 2L, "b" -> 2L))
    } finally q.stop()
  }
}
