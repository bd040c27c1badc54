package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.LongType

/** Parquet table loaders for the driver-generated test data (TESTDATA.md).
  *
  * Schema-on-read from parquet footers: at 100 TB these would be catalog
  * tables with partition pruning; locally the parquet footer is the catalog.
  * Loaders select no columns — column pruning is left to Catalyst so each
  * query's scan reads only what it projects (verify via `PushedFilters` /
  * `ReadSchema` in explain output).
  */
object Tables {

  /** Explicit per-table load spec. The partition key is named, never
    * taken from the leading column: a table whose first column is
    * low-cardinality would silently collapse downstream parallelism.
    *  - `key`: the table's (near-)unique key, the hash-partition
    *    column of [[parallelize]];
    *  - `alwaysParallel`: the table feeds HEAVY per-row operators
    *    (tokenize/shingle/minhash over documents, 64-dim vector math
    *    over embeddings) where cluster-wide parallelism pays for
    *    itself at ANY byte size — exempt from the size gate below.
    */
  final case class LoadSpec(key: String, alwaysParallel: Boolean = false)
  val loadSpecs: Map[String, LoadSpec] = Map(
    "region"     -> LoadSpec("r_regionkey"),
    "nation"     -> LoadSpec("n_nationkey"),
    "customer"   -> LoadSpec("c_custkey"),
    "supplier"   -> LoadSpec("s_suppkey"),
    "part"       -> LoadSpec("p_partkey"),
    "orders"     -> LoadSpec("o_orderkey"),
    "lineitem"   -> LoadSpec("l_orderkey"),
    "events"     -> LoadSpec("event_id"),
    "documents"  -> LoadSpec("doc_id", alwaysParallel = true),
    "embeddings" -> LoadSpec("vec_id", alwaysParallel = true))

  /** Load one table; changes no session conf. A TIMESTAMP(NANOS) column
    * reads as a raw-nanos Long under graft's session default
    * `spark.sql.legacy.parquet.nanosAsLong` ([[graft.GraftSession.defaults]]). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parallelize(spark.read.parquet(s"$sfDir/$name.parquet"),
      loadSpecs.get(name), parallelizeMinBytes)

  /** The loaders' byte floor under which the load repartition is
    * SKIPPED ([[parallelize]]'s `minBytes`). The floor is in
    * PLANNER-ESTIMATED bytes, not raw file length: [[parallelize]]
    * compares it with the analyzed plan's `sizeInBytes`, which for a
    * parquet relation is the files' length scaled by
    * `spark.sql.sources.fileCompressionFactor` (1.0 by default), so a
    * deployment that changes that factor moves the gate too. A KB-scale
    * dimension table (region/nation/supplier/part/customer locally)
    * gains nothing from 32-way stages — the forced exchange just
    * charges every consumer ~defaultParallelism near-empty tasks per
    * stage, which at bench scale is pure scheduling overhead (181/227
    * queries measured FASTER at 8 cores than 32 in a full-registry
    * scaling run). Parameterised for other deployments; at 100 TB the
    * whole gate is moot — every table's scan already yields more splits than
    * defaultParallelism, so [[parallelize]] is a no-op there with or
    * without this floor. Read from `SPARK_GRAFT_PARALLELIZE_MIN_BYTES`
    * once, on first use. */
  lazy val parallelizeMinBytes: Long =
    parseMinBytes(sys.env.get("SPARK_GRAFT_PARALLELIZE_MIN_BYTES"))

  /** The byte floor from the raw setting: 512 KiB when unset, else a
    * non-negative byte count; anything else fails naming the variable. */
  def parseMinBytes(raw: Option[String]): Long = raw match {
    case None => 512L * 1024
    case Some(v) => v.trim.toLongOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_PARALLELIZE_MIN_BYTES must be a non-negative byte count, got '$v'"))
  }

  /** The test tables are single small parquet files → single-partition
    * scans → every downstream hash/JSON/HOF stage runs on ONE core (a
    * single-row-group file can't be split by maxPartitionBytes).
    * Repartition to cluster parallelism, gated so it is a NO-OP at
    * real scale where the scan already yields >= defaultParallelism
    * splits — and gated by INPUT BYTES, not partition count alone: a
    * table under `minBytes` planner-estimated bytes (the loaders pass
    * [[parallelizeMinBytes]]) stays as scanned unless its spec is
    * `alwaysParallel`. Filters/pruning still push through Repartition.
    *
    * HASH on the spec'd key column, not round-robin: every keyless
    * repartition(n) pays a local sort of its whole input first
    * (spark.sql.execution.sortBeforeRepartition, on by default since
    * SPARK-23207, so retried tasks reproduce the same row→partition
    * assignment — guide §2.5) — a per-load tax on every one of the
    * ~226 registered queries. Each spec'd key is its table's
    * (near-)unique key (doc_id / o_orderkey / l_orderkey / event_id /
    * vec_id / *_key), so hash partitioning spreads as evenly as
    * round-robin, needs no sort, is deterministic under
    * retry/speculation BY VALUE (not just by assignment), and
    * advertises a HashPartitioning downstream operators keyed on the
    * same column can reuse. Every registered operator is partitioning-
    * invariant by the repo-wide content-addressed determinism
    * discipline, so results are unchanged (oracle gate re-run green).
    */
  def parallelize(df: DataFrame, spec: Option[LoadSpec], minBytes: Long): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) return df
    // planner-sized input bytes (what broadcast decisions use): for a
    // bare parquet relation this is the file length — a driver-side
    // metadata read, no scan — times fileCompressionFactor
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    if (!spec.exists(_.alwaysParallel) && bytes < minBytes) df
    else df.repartition(target, col(spec.map(_.key).getOrElse(df.columns.head)))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` canonical representation is a LONG of epoch NANOS — all
    * event-time operators derive micros via `ts div 1000`. Generator output
    * has varied between parquet TIMESTAMP(NANOS) (read as raw-nanos Long
    * under nanosAsLong) and TIMESTAMP(MICROS) (read as timestamp_ntz), so
    * normalize on the schema actually read. The NTZ→timestamp cast is exact
    * under the engine-wide UTC session timezone, matching DuckDB's
    * `epoch_us` on the same naive timestamp.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ => df.withColumn(
        "ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
