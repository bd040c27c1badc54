package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch + streaming file I/O surface (parquet/csv/json/text). The
  * reference is Kafka-only (SURVEY.md §2.7); these are the formats a
  * lakehouse deployment of the same pipelines reads and writes.
  *
  * Scale conventions baked in:
  *  - Readers take an explicit schema where the format can't carry one
  *    (csv/json) — schema inference is a full extra pass over 100 TB.
  *  - Writers partition by a column when given one — partition pruning
  *    is the first lever against full scans.
  *  - The streaming reader is the file-source equivalent of the Kafka
  *    source: same downstream operators run unchanged.
  */
object IO {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header).csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Write in any of the four formats; `partitionBy` enables partition
    * pruning for downstream readers.
    */
  def write(df: DataFrame, format: String, path: String,
            mode: String = "overwrite", partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.format(format).mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** Streaming file source: picks up files appearing under `path` —
    * the no-broker stand-in for a Kafka topic (same record shape, same
    * downstream operators).
    */
  def streamJson(spark: SparkSession, path: String, schema: StructType,
                 maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)
}
