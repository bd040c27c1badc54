package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Interop shim: Column <-> Catalyst Expression conversion is
  * `private[sql]` in Spark 4.x (ExpressionUtils), so the bridge lives in
  * an org.apache.spark.sql subpackage. This object and
  * [[StreamingBridge]] are the only places the project reaches into
  * Spark-private API: to build and register the native expressions in
  * graft.functions, to wrap already-computed Catalyst rows as a
  * DataFrame (the payments fan-out's batch pin), to drain the
  * listener bus, to count cached plans, and to find the active
  * SparkContext.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame whose only leaf scans `rows`, a row per `schema`
    * (`internalCreateDataFrame` is private[sql]). The rows must not be
    * reused buffers: copy them first when they come from
    * `queryExecution.toRdd`. */
  def rowsFrame(spark: org.apache.spark.sql.SparkSession, rows: RDD[InternalRow],
                schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Session-local function registration (sessionState is private[sql]). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Block until the async listener bus has delivered every queued event
    * (`listenerBus` is private[spark]) — the deterministic drain
    * `graft.QueryRun` needs before it reads its counters; a fixed sleep can
    * under-wait on a loaded host and bleed one query's stage metrics into
    * the next.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The `CacheManager` entries of `spark`'s shared state
    * (`numCachedEntries` is private[sql]). */
  def cachedPlans(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
