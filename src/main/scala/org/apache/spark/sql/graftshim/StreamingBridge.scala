package org.apache.spark.sql.graftshim

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery

/** Interop shim (see [[ColumnBridge]] for the pattern): the analyzed
  * logical plan of a running StreamingQuery lives on `private[sql]`
  * StreamExecution, which the topology auto-registration listener needs
  * to extract the DAG at query start — the Spark analogue of the
  * reference registering its Kafka Streams topology when the app wires
  * up (`client.register`, kstreams/App.java:64-65).
  */
object StreamingBridge {
  def logicalPlan(q: StreamingQuery): Option[LogicalPlan] = q match {
    case w: StreamingQueryWrapper => Some(w.streamingQuery.logicalPlan)
    case s: StreamExecution => Some(s.logicalPlan)
    case _ => None
  }

  /** The running SparkContext, if any, without creating one
    * (`SparkContext.getActive` is private[spark]). Session extensions run
    * after the context starts and before the session exists, so this is
    * how they reach it. */
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** The running SparkContext's own conf, if any, to set defaults on
    * (`SparkContext.conf` is private[spark]; `getConf` returns a copy).
    * The first session built on a context snapshots this conf into its
    * `SharedState`, after the session extensions have run. */
  def activeConf: Option[SparkConf] = activeContext.map(_.conf)
}
