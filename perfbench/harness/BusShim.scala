package org.apache.spark.perfbenchshim

/** The listener bus is private[spark]; the harness drains it so every
  * job/stage/task event of a timed region is delivered before the region's
  * numbers are read. */
object BusShim {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
