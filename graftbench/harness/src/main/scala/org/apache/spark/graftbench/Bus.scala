package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; this package reaches it so
  * the tracer can attribute every event of an operation before the next
  * one starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
