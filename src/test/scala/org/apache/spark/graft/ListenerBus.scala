package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; plan gates reach it here so
  * a QueryExecutionListener has seen every job of a build before the
  * listener is removed. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
