package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`. Its events arrive
  * asynchronously after an action returns, so a test reads a job count
  * only after draining it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
