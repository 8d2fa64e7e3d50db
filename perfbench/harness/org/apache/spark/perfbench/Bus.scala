package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the harness needs
  * it so that a job's task-end events have all arrived before its totals
  * are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
