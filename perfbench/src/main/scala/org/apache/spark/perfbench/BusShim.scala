package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run drains it after
  * every operation so that each job, stage and task event is counted
  * against the operation that caused it.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
