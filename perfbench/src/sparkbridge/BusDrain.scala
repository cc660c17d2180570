package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener has seen all tasks of the jobs that have ended.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
