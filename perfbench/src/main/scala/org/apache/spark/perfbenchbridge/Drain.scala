package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs of an operation before its
  * per-layer numbers are read (the bus is asynchronous and `waitUntilEmpty`
  * is `private[spark]`).
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
