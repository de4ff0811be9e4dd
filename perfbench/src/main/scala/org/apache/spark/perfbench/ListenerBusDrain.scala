package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events (jobs, tasks, SQL executions, streaming progress)
  * reach listeners asynchronously. The benchmark reads its counters only
  * after the bus has delivered every event posted so far, so each pass's
  * counts are complete. `waitUntilEmpty` is `private[spark]`, hence this
  * package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
