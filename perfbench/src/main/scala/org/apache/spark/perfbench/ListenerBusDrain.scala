package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Exact listener-bus quiesce for the benchmark's counters: blocks
  * until every queued event has been delivered to every listener, so
  * a pass's job/stage/task/batch counts are final when read. The bus
  * is `private[spark]`, hence this shim's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
