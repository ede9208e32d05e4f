package org.apache.spark

/** Waits until every queued listener event has been delivered. Spark posts job
  * and task events asynchronously, so a span's counters are read only after the
  * bus has drained. Lives in Spark's package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
