package org.apache.spark

/** The listener bus's drain call is `private[spark]`; the benchmark's
  * tracer needs it to read stage metrics only after they arrived.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
