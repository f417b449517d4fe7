package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * `listenerBus` is `private[spark]`; this object only lends it a name
  * the benchmark can call. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
