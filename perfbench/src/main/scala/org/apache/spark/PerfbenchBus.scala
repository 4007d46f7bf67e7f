package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, whose drain is
  * `private[spark]`: the benchmark's work counters are exact only once
  * every event posted so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
