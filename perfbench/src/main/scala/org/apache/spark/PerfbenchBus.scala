package org.apache.spark

/** Lives in Spark's package for one reason: the live listener bus is
  * package-private, and a listener's counters are only complete once
  * every event posted so far has been delivered. The harness drains
  * the bus before it reads any counter.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
