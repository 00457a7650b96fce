package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. `LiveListenerBus.waitUntilEmpty` is `private[spark]`, so
  * this one-line bridge lives in Spark's package. The benchmark calls it
  * before it reads or resets its listener counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
