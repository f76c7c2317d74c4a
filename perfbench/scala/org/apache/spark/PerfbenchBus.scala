package org.apache.spark

/** Lets the benchmark's listener read a complete event record: blocks
  * until every event posted so far has reached the listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
