package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains it
  * before it reads the counters of an operation that has just ended. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
