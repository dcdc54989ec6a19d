package org.apache.spark

/** The listener bus delivers events asynchronously; a test drains it
  * before it reads what its own listener counted. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
