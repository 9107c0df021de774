package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted
  * so far. The bus is private to Spark; this accessor lives in Spark's
  * package so the benchmark can read complete job and task counts
  * right after an action returns. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
