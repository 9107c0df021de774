package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted
  * so far. The bus is private to Spark; this accessor lives in Spark's
  * package so specs can read complete job counts right after an
  * action returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
