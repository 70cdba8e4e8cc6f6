package org.apache.spark

/** The listener bus drain is private to Spark; counters read before
  * it drains would miss the last events of a pass. */
object graftbenchbus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
