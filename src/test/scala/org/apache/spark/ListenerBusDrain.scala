package org.apache.spark

/** Waits until every listener event posted so far has been delivered
  * (the bus is private to Spark), so a listener's view of the jobs that
  * already ran is complete when read. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
