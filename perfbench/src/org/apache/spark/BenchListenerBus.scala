package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted so
  * far has been delivered, so span totals are complete when read. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
