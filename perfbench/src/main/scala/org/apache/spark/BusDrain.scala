package org.apache.spark

/** Waits until every listener has seen every event posted so far. Spark
  * keeps the listener bus package-private; the benchmark drains it between
  * queries so each query's listener events are attributed to that query. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
