package org.apache.spark

/** Blocks until every listener queue has delivered its events, so counters
  * read afterwards include all jobs that have already finished. The bus is
  * package-private to Spark, hence this one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
