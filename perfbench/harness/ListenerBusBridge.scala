package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-query accounting is complete before the next query
  * starts. `SparkContext.listenerBus` is package-private to Spark. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
