package org.apache.spark

/**
 * Same-package accessor for the SparkContext's listener bus, which Spark
 * keeps `private[spark]`. Listener events are delivered asynchronously; a tool
 * that reads counters its listeners keep must first wait until every
 * event posted so far has been delivered.
 */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
