package org.apache.spark

/** Test access to a context's listener bus, which Spark keeps
  * package-private: block until every posted event has been delivered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
