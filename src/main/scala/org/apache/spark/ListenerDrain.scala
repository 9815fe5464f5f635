package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the query runner and the specs that count listener events wait for
  * every queued event before they read their counters. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
