package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a spec that counts listener events waits for every
  * queued event before it reads its counters. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
