package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark waits for every queued event of an op before it reads
  * that op's counters. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
