package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * trace reads listener totals only after every queued event is handled.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
