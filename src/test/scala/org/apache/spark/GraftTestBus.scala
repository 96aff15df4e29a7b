package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a spec
  * that inspects listener events reads them only after every queued
  * event is handled.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
