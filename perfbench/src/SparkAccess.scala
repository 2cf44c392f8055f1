package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * traced run can read its listeners only after every event arrived.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
