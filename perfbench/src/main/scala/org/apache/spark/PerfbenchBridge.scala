package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads listener-collected counters only after every
  * posted event has been delivered. */
object PerfbenchBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
