package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every event of an op before it reads the
  * op's counters or detaches its listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
