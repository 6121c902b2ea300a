package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a ledger snapshot taken right after an action must see every event
  * that action posted. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
