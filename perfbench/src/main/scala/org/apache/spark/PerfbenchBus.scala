package org.apache.spark

/** Access to the session's listener bus, which Spark keeps package-private:
  * the traced run drains it before reading listener counters instead of
  * sleeping a fixed time and hoping the events have been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
