package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads listener counters only after every posted event
  * has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
