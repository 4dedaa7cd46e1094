package org.apache.spark

/** The listener bus is package-private; a traced run waits on it so that
  * a job's task events are counted before its spans are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
