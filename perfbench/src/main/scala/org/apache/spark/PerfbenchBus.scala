package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark. The traced run waits
  * on it so every job, stage and task event of a measured section has
  * been delivered before the section's counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
