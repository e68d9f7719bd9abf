package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it so a traced run reads its listener totals only after every event of
  * the run has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
