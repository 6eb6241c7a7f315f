package org.apache.spark

/** Access to Spark internals the benchmark's listener needs. */
object PerfbenchBridge {
  /** Block until every event posted so far reached every listener, so
    * the last spans' jobs and tasks are counted. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
