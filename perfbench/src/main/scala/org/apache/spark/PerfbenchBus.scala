package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's listener holds all job and stage events of the op that
  * just finished before they are attributed to it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
