package org.apache.spark

/** Waits until every event posted so far has reached its listeners, so a
  * traced op's spans are complete before the next op starts. The wait
  * runs between ops, outside their timed interval. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
