package org.apache.spark

/** Waits until every posted listener event has been delivered, so that
  * counters read after a step boundary hold all of that step's events.
  * Lives in this package because `SparkContext.listenerBus` is
  * package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
