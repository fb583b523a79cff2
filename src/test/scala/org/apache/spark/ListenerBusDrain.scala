package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * spec's listener holds all the events of the work it just ran. Lives
  * in this package because `SparkContext.listenerBus` is
  * package-private. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
