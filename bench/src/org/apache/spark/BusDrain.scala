package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the traced run reads its counters
  * only after a drain, so a layer call's jobs are never attributed late.
  * Lives in this package because `SparkContext.listenerBus` is
  * package-private. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
