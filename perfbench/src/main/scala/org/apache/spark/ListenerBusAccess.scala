package org.apache.spark

/** Waits until every posted listener event has been delivered, so counts
  * read from the benchmark's listeners cover all jobs that have already run.
  * `SparkContext.listenerBus` is private to this package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
