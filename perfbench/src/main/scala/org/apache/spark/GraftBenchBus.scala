package org.apache.spark

/** The listener bus drain is `private[spark]`; the harness needs it so
  * that the per-layer counters it reads after a phase include every event
  * that phase posted. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
