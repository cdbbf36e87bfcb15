package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * tracer has seen each job and stage of a pass before it is read.
  * Lives in Spark's package because the listener bus is package-private. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
