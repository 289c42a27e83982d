package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a traced run can attribute listener counters to the span that caused
  * them, and queued events are not counted as retained heap. Spark offers
  * no public hook for this; it lives in Spark's package for access to the
  * bus. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
