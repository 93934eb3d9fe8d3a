package org.apache.spark

/** Waits until every listener has handled every event posted so far.
  * Spark keeps the listener bus package-private; job-counting specs need
  * the drain so that a count read after an action includes all of its
  * jobs.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
