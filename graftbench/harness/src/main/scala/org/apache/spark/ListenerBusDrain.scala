package org.apache.spark

/** Waits until every listener has handled every event posted so far.
  * Spark keeps the listener bus package-private; the tracer needs the
  * drain so that removing its listeners after a traced pass loses none
  * of that pass's events.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
