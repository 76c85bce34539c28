package org.apache.spark

/** Waits until every queued listener event is delivered, so a traced run
  * reads complete job and task totals. `listenerBus` is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
