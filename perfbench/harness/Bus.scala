package org.apache.spark

/** The one private[spark] call the benchmark needs: block until every
  * queued listener event has been delivered, so a traced pass's spans
  * are complete before its listeners are removed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
