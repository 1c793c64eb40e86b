package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** SparkContext.listenerBus is private[spark]; the traced run needs a
  * flush point after each query so that every listener event the query
  * caused has been delivered before its counters are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
