package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so aggregates read after the timed window are complete.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
