package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the traced run needs it so
  * that every job and stage event has reached its listener before the
  * run reads the attributed totals.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
