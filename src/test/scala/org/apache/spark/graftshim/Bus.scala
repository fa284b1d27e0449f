package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: a listener's counts
  * are complete only once every event posted before the call is
  * delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
