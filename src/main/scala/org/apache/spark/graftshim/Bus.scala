package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus. Events reach listeners
  * asynchronously: a listener's counts are complete only once every event
  * posted before [[drain]] returns has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
