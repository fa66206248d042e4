package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`: this re-exports its drain so a
  * spec can read complete job counts from its own listener.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
