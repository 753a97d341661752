package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Listener-bus drain for [[graft.Profile]]: `SparkContext.listenerBus`
  * and its `waitUntilEmpty` are `private[spark]`, so this one-method shim
  * lives in the spark namespace. Profile calls it before reading any
  * listener's figures, so every stage/job/plan event of the profiled body
  * has been delivered. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
