package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark needs: wait until the listener
  * bus has delivered every queued event, so span metrics are complete
  * before they are summarized. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
