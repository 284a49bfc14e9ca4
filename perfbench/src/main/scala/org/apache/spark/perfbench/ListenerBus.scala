package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps `private[spark]`.
  * A traced span waits for every event its jobs posted before it closes,
  * so listener callbacks always land on the span that caused them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
