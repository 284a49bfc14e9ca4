package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus. */
object ListenerBus {

  /** Blocks until every event posted so far has been delivered, so
    * listener-fed state such as `getRDDStorageInfo` is current. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
