package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus, so a test can wait until
  * every event posted so far (job starts included) reached its listeners. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
