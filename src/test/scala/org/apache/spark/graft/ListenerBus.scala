package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the SparkContext's `private[spark]` listener bus. */
object ListenerBus {

  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
