package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Accessor for the `private[spark]` listener bus. Task-end events are
  * delivered to registered listeners asynchronously, so reading a
  * metrics listener right after an action races the queue; proof
  * tooling ([[graft.ScaleProof]], [[graft.Profile]]) drains the bus
  * first and then reads a complete picture. The wait is bounded: a
  * listener stuck for [[DrainTimeoutMs]] fails the tool with the bus's
  * `TimeoutException` instead of blocking it forever. */
object ListenerDrain {
  val DrainTimeoutMs = 30000L
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(DrainTimeoutMs)
}
