package org.apache.spark.martbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so a
  * listener detached right after an op has seen all of that op's job,
  * task and execution events. (The bus's drain is Spark-internal.) */
object ListenerBus {
  val DrainTimeoutMs = 30000L
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(DrainTimeoutMs)
}
