package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far. Listener delivery is asynchronous, so a counter read right after a
  * call returns can miss that call's last task-end and block-update events
  * and charge them to the next call. The bus's own drain is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
