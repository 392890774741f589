package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so task
  * metrics read after a pass are complete. The bus is internal to Spark,
  * hence this one helper in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
