package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far;
  * the bus is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
