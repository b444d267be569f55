package org.apache.spark.perfbench

/** Waits until the listener bus has delivered every posted event, so
  * the trace listener has seen all jobs and tasks before it is read.
  * Lives in Spark's package because the bus is Spark-private.
  */
object BusDrain {
  def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
