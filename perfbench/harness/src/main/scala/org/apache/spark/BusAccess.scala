package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  *
  * The bus is `private[spark]`, hence this file's package. The traced run
  * drains the bus after each query, so that the query's events have reached
  * the tracer before it reads them; attribution itself is by job tag. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
