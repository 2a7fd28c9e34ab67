package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run reads complete job and task totals after each operation.
  * Lives in Spark's package because the listener bus is private to it.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
