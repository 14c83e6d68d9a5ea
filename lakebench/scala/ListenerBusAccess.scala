package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run drains it after
  * each operation so every span lands on the operation that caused it. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
