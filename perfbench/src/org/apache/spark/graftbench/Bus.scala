package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain. Listener events are delivered asynchronously;
  * reading a per-op counter before the bus has delivered that op's
  * events would attribute them to the next op. The bus handle is
  * package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
