package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the traced run drains the
  * bus after each operation so its job, stage and query events are complete
  * before they are read. The bus is Spark-private, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
