package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners on an asynchronous bus; the benchmark
  * drains it before it reads what its listeners collected. The bus is
  * package-private to Spark, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
