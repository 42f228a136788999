package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: before the benchmark reads what its
  * listener recorded, every posted event must have been delivered.
  * `listenerBus` is `private[spark]`, hence this shim in the spark package. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
