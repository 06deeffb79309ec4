package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a listener sees a job's end some
  * time after the action that ran it returned. Reading listener state
  * before the bus is empty would drop the tail of a pass. The bus is
  * `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
