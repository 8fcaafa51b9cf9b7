package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The traced run
  * drains the bus after every query phase so that each job, stage,
  * task and plan event is attributed before the next phase starts;
  * `waitUntilEmpty` is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
