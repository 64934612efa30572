package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a traced measurement reads
  * its listener's totals only after the bus has delivered everything posted
  * so far. `waitUntilEmpty` is spark-private, hence this one bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
