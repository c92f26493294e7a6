package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The benchmark's one doorway into `private[spark]`: block until every
  * listener event posted so far has been delivered, so a traced span's
  * job, stage, task and query events are all in before it is summed.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
