package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the ledger needs: wait until every posted
  * listener event has been delivered, so a job's metrics are complete
  * before they are read.
  */
object SparkInternals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
