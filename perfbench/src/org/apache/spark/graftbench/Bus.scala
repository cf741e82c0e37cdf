package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so that per-pass job,
  * stage and task counts are exact rather than "give or take a stage". */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
