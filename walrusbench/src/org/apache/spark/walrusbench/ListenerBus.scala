package org.apache.spark.walrusbench

import org.apache.spark.sql.SparkSession

/** The one private-to-Spark call the benchmark needs: block until queued
  * listener events are delivered, so traced totals are complete before
  * they are reported. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
