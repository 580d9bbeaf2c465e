package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until Spark's listener bus has delivered every posted event, so
  * spans recorded by listeners are complete before they are read. */
object BusAccess {
  def flush(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
