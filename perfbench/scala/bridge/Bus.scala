package org.apache.spark.perfbench

import java.util.Properties

import org.apache.spark.sql.SparkSession

/** Two `private[spark]` hooks the traced run needs; they live under
  * `org.apache.spark` for that reason. */
object Bus {
  /** Waits until every listener event posted so far has been delivered,
    * so counters read right after an action are complete. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The calling thread's own local-properties object (not a copy): a
    * change to it is seen by jobs this thread submits later, but not by
    * threads it already created, which hold clones. */
  def localProperties(spark: SparkSession): Properties = spark.sparkContext.getLocalProperties
}
