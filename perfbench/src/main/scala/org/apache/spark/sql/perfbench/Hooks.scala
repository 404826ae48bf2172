package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two engine entry points the traced run needs that Spark keeps
  * package-private: analysing a parsed plan into a Dataset (so parsing and
  * analysis can be timed as separate calls) and draining the listener bus
  * (so every job event has arrived before spans are written). */
object Hooks {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def drainListeners(spark: SparkSession, timeoutMs: Long = 10000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
