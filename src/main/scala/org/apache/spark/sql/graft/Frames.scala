package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The engine entry points graft needs that Spark keeps package-private:
  * a DataFrame over a plan built from Catalyst nodes, so a plan that the
  * claim rules splice into a query and the DataFrame API answer come from
  * one construction; and a frame's analyzed plan, so a claim rule can join
  * a read (a parquet relation) without optimizing it. */
object Frames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan
}
