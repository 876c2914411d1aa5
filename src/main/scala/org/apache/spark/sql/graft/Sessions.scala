package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Session cloning and frame re-binding, `private[sql]` in Spark. */
object Sessions {
  /** A clone of `spark` on its SparkContext, with a copy of its runtime
    * conf, temp views, UDFs and QueryExecutionListeners. */
  def cloneOf(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `spark`, planned with its conf. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
