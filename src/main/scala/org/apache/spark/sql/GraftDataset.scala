package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Accessors for Spark's package-private API: the Dataset factory, so
  * graft can wrap its custom logical plans (e.g. BroadcastAsofJoin) as
  * DataFrames, and the SparkContext's block release. Same pattern
  * public Spark-extension libraries use. */
object GraftDataset {
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** drop `rdd`'s blocks and its persistent-RDD entry, as
    * `RDD.unpersist` does, without that method's WARN for a locally
    * checkpointed RDD (whose caller knows the blocks are its only
    * copy). */
  def unpersistRDD(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
