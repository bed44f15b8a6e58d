package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge — the one graft class outside the
  * graft package. `ofRows` builds a DataFrame from a LogicalPlan (the
  * standard library technique for custom plans, used by `graft.plans`,
  * and for re-homing a plan onto another session); `cloneSession` gives
  * the streaming drains a child session whose conf they can set without
  * touching the caller's. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
