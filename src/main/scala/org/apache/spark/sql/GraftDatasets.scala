package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Builds a DataFrame straight from a logical plan — the `private[sql]`
  * `classic.Dataset.ofRows`, reachable only from inside this package.
  * `graft.CdxServer` uses it to put a driver-read block selection under a
  * lookup as a `LocalRelation`. */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
