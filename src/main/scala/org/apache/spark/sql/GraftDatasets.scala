package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** DataFrames built straight from Catalyst values, through the
  * `private[sql]` members of `classic`, reachable only from inside this
  * package. `graft.CdxServer` returns a driver-local lookup's result rows
  * as a `LocalRelation`; the WARC pointer replay
  * (`graft.formats.Warc.replay`) returns the scan's own `InternalRow`s. */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** [[ofRows]] over a plan that is already resolved, such as a
    * `LocalRelation` of evaluated rows: the analyzer passes it through */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** `body` with `spark` as the thread's active session, so that the
    * expressions it evaluates read that session's conf */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)

  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
