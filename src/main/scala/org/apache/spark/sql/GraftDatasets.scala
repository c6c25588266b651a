package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** DataFrames built straight from Catalyst values, through the
  * `private[sql]` members of `classic`, reachable only from inside this
  * package. `graft.CdxServer` puts a driver-read block selection under a
  * lookup as a `LocalRelation`; the WARC pointer replay
  * (`graft.formats.Warc.replay`) returns the scan's own `InternalRow`s. */
object GraftDatasets {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
