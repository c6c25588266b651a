package graft

import graft.sources.FoldLocalRelation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** FoldLocalRelation folds a whole Sort/Project/Filter/Limit/coalesce(1)
  * plan over one LocalRelation into the rows Spark itself would return,
  * and leaves every other plan exactly as it was. */
class FoldLocalRelationSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", StringType), StructField("seq", IntegerType)))

  private def toRows(kv: Seq[(Integer, String)]): Seq[Row] =
    kv.zipWithIndex.map { case ((k, v), i) => Row(k, v, i) }

  // `seq` records the input order. Spark's one-partition sort keeps the
  // input order of equal keys, except that its radix sort moves a
  // non-null row each time it places a null key up front: so one table
  // has duplicate keys and no nulls, the other nulls and distinct keys
  private val dupKeys = Seq[(Integer, String)]((3, "c"), (1, "a"), (3, "a"), (2, "b"),
    (1, "z"), (3, "b"), (7, "q"), (2, "a"), (1, "a"), (5, "e"))
  private val nullKeys = Seq[(Integer, String)]((null, "n"), (4, "d"), (null, "m"), (1, "a"),
    (6, "b"), (null, "n"), (2, "z"))
  private val dups = toRows(dupKeys)
  private val nulls = toRows(nullKeys)

  /** the leaf CdxServer builds: a local relation under coalesce(1) */
  private def leaf(s: SparkSession, rows: Seq[Row] = toRows(dupKeys ++ nullKeys)): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)

  private def shuffles(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
  }

  private val folding = Seq[(String, DataFrame => DataFrame)](
    "asc" -> (_.orderBy(col("k"))),
    "desc" -> (_.orderBy(col("k").desc)),
    "asc_nulls_last" -> (_.orderBy(col("k").asc_nulls_last)),
    "desc_nulls_first, v" -> (_.orderBy(col("k").desc_nulls_first, col("v"))),
    "filter, project, sort, limit" -> (_.filter(col("v") =!= "z")
      .withColumn("dist", abs(col("k") - 2))
      .orderBy(col("dist").asc_nulls_last, col("v")).limit(5).drop("dist")),
    "sort over sort" -> (_.orderBy("v").filter(col("k") > 1).orderBy("k")))

  test("a folded plan returns Spark's executed rows from one local scan") {
    val ext = SparkSpec.withExtensions
    for ((name, q) <- folding; rows <- Seq(dups, nulls)) {
      val folded = q(leaf(ext, rows))
      assert(folded.collect().toSeq == q(leaf(spark, rows)).collect().toSeq, name)
      assert(folded.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], name)
    }
  }

  test("rows with equal sort keys keep their input order") {
    val sorted = leaf(SparkSpec.withExtensions).orderBy("k").collect().toSeq
    sorted.groupBy(r => Option(r.get(0))).values.foreach { peers =>
      val seqs = peers.map(_.getInt(2))
      assert(seqs == seqs.sorted, peers)
    }
    assert(sorted.map(r => Option(r.get(0))).take(2) == Seq(None, None))
  }

  private val unfoldable = Seq[(String, DataFrame => DataFrame)](
    "window" -> (_.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("seq")))
      .orderBy("k", "rn")),
    "aggregate" -> (_.groupBy("k").count().orderBy("k")),
    "join" -> (df => df.join(df.select(col("k"), col("v").as("w")), "k").orderBy("k", "v", "w")),
    "rand() sort key" -> (_.orderBy(rand(7))))

  private def optimized(df: DataFrame): LogicalPlan = df.queryExecution.optimizedPlan

  test("a plan with a Window, Aggregate, join or rand() sort key comes back unchanged") {
    unfoldable.foreach { case (name, q) =>
      val plan = optimized(q(leaf(spark)))
      assert(FoldLocalRelation(plan) eq plan, name)
    }
    // under GraftExtensions the coalesce(1) still stands: no range
    // exchange under the sort, the window or the aggregate
    val ext = SparkSpec.withExtensions
    Seq("window", "aggregate", "rand() sort key").foreach { name =>
      val q = unfoldable.toMap.apply(name)
      assert(shuffles(q(leaf(ext))) == 0, name)
    }
    unfoldable.filter(_._1 != "rand() sort key").foreach { case (name, q) =>
      assert(q(leaf(ext)).collect().toSeq == q(leaf(spark)).collect().toSeq, name)
    }
  }

  test("a streaming local relation comes back unchanged") {
    val plan = optimized(leaf(spark).orderBy("k")).transform {
      case r: LocalRelation => r.copy(isStreaming = true)
    }
    assert(FoldLocalRelation(plan) eq plan)
    val batch = optimized(leaf(spark).orderBy("k"))
    assert(FoldLocalRelation(batch).isInstanceOf[LocalRelation])
  }
}
