package graft

/** Single-query bench harness (diagnostic sibling of [[Bench]]): runs one
  * named [[SparkEntry.queries]] entry N times under the exact Bench session
  * config and prints per-rep wall times. Exists so a bench outlier can be
  * reproduced and profiled in isolation instead of re-running the full
  * 120-query sweep (round-3 verdict: zipnum_v2_pushdown 12.5× inflation at
  * the driver, unreproducible from the aggregate run alone).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query '$name'"))
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[benchone] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s, $n rows")
    }
    spark.stop()
  }
}
