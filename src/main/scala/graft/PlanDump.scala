package graft

/** Plan-artifact dumper (diagnostic sibling of [[BenchOne]]): writes
  * `explain("formatted")` for named [[SparkEntry.queries]] keys to
  * `<outDir>/<key>.txt` under the exact Bench session config — the
  * before/after plan evidence an optimization round commits alongside its
  * bench numbers (`plans/r15/`). Formatted mode shows Exchange placement,
  * join strategy + build side, PushedFilters and ReadSchema.
  *
  * usage: PlanDump <sfDir> <outDir> key1,key2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> key1,key2,...")
    val Array(sfDir, outDir) = args.take(2)
    val keys = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.harness()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      val fn = SparkEntry.queries.getOrElse(k,
        throw new IllegalArgumentException(s"unknown query '$k'"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$k.txt"), txt)
      println(s"[plandump] $k -> $outDir/$k.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
