package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter — dev loop for
    // validating one new entry without the full 200+-query dump (the
    // driver gate always runs the unfiltered form)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) =>
        // same comma-separated convention (and trimming) as Bench's
        // SPARK_GRAFT_TOUCHED; a typo'd name must fail LOUDLY here —
        // silently dumping nothing would let a dev validate an empty run
        val names = Bench.touchedFromEnv(Some(c))
        // an empty filter ('' or ',') would pass the unknown-name check
        // vacuously and produce a green-looking EMPTY run
        require(names.nonEmpty, s"empty query-name filter: '$c'")
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
        (a, b, Some(names))
      case other =>
        sys.error(s"usage: Verify <sfDir> <outDir> [name,name,...] — got ${other.length} args")
    }
    val spark = GraftSession.harness()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // run queries on a small pool — Spark's scheduler interleaves the jobs,
    // hiding per-query planning latency (outputs are independent dirs);
    // pool scales with the executor thread count
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(4, math.min(12, spark.sparkContext.defaultParallelism / 4)))
    // A failed dump must be LOUD: the driver's gate counts only the output
    // dirs that exist, so a query that throws here silently shrinks the
    // denominator (round 6 lost all five §2.8 window queries this way and
    // the correctness report still read fully green). Record per-query
    // status and surface it in _run_status.json for tools/check.py.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val tasks = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            errors.put(name, String.valueOf(e.getMessage))
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    import scala.jdk.CollectionConverters._
    val status = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
      .map { name =>
      val st = Option(errors.get(name)).map(m => s""""err": ${q(m)}""")
        .getOrElse(""""ok": true""")
      s"${q(name)}: {$st}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_run_status.json"), status)
    // exit 0 even on per-query failures — the driver's gate still scores
    // every dump that DID land; _run_status.json is how failures surface
    if (!errors.isEmpty)
      System.err.println(
        s"[verify] ${errors.size} FAILED: ${errors.keySet.asScala.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
