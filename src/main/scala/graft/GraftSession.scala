package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory for the engine — the confs a 100 TB
  * deployment wants on, in one place: [[builder]] is the library entry
  * point for cluster use, [[local]] its development variant. The harness
  * mains (Bench, Verify, Plans) run on [[local]] too, through [[harness]].
  */
object GraftSession {

  /** Recommended engine configuration (all standard Spark confs):
    *  - AQE + skew-join splitting: pathological SURT hosts (com,google)*)
    *    get split at runtime during the range exchange.
    *  - coalescePartitions: post-shuffle tasks sized by data, not by a
    *    static partition count.
    *  - session timezone pinned UTC: 14-digit CDX timestamps are UTC by
    *    format definition.
    *  - maxPartitionBytes 256m: fewer, fuller scan tasks over columnar
    *    inputs at large scale.
    *  - graft extensions registered: surt_key_native / base32 available
    *    in SQL.
    */
  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // transformWithState (stream_frontier) requires the RocksDB state
      // store provider even batch-run; inert for every other query
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // selective dim filters propagate to fact-side scans as injected
      // bloom filters BEFORE the shuffle (InjectRuntimeFilter) — at 100 TB
      // this is the difference between shuffling the filtered fact side
      // and shuffling all of it (PlanSpec pins the injection)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** local development variant (n threads, quiet UI) */
  def local(threads: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder("graft-local")
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The harness mains' session: [[local]] with `$SPARK_GRAFT_CPUS`
    * (default 4) threads. Each main sets its own log level. */
  private[graft] def harness(): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
}
