package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.{CdxServer, GraftSession, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The flagship benchmark: WARC bytes -> ZipNum cluster through
  * `Pipeline.warcToZipNum`, then pywb-style lookups through `CdxServer`
  * from one client in a closed loop (the next request is sent when the
  * previous one has returned). Every output is checked by [[Oracle]].
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             [--trace-out FILE]
  * Prints a report line, then the result object as the last stdout line.
  * Exit code 1 when any check fails. */
object Main extends AdaptiveSparkPlanHelper {

  /** `serve`: the cluster is built during set-up and the measured window
    * holds only lookups; otherwise the window is mostly builds. */
  final case class Workload(corpus: CorpusSpec, serve: Boolean)

  // Every workload builds and looks up, so every end-to-end metric is
  // measured on each; they differ in which layer carries the cost.
  val workloads: Map[String, Workload] = Map(
    // files >> cores, ~1 KB payloads, uniform hosts: per-record work
    // (parse, SURT keying, CDX packing, the range exchange) dominates
    "build-many-small" -> Workload(CorpusSpec(
      files = 64, bytesPerFile = 500000L, hosts = 2000, hostZipf = 0.0,
      pathsPerHost = 64, meanPayload = 1024, revisitShare = 0.10), serve = false),
    // the served cluster is built in set-up with the program's defaults
    // from files < cores, ~4 KB payloads, Zipf(1.2) hosts and 30% revisits
    // (decode-heavy, scan parallelism capped by the file count, hot-host
    // skew in the exchange); the window is lookups only
    "lookup-mix" -> Workload(CorpusSpec(
      files = 2, bytesPerFile = 16000000L, hosts = 2000, hostZipf = 1.2,
      pathsPerHost = 64, meanPayload = 4096, revisitShare = 0.30), serve = true))

  val SetupReps = 4
  /** share of the window given to builds on the build workloads */
  val BuildShare = 0.6
  val MinBuilds = 3
  /** lookup-mix: at least 10 samples beyond its p95 */
  val MinServedLookups = 200
  val MinLookups = 60
  val Warmup = 20
  /** loops stop early past this many seconds of process time, whatever
    * their budget, so a pathologically slow program still finishes */
  val HardStopS = 130.0

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, traceOut: Option[File])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w; one of ${workloads.keys.mkString(", ")}")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), m.get("trace-out").map(new File(_)))
  }

  def main(args: Array[String]): Unit = {
    val ok =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); false }
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally status.close()
  }

  private def deleteTree(f: File): Unit = if (f.exists()) {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def query(server: CdxServer, op: Lookup): DataFrame = op.kind match {
    case Lookup.Exact | Lookup.Miss => server.exactUrl(op.arg)
    case Lookup.Host => server.host(op.arg)
    case Lookup.Closest => server.closest(op.arg, op.target, Lookup.ClosestK)
  }

  /** (blocksRead, compressedBytesRead, lines scanned) summed over the
    * executed plan's ZipNum scans */
  private def scanMetrics(df: DataFrame): (Long, Long, Long) = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    def sum(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    (sum("blocksRead"), sum("compressedBytesRead"), sum("numOutputRows"))
  }

  /** `cold`: the process's first build, which pays JIT and codegen */
  final case class BuildRec(start: Double, end: Double, wallS: Double, traced: Boolean, cold: Boolean)
  final case class LookupRec(
      kind: String, start: Double, end: Double, wallMs: Double, rows: Int, traced: Boolean,
      blocks: Long = 0, bytes: Long = 0, examined: Long = 0)

  def run(o: Opts): Boolean = {
    val w = workloads(o.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val runId = s"${o.workload}-seed${o.seed}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(runId, enabled = o.trace)
    val mismatches = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    Files.createDirectories(o.work.toPath)

    // ---- inputs (the benchmark's own work, outside every timing) ----
    val tGen = System.nanoTime()
    val corpus = CorpusGen.generate(o.seed, w.corpus, new File(o.work, "corpus").toPath, cores)
    val genS = secondsSince(tGen)
    val expected = corpus.sortedLines
    val ops = Lookup.stream(o.seed, corpus, 5000)
    val warm = Lookup.stream(o.seed + 7777, corpus, Warmup)
    println(s"corpus sha256=${corpus.sha256} files=${corpus.files.size} records=${corpus.records} " +
      s"captures=${expected.length} bytes=${corpus.inputBytes} gen_s=${"%.2f".format(genS)}")

    def verify(dir: File, keepPayloads: Boolean): Option[Oracle.ClusterFacts] =
      try Some(Oracle.verifyCluster(dir, expected, keepPayloads))
      catch { case e: IllegalStateException => mismatches += s"cluster $dir: ${e.getMessage}"; None }

    val buildRecs = ArrayBuffer.empty[BuildRec]
    def build(spark: SparkSession, dir: File, traced: Boolean): Boolean = {
      attempted += 1
      val start = tracer.nowMs
      val t0 = System.nanoTime()
      try {
        tracer.span("build") { Pipeline.warcToZipNum(spark, corpus.glob, dir.getPath) }
        buildRecs += BuildRec(start, tracer.nowMs, secondsSince(t0), traced, buildRecs.isEmpty)
        true
      } catch { case e: Exception => failed += 1; System.err.println(s"build failed: $e"); false }
    }

    val listeners = new Listeners
    def traced[T](spark: SparkSession, on: Boolean)(body: => T): T =
      listeners.traced(spark.sparkContext, on)(body)
    // in a traced run, operations alternate untraced/traced so the run
    // itself measures what tracing costs
    def tracedOp(i: Int): Boolean = o.trace && i % 2 == 1

    val phases = ArrayBuffer("gen" -> genS)
    def phase(name: String, t0: Long): Unit = phases += (name -> secondsSince(t0))

    // ---- set-up, repeated; the median is setup_s ----
    val tSetup = System.nanoTime()
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var cluster: File = null
    var facts: Option[Oracle.ClusterFacts] = None
    for (i <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      tracer.span("setup") {
        spark = GraftSession.local(cores)
        if (w.serve) {
          val dir = new File(o.work, s"served-$i")
          val on = tracedOp(i)
          require(traced(spark, on)(build(spark, dir, on)), "the served cluster could not be built")
          if (cluster != null) deleteTree(cluster)
          cluster = dir
        }
      }
      setupS += secondsSince(t0)
      if (w.serve) facts = verify(cluster, keepPayloads = o.trace)
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val hardStop = () =>
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 > HardStopS

    phase("setup", tSetup)

    // ---- measured window: builds ----
    val tBuilds = System.nanoTime()
    if (!w.serve) {
      val budget = o.seconds * BuildShare
      var i = 0
      var spent = 0.0
      while ((spent < budget || i < MinBuilds) && !hardStop()) {
        val dir = new File(o.work, s"build-$i")
        val on = tracedOp(i)
        if (traced(spark, on)(build(spark, dir, on))) {
          spent += buildRecs.last.wallS
          facts = verify(dir, keepPayloads = o.trace).orElse(facts)
          if (cluster != null) deleteTree(cluster)
          cluster = dir
        }
        i += 1
      }
    }
    require(cluster != null, "no cluster was built")

    // ---- measured window: lookups ----
    val server = new CdxServer(spark, cluster.getPath)
    val lookupRecs = ArrayBuffer.empty[LookupRec]
    def lookup(op: Lookup, on: Boolean): Option[LookupRec] = {
      attempted += 1
      try {
        val start = tracer.nowMs
        val t0 = System.nanoTime()
        val df = query(server, op)
        val rows = tracer.span(s"lookup.${op.kind}") { df.collect() }
        val wallMs = secondsSince(t0) * 1000
        val got = rows.map(r => s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)}").toIndexedSeq
        val want = Oracle.expectedFor(expected, op)
        if (got != want)
          mismatches += s"$op returned ${got.size} rows, expected ${want.size}: " +
            s"first difference ${got.zipAll(want, "<none>", "<none>").find(p => p._1 != p._2)}"
        val rec = LookupRec(op.kind, start, tracer.nowMs, wallMs, rows.length, on)
        Some(if (!on) rec else {
          val (blocks, bytes, examined) = scanMetrics(df)
          rec.copy(blocks = blocks, bytes = bytes, examined = examined)
        })
      } catch { case e: Exception => failed += 1; System.err.println(s"$op failed: $e"); None }
    }
    phase("builds", tBuilds)
    val tWarm = System.nanoTime()
    warm.foreach(lookup(_, on = false))
    phase("warmup", tWarm)
    val tLookups = System.nanoTime()
    val lookupBudget = if (w.serve) o.seconds else o.seconds * (1 - BuildShare)
    var n = 0
    var spentMs = 0.0
    val minLookups = if (w.serve) MinServedLookups else MinLookups
    while ((spentMs < lookupBudget * 1000 || n < minLookups) && n < ops.length && !hardStop()) {
      val on = tracedOp(n)
      traced(spark, on)(lookup(ops(n), on)).foreach { r => lookupRecs += r; spentMs += r.wallMs }
      n += 1
    }

    phase("lookups", tLookups)

    // ---- end-to-end metrics ----
    val inputMb = corpus.inputBytes / 1e6
    // the process's first build pays JIT and codegen warm-up; it is
    // verified and reported in build_s_samples but not in the build rates
    val e2eBuilds = buildRecs.toSeq.filter(b => !b.traced && !b.cold).map(_.wallS)
    val e2eLookups = lookupRecs.toSeq.filter(!_.traced)
    def p50(kind: String) = median(e2eLookups.filter(_.kind == kind).map(_.wallMs))
    val f = facts.getOrElse(throw new IllegalStateException("no verified cluster"))
    val buildWall = median(e2eBuilds)
    val e2e = Seq(
      ("setup_s", "s", median(setupS.toSeq)),
      ("build_mb_s", "MB/s", inputMb / buildWall),
      ("build_records_s", "records/s", corpus.records / buildWall),
      ("cluster_bytes_per_input_byte", "ratio", (f.shardBytes + f.idxBytes).toDouble / corpus.inputBytes),
      ("lookup_p50_ms", "ms", median(e2eLookups.map(_.wallMs))),
      ("lookup_p95_ms", "ms", percentile(e2eLookups.map(_.wallMs), 0.95)),
      ("exact_p50_ms", "ms", p50(Lookup.Exact)),
      ("host_p50_ms", "ms", p50(Lookup.Host)),
      ("closest_p50_ms", "ms", p50(Lookup.Closest)),
      ("miss_p50_ms", "ms", p50(Lookup.Miss)),
      ("failed_frac", "ratio", failed.toDouble / attempted),
      ("peak_rss_mb", "MB", peakRssMb()))

    // ---- per-layer metrics (traced run) ----
    val tProbes = System.nanoTime()
    val layers: Seq[(String, String, Double)] = if (!o.trace) Nil else
      PerLayer.measure(spark, corpus, f, listeners, tracer,
        buildRecs.toSeq, lookupRecs.toSeq, ops.take(n), cluster, cores)
    phase("probes", tProbes)

    spark.stop()
    val correct = mismatches.isEmpty && failed == 0
    mismatches.take(5).foreach(m => System.err.println(s"MISMATCH $m"))

    val report = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "run_id" -> runId, "cores" -> cores,
      "closed_loop_clients" -> 1,
      "corpus" -> Json.obj("sha256" -> corpus.sha256, "files" -> corpus.files.size,
        "records" -> corpus.records, "captures" -> expected.length,
        "input_bytes" -> corpus.inputBytes, "gen_s" -> genS),
      "samples" -> Json.obj("setup" -> setupS.size, "builds" -> e2eBuilds.size,
        "lookups" -> e2eLookups.size,
        "lookups_by_kind" -> Json.obj(Lookup.Kinds.map(k => k -> e2eLookups.count(_.kind == k)): _*),
        "warmup_lookups" -> warm.size),
      "phases_s" -> Json.obj(phases.toSeq: _*),
      "setup_s_samples" -> setupS.toSeq, "build_s_samples" -> buildRecs.map(_.wallS).toSeq,
      "end_to_end" -> Json.obj(e2e.map { case (k, u, v) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> Json.obj(layers.map { case (k, u, v) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "checks" -> Json.obj("mismatches" -> mismatches.size, "attempted" -> attempted, "failed" -> failed),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> v }: _*))
    println(Json.render(Json.obj("report" -> report)))

    o.traceOut.filter(_ => o.trace).foreach { out =>
      Files.createDirectories(out.getParentFile.toPath)
      Files.writeString(out.toPath, Json.render(Json.traceDump(tracer, listeners, report)))
    }

    // the contract's metric set: failed_frac is always 0 on these inputs,
    // so it stays in the report and the attempted/failed counts only
    val metrics = if (o.trace) layers else e2e.filter(_._1 != "failed_frac")
    println(Json.render(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    correct
  }
}
