package graftbench

import java.io.{BufferedInputStream, File, FileInputStream}
import java.util.zip.GZIPInputStream

import graft.Pipeline
import graft.formats.{Gzip, Warc, ZipNum}
import graft.functions.SurtAlg
import org.apache.spark.sql.SparkSession

/** Per-layer numbers for a traced run: timed calls from the benchmark
  * into each module's public functions, plus the listener's stage and
  * task metrics for the traced builds and lookups of the window. */
object PerLayer {
  import Main.{BuildRec, LookupRec, median}

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
  /** max/median task run time; 1.0 for an even stage */
  private def skew(tasks: Seq[Task]): Double =
    if (tasks.isEmpty) Double.NaN
    else tasks.map(_.runMs).max.toDouble / math.max(1.0, median(tasks.map(_.runMs.toDouble)))

  def measure(
      spark: SparkSession, corpus: Corpus, cluster: Oracle.ClusterFacts, listeners: Listeners,
      tracer: Tracer,
      builds: Seq[BuildRec], lookups: Seq[LookupRec], ops: Seq[Lookup],
      clusterDir: File, cores: Int): Seq[(String, String, Double)] = {
    // each probe is one span around one call into a layer
    def timeS(name: String)(body: => Unit): Double = tracer.span(name) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val out = Seq.newBuilder[(String, String, Double)]
    def add(name: String, unit: String, v: Double): Unit = out += ((name, unit, v))
    val inputMb = corpus.inputBytes / 1e6
    val files = corpus.files.map(f => new File(corpus.dir.toFile, f.name))
    val sc = spark.sparkContext

    // member decode: one thread over every input file, against the JDK
    var members = 0L
    var corrupt = 0L
    val decodeS = timeS("gzip.entries")(files.foreach { f =>
      val in = new BufferedInputStream(new FileInputStream(f), 1 << 16)
      try Gzip.entries(in, permissive = true).foreach {
        case _: Gzip.Member => members += 1
        case _: Gzip.CorruptSpan => corrupt += 1
      } finally in.close()
    })
    val buf = new Array[Byte](1 << 16)
    val jdkS = timeS("jdk.gzip")(files.foreach { f =>
      val in = new GZIPInputStream(new FileInputStream(f), 1 << 16)
      try while (in.read(buf) >= 0) {} finally in.close()
    })
    add("gzip.decode_mb_s", "MB/s", inputMb / decodeS)
    add("gzip.jdk_ceiling_mb_s", "MB/s", inputMb / jdkS)
    add("gzip.members", "count", members.toDouble)
    add("gzip.corrupt_spans", "count", corrupt.toDouble)

    // record parse: the distributed scan alone
    def timedJob(name: String)(body: => Long): (Long, Double, Window) = {
      var n = 0L
      var from, to = 0.0
      val s = listeners.traced(sc, on = true) {
        from = System.currentTimeMillis().toDouble
        val s = timeS(name) { n = body }
        to = System.currentTimeMillis().toDouble
        s
      }
      (n, s, listeners.window(from, to))
    }
    val readsInput = (st: Stage) => st.rddNames.contains(corpus.glob)
    val (records, scanS, scanWin) = timedJob("warc.scan")(Warc.scan(spark, corpus.glob).count())
    val scanStages = scanWin.stages.filter(readsInput).map(_.id).toSet
    val scanTasks = scanWin.tasks.filter(t => scanStages(t.stageId))
    add("warc.scan_s", "s", scanS)
    add("warc.records", "count", records.toDouble)
    add("warc.scan_tasks", "count", scanTasks.size.toDouble)
    add("warc.scan_task_skew", "ratio", skew(scanTasks))

    // SURT keying: one thread over every corpus URL; median of 3 passes
    val urls = corpus.rawUrls
    add("surt.keys_s", "s", median((0 until 3).map(_ => timeS("surt.keys")(urls.foreach(SurtAlg.surtKey)))))

    // CDX packing: the full derive, counted
    val (lines, deriveS, _) = timedJob("cdx.lines")(Pipeline.cdxLines(spark, corpus.glob).count())
    add("cdx.derive_s", "s", deriveS)
    add("cdx.lines", "count", lines.toDouble)
    add("cdx.bytes", "bytes", cluster.lineBytes.toDouble)

    // range exchange, block write and Spark runtime, per traced build
    final case class B(jobs: Int, passes: Int, shuffle: Long, spill: Long, reduceSkew: Double,
        assemblyS: Double, runS: Double, cpuS: Double, gcS: Double, util: Double)
    val perBuild = builds.filter(_.traced).map { b =>
      val win = listeners.window(b.start, b.end)
      val reduceStages = win.tasks.filter(_.shuffleRead > 0).map(_.stageId).toSet
      val runS = win.tasks.map(_.runMs).sum / 1e3
      B(win.jobs.size, win.stages.count(readsInput), win.tasks.map(_.shuffleWrite).sum,
        win.tasks.map(_.diskSpill).sum, skew(win.tasks.filter(t => reduceStages(t.stageId))),
        (b.end - win.lastJobEnd) / 1e3, runS, win.tasks.map(_.cpuNs).sum / 1e9,
        win.tasks.map(_.gcMs).sum / 1e3, runS / (b.wallS * cores))
    }
    def perBuildMedian(f: B => Double) = median(perBuild.map(f))
    add("build.jobs", "count", perBuildMedian(_.jobs))
    add("build.scan_passes", "count", perBuildMedian(_.passes))
    add("exchange.shuffle_write_bytes", "bytes", perBuildMedian(_.shuffle.toDouble))
    add("exchange.shuffle_bytes_per_cdx_byte", "ratio",
      perBuildMedian(_.shuffle.toDouble) / cluster.lineBytes)
    add("exchange.spill_bytes", "bytes", perBuildMedian(_.spill.toDouble))
    add("exchange.reduce_task_skew", "ratio", perBuildMedian(_.reduceSkew))
    add("zipnum.idx_assembly_s", "s", perBuildMedian(_.assemblyS))
    add("spark.executor_run_s", "s", perBuildMedian(_.runS))
    add("spark.executor_cpu_s", "s", perBuildMedian(_.cpuS))
    add("spark.gc_s", "s", perBuildMedian(_.gcS))
    add("spark.core_util", "ratio", perBuildMedian(_.util))

    // block write: one thread re-compressing the cluster's block payloads
    val payloadMb = cluster.blockPayloads.map(_.length.toLong).sum / 1e6
    add("zipnum.compress_mb_s", "MB/s",
      payloadMb / timeS("zipnum.compress")(cluster.blockPayloads.foreach(Gzip.compressMember)))
    add("zipnum.blocks", "count", cluster.blocks.toDouble)
    add("zipnum.idx_bytes", "bytes", cluster.idxBytes.toDouble)

    // idx search with each lookup's own bounds
    val hconf = sc.hadoopConfiguration
    val searchMs = ops.map { op =>
      val (lo, hi) = ZipNum.prefixBounds(if (op.kind == Lookup.Host) op.arg + ")" else op.arg)
      timeS("zipnum.idx_search")(ZipNum.scanIdxRange(clusterDir.getPath, hconf, lo, hi)) * 1e3
    }
    add("zipnum.idx_search_ms", "ms", median(searchMs))

    // block reads and the query surface, per traced lookup
    val traced = lookups.filter(_.traced)
    add("zipnum.blocks_per_lookup", "count", mean(traced.map(_.blocks.toDouble)))
    add("zipnum.compressed_bytes_per_lookup", "bytes", mean(traced.map(_.bytes.toDouble)))
    add("zipnum.lines_examined_per_result", "ratio",
      traced.map(_.examined).sum.toDouble / math.max(1, traced.map(_.rows.toLong).sum))
    val wins = traced.map(l => (l, listeners.window(l.start, l.end)))
    add("cdxserver.jobs_per_lookup", "count", mean(wins.map(_._2.jobs.size.toDouble)))
    add("cdxserver.tasks_per_lookup", "count", mean(wins.map(_._2.tasks.size.toDouble)))
    add("cdxserver.driver_overhead_ms", "ms",
      median(wins.map { case (l, w) => l.wallMs - w.tasks.map(_.runMs).sum }))

    // what tracing costs: the traced operations against the untraced ones
    // of the same run, which alternate with them
    val (tb, ub) = builds.filter(!_.cold).partition(_.traced)
    add("trace.build_overhead_frac", "ratio", median(tb.map(_.wallS)) / median(ub.map(_.wallS)) - 1)
    val (tl, ul) = lookups.partition(_.traced)
    add("trace.lookup_overhead_ms", "ms", median(tl.map(_.wallMs)) - median(ul.map(_.wallMs)))
    out.result()
  }
}
