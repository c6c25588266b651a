package graft

import java.util.SplittableRandom

import graft.formats.ZipNum
import graft.sources.ZipNumScan

/** Where a cdx-server lookup's driver time goes, per lookup kind, over an
  * existing ZipNum cluster:
  *
  * {{{
  *   Test/runMain graft.LookupPhases <clusterDir> <n> [seed]
  * }}}
  *
  * Sends `n` lookups (after 50 untimed warm-up ones) in the flagship
  * benchmark's mix, drawn from the cluster's own lines: 40% exact on
  * Zipf-hot keys, 20% host on hot hosts, 20% closest (k = 5) to a random
  * timestamp inside the cluster's capture window, 20% misses (a hot key
  * with a suffix). Per lookup it times, one after the other:
  *  - read: the idx search and block read the lookup's selection needs
  *    (`ZipNum.scanIdxRange` + `ZipNumScan.readRows` with its bound),
  *    timed on their own;
  *  - build: the `CdxServer` call that returns the DataFrame, less the
  *    read time above (the call reads the same blocks again);
  *  - optimize, plan: forcing `queryExecution.optimizedPlan`, then
  *    `executedPlan`;
  *  - collect: `collect()` of the planned DataFrame.
  * It prints the median of each phase and of their sum per kind. Runs on
  * `GraftSession.harness()` (`$SPARK_GRAFT_CPUS` threads, default 4). */
object LookupPhases {

  private final case class Op(kind: String, arg: String, target: String = null)

  private val Kinds = Seq("exact", "host", "closest", "miss")
  private val Phases = Seq("read", "build", "optimize", "plan", "collect")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LookupPhases <clusterDir> <n> [seed]")
    val dir = args(0)
    val n = args(1).toInt
    val seed = args.lift(2).map(_.toLong).getOrElse(541L)
    val spark = GraftSession.harness()
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val server = new CdxServer(spark, dir)

    val fields = ZipNum.readLines(spark, dir).as[String].collect().map(_.split(" ", 3))
    val counts = fields.groupBy(_(0)).map { case (k, v) => (k, v.length) }
    val hotKeys = counts.toIndexedSeq.sortBy { case (k, c) => (-c, k) }.map(_._1).take(5000)
    val hotHosts = fields.groupBy(_(0).takeWhile(_ != ')')).map { case (h, v) => (h, v.length) }
      .toIndexedSeq.sortBy { case (h, c) => (-c, h) }.map(_._1).take(200)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
      .withZone(java.time.ZoneOffset.UTC)
    val epochs = fields.flatMap(_.lift(1)).filter(_.matches("\\d{14}"))
      .map(t => java.time.Instant.from(fmt.parse(t)).getEpochSecond)
    val (lo, hi) = (epochs.min, epochs.max)
    val r = new SplittableRandom(seed)
    /** a Zipf(s) draw over `xs`, by rank */
    def zipf(xs: IndexedSeq[String], s: Double): () => String = {
      val cdf = xs.indices.map(i => 1.0 / math.pow(i + 1, s)).scanLeft(0.0)(_ + _).tail.toArray
      () => {
        val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf.last)
        xs(math.min(xs.size - 1, if (i >= 0) i else -i - 1))
      }
    }
    val hotKey = zipf(hotKeys, 1.1)
    val hotHost = zipf(hotHosts, 1.0)
    val ops = IndexedSeq.fill(n + 50) {
      val u = r.nextInt(10)
      if (u < 4) Op("exact", hotKey())
      else if (u < 6) Op("host", hotHost())
      else if (u < 8) Op("closest", hotKey(),
        fmt.format(java.time.Instant.ofEpochSecond(lo + (r.nextDouble() * (hi - lo)).toLong)))
      else Op("miss", hotKey() + "-absent" + r.nextInt(100))
    }

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def time(op: Op): Seq[Double] = {
      val (bound, exact) = if (op.kind == "host") (op.arg + ")", false) else (op.arg, true)
      val t0 = System.nanoTime()
      val (idxLo, idxHi) = ZipNum.prefixBounds(bound)
      val blocks = ZipNum.scanIdxRange(dir, conf, idxLo, idxHi)
      if (blocks.size <= ZipNumScan.BlocksPerPartition)
        ZipNumScan.readRows(dir, blocks, Array("urlkey", "ts", "json"), conf, Some(bound), exact)
      val read = ms(t0)
      val t1 = System.nanoTime()
      val df = op.kind match {
        case "host" => server.host(op.arg)
        case "closest" => server.closest(op.arg, op.target, 5)
        case _ => server.exactUrl(op.arg)
      }
      val build = math.max(0.0, ms(t1) - read)
      val t2 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val optimize = ms(t2)
      val t3 = System.nanoTime()
      df.queryExecution.executedPlan
      val plan = ms(t3)
      val t4 = System.nanoTime()
      df.collect()
      Seq(read, build, optimize, plan, ms(t4))
    }

    ops.take(50).foreach(time)
    val samples = ops.drop(50).map(op => op.kind -> time(op))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN else s(s.size / 2)
    }
    println(f"${"kind"}%-8s ${"n"}%5s " + (Phases :+ "total").map(p => f"$p%9s").mkString(" ") + "   (median ms)")
    (Kinds :+ "all").foreach { kind =>
      val mine = samples.filter(s => kind == "all" || s._1 == kind).map(_._2)
      val cols = Phases.indices.map(i => median(mine.map(_(i)))) :+ median(mine.map(_.sum))
      println(f"$kind%-8s ${mine.size}%5d " + cols.map(v => f"$v%9.2f").mkString(" "))
    }
    spark.stop()
  }
}
