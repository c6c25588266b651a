package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** The outlier trigger for the rerun-keep-minimum protocol, extracted
    * so BenchSpec can pin it: with an idle reference, >2× the reference
    * (and >1 s absolute) is presumed contention for a query whose code
    * was NOT touched this round — a slowdown there cannot be a code
    * change, so the tighter band applies (round-9 verdict: graph_pagerank
    * at 2.22× its reference sailed under the old uniform 3× trigger and
    * had to be hand-re-measured). Queries named in SPARK_GRAFT_TOUCHED
    * (comma-separated; the round's snapshot protocol sets it from `git
    * diff --name-only` → module → keys) keep the looser 3× band so a
    * fresh plan change gets an honest first reading — though keep-minimum
    * never hides a REAL regression either way: it stays slow on every
    * sample and is still reported. Unset ⇒ empty ⇒ the 2× band applies
    * everywhere, the right default for the driver's unattended run.
    * WITHOUT a reference — a query new this round — anything over an
    * absolute 20 s is suspicious (the slowest legitimate idle line is
    * ~4 s); that no-ref arm is the guard that round 7's 1914 s
    * dedup_winnow_pairs line shipped through the absence of. */
  private[graft] def suspicious(refs: Map[String, Double], touched: Set[String],
      name: String, t: Double): Boolean =
    refs.get(name) match {
      case Some(r) =>
        val mult = if (touched.contains(name)) 3.0 else 2.0
        t > math.max(mult * r, 1.0)
      case None => t > 20.0
    }

  private[graft] def touchedFromEnv(env: Option[String]): Set[String] =
    env.iterator.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet

  /** The heavy file-IO write lines whose run-to-run swing on this host is
    * ±70% even idle (BASELINE round-13 rows: sink_wet 3.9↔12.1 s,
    * sink_warc_revisit_write 8.8↔12.2 s — each stable warm alone, so
    * the swing is ambient FS/page-cache state, not plan variance). These
    * are measured as the MEDIAN OF 3 back-to-back samples (round-14
    * protocol, BASELINE row documents it): one cold-cache outlier can no
    * longer own the line, so a future slowdown on them is attributable
    * to a code change. They are EXCLUDED from the rerun-keep-minimum
    * path — three samples already bound the noise, and folding a
    * keep-minimum over a median would bias the statistic downward.
    *
    * Membership rule: only keys that do their WRITE WORK ON EVERY CALL
    * qualify. A key serving from a session-memoized corpus
    * (sink_wacz_collection — the first protocol run measured its median
    * at 0.12 s because samples 2–3 hit the sharedBuild cache and the
    * one-time build fell out of the statistic entirely) must stay
    * single-sample so its line honestly carries the build. */
  private[graft] val HeavyWriteMedian3: Set[String] = Set(
    "sink_wet", "sink_wat", "sink_warc_write", "sink_warc_revisit_write",
    "pipeline_wacz_publish")

  /** upper median of the sorted successful samples */
  private[graft] def median(sorted: Seq[Double]): Double = sorted(sorted.size / 2)

  /** idle-reference parser, extracted so BenchSpec can pin BOTH JSON
    * spellings: Bench itself writes "k":v, but the round-15 splice
    * committed bench_local32.json as "k": v (colon-space) and the old
    * no-whitespace regex silently matched NOTHING — every query landed in
    * no_ref, disabling the rerun-keep-minimum protocol and the ratio
    * stats for the whole round-15 driver run. */
  private[graft] def parseRefs(txt: String): Map[String, Double] =
    "\"([a-z0-9_]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter { case (k, _) => k != "value" }.toMap

  /** `Bench` runs the whole suite; `Bench <key> [reps]` runs one key
    * `reps` times (default 3), with no warm-up, and prints each rep's wall
    * time — a bench outlier reproduced and profiled in isolation. */
  def main(args: Array[String]): Unit = {
    val one = args.headOption.map(name => name -> SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query '$name'")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    spark.sparkContext.setLogLevel("WARN")
    one match {
      case Some((name, fn)) =>
        (1 to args.lift(1).fold(3)(_.toInt)).foreach { i =>
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          println(f"[bench] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s, $n rows")
        }
      case None => suite(spark, sfDir)
    }
    spark.stop()
  }

  private def suite(spark: SparkSession, sfDir: String): Unit = {
    // untimed warm-up: JIT + codegen + shuffle/window machinery + parquet
    // footer caches (one representative query per physical-plan family).
    // The two writers are in the family because a cold tmp FS otherwise
    // lands entirely on whichever sink query runs first (r2 showed 5-7×
    // inflation on the sink lines from exactly this). The round-3 verdict
    // pinned the six contention-sensitive outliers into the family too:
    // zipnum_v2_pushdown is the ONLY query exercising the V2 read path
    // (nothing else warms ZipNumScan), and the ANN/skew lines are the
    // CPU-heaviest per-row kernels.
    // join_range_block joined the family in round 6: it is the only
    // broadcast-NLJ-heavy ~10-stage plan, and `Bench <key>` showed a 24.7 s
    // cold / 2.4 s warm split — the driver's r5 10.3 s line was that cold
    // cost plus contention, not a plan regression.
    // cdx_fl_projection joined in round 8: it builds the zipnum cluster
    // itself (zipnum_v2_pushdown only warms the V2 READ path), and the r7
    // driver line was 9.9 s cold / 2.6 s warm with identical rows.
    // html_links joined in round 15: it is the only member of the
    // heavy-regex HTML-extraction expression family (nested HOF lambdas
    // over ~40 regex kernels), and `Bench <key>` showed a 10.5 s cold / 3.4 s
    // warm split — the JIT/codegen warm-up every other family amortizes
    // through its own warm-up member was landing entirely on this line
    // (html_main_content, which runs immediately after it, measured
    // 0.16 s off the warmth html_links paid for).
    Seq("scan_parquet", "agg_count_by_key", "win_rank_captures", "join_broadcast_dim",
      "sink_text_gz", "sink_zipnum",
      "zipnum_v2_pushdown", "sim_ann_pq", "sim_ann_pq_rerank", "join_skip_existing",
      "sim_ann_lsh", "join_skew_salted", "join_range_block", "cdx_fl_projection",
      "html_links")
      .foreach { q =>
        try SparkEntry.queries.get(q).foreach(_(spark, sfDir).count())
        catch { case _: Throwable => }
      }
    // deterministic execution order so per-query numbers are comparable
    // across rounds (Map iteration order is arbitrary)
    val failed = scala.collection.mutable.ListBuffer[String]()
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        recordFailure: Boolean): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          if (recordFailure) failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val first = timeOne(name, fn, recordFailure = true)
      // heavy-write lines: two more back-to-back samples, record the
      // median (see HeavyWriteMedian3) — only when the first run was
      // green (a failing query must not run three times)
      if (first._2 && HeavyWriteMedian3.contains(name)) {
        val more = (1 to 2).map(_ => timeOne(name, fn, recordFailure = false))
        val oks = (first +: more).filter(_._2).map(_._1).sorted
        name -> (median(oks), true)
      } else name -> first
    }
    // BASELINE.md protocol (round-3 verdict item 7): a line >3× its
    // like-for-like idle reference (bench_local32.json, committed in-repo)
    // is presumed transient host contention — rerun it once and keep the
    // minimum, so one load spike can't masquerade as a 12× regression. A
    // real regression stays slow on the rerun and is still reported.
    val refs: Map[String, Double] = try {
      parseRefs(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_local32.json")), "UTF-8"))
    } catch { case _: Throwable => Map.empty }
    val reran = scala.collection.mutable.ListBuffer[String]()
    // A query ABSENT from the idle reference (i.e. new this round) can
    // never trip the 3× rule — exactly how round 7's 1914 s
    // dedup_winnow_pairs line shipped silently. Fallback guard: with no
    // ref, anything over an absolute 20 s is suspicious (the slowest
    // legitimate line in the current idle reference is ~4 s) — it gets the same
    // rerun-keep-minimum treatment, and a REAL regression stays slow on
    // every sample and is still reported. no_ref names are emitted in
    // bench_out.json so an incomplete reference file is visible, not
    // silent.
    val touched = touchedFromEnv(sys.env.get("SPARK_GRAFT_TOUCHED"))
    def susp(name: String, t: Double): Boolean = suspicious(refs, touched, name, t)
    // FAILED queries are excluded from the per-query map, the headline
    // total, and the ratio stats: a query that throws after 0.1 s would
    // otherwise read as a 40× speedup and drag ratio_median down — the
    // failed list is their (loud) record
    val results = firstPass.flatMap { case (name, (t, ok)) =>
      if (!ok) None
      else if (!susp(name, t) || HeavyWriteMedian3.contains(name)) Some(name -> t)
      else Some {
        reran += name
        // a FAILED rerun must not donate its fast wall time (and the
        // first pass already proved the query green) — keep t unless the
        // rerun actually completed. Round-5 driver data (limit_page 6.4×
        // on BOTH samples while its alphabetical neighbors mime_norm /
        // minhash_sig_text / mm_* inflated in the same window) showed one
        // rerun can land inside the same contention window, so a line
        // still >3× after the first rerun gets ONE more attempt — a real
        // regression survives all three samples and is still reported.
        val best = (1 to 2).foldLeft(t) { (acc, _) =>
          if (!susp(name, acc)) acc
          else {
            val (t2, ok2) = timeOne(name, SparkEntry.queries(name), recordFailure = false)
            if (ok2) math.min(acc, t2) else acc
          }
        }
        name -> best
      }
    }
    val ratios = results.flatMap { case (k, v) =>
      refs.get(k).filter(_ > 0).map(v / _) }.sorted
    val ratioStats =
      if (ratios.isEmpty) ""
      else {
        val n = ratios.size
        val median =
          if (n % 2 == 1) ratios(n / 2) else (ratios(n / 2 - 1) + ratios(n / 2)) / 2
        s""","ratio_median":$median,"ratio_max":${ratios.last}"""
      }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reranJson = reran.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noRef = results.map(_._1).filterNot(refs.contains).sorted
    val noRefJson = noRef.map("\"" + _ + "\"").mkString("[", ",", "]")
    // provenance: bench_out.json is overwritten by every run, so stamp
    // WHICH run produced it (round-9 verdict item: its BASELINE.md row
    // was implicit) — commit + wall time identify the snapshot exactly
    val gitHead = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val head = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && head.matches("[0-9a-f]{4,40}")) head else "unknown"
    } catch { case _: Throwable => "unknown" }
    val recordedUtc = java.time.Instant.now().toString
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","git_head":"$gitHead","recorded_utc":"$recordedUtc","queries":$qs,"failed":$failedJson,"reran":$reranJson,"no_ref":$noRefJson$ratioStats,"sf":"$sfDir"}"""
    // The full 135-query line is ~4.5 KB; the driver captures only the
    // LAST 2000 chars of stdout, so printing it whole has never parsed
    // (BENCH_r04/r05 both recorded parsed:null and the judge fell back to
    // bench_out.json). Print a compact line that fits the tail window —
    // totals + the slowest 25 queries, 3-decimal seconds — and keep the
    // lossless full map in bench_out.json.
    // Locale.ROOT: a comma-decimal default locale (de_DE etc.) would turn
    // f"%.3f" into "1,234" and silently re-break the JSON line.
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val top = results.sortBy(-_._2).take(25)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // Cap the name lists so a pathological run (many failures/reruns) can't
    // push the compact line past the driver's 2000-char stdout tail; the
    // lossless lists stay in bench_out.json.
    def capped(xs: Seq[String], n: Int): String = {
      val shown = xs.take(n).map("\"" + _ + "\"")
      val extra = if (xs.size > n) Seq(s""""+${xs.size - n} more"""") else Nil
      (shown ++ extra).mkString("[", ",", "]")
    }
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$top,"queries_note":"slowest 25 of ${results.size}; full map in bench_out.json","failed":${capped(failed.toSeq, 8)},"reran":${capped(reran.toSeq, 8)}$ratioStats,"sf":"$sfDir"}"""
    println(compact)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
  }
}
