package graft

import java.nio.file.{Files, Paths}

import graft.formats.{Warc, ZipNum}
import graft.sources.ZipNumScan
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** pywb cdx-server semantics over a ZipNum cluster built by the pipeline
  * (SURVEY §2.9): exact/prefix/domain lookup, time range, closest,
  * collapse, latest, pagination. */
class CdxServerSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val warcFile = "/tmp/graft_test/server.warc.gz"
  private val dir = "/tmp/graft_test/server_zipnum"
  private lazy val server: CdxServer = {
    Files.createDirectories(Paths.get(warcFile).getParent)
    Warc.writeFixture(warcFile, Warc.fixtureRecords)
    Pipeline.warcToZipNum(spark, warcFile, dir, shards = 2, linesPerBlock = 2)
    new CdxServer(spark, dir)
  }

  /** (jobs, most tasks in one stage) of one `df.collect()`, counted
    * through a listener on a job group of its own */
  private def jobsAndWidth(df: DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"cdx-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val width = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          e.stageInfos.foreach(s => width.accumulateAndGet(s.numTasks, math.max))
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "CdxServerSpec job count")
    try { df.collect(); ListenerBusDrain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    (jobs.get, width.get)
  }

  /** (jobs of one collect, shuffle exchanges in its final plan) */
  private def jobsAndShuffles(df: DataFrame): (Int, Int) =
    (jobsAndWidth(df)._1,
      collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size)

  test("exactUrl returns every capture of the key, oldest first") {
    val rows = server.exactUrl("com,example)/path?a=1&b=2")
      .select("ts").as[String].collect().toSeq
    assert(rows == Seq("20150215012345", "20150402083000"))
  }

  test("prefix, host, and domain queries") {
    val p = server.prefix("com,example)/").select("urlkey").as[String].collect()
    assert(p.nonEmpty && p.forall(_.startsWith("com,example)/")))
    // domain query picks up the bare host AND subdomain captures
    val d = server.domain("org,iana").select("urlkey").as[String].collect()
    assert(d.toSeq == Seq("org,iana,sub)/x"))
    // host query excludes subdomains (matchType=host vs domain)
    assert(server.host("org,iana").count() == 0)
    val h = server.host("com,example").select("urlkey").as[String].collect()
    assert(h.nonEmpty && h.forall(_.startsWith("com,example)")))
    assert(h.toSet == server.domain("com,example")
      .filter(!col("urlkey").startsWith("com,example,"))
      .select("urlkey").as[String].collect().toSet)
  }

  test("time-range and closest") {
    val r = server.captures("com,example)/other", "20150101000000", "20150401000000")
    // fixture: /other captured 2015-03-01 (404) and 2015-06-01 (200)
    assert(r.select("ts").as[String].collect().toSeq == Seq("20150301120000"))
    val c = server.closest("com,example)/other", "20150520000000", 1)
      .select("ts").as[String].collect()
    assert(c.toSeq == Seq("20150601000000"), "June capture is nearest to May 20")
  }

  test("collapse to month granularity keeps one capture per (url, month)") {
    val collapsed = server.collapse("com,example)/", 6)
      .select("urlkey", "ts").as[(String, String)].collect().toSeq
    val months = collapsed.map { case (k, ts) => (k, ts.take(6)) }
    assert(months.distinct.size == months.size)
  }

  test("collapseDigest drops only unchanged-payload successors") {
    // fixture digests: /other 404 and 200 share digest beta (unchanged
    // payload) -> the June capture collapses; /path response+revisit share
    // alpha -> the revisit collapses; first captures all survive
    val kept = server.collapseDigest("com,example)/")
      .select("urlkey", "ts").as[(String, String)].collect().toSet
    assert(kept.contains(("com,example)/other", "20150301120000")))
    assert(!kept.contains(("com,example)/other", "20150601000000")),
      "same-digest successor must collapse")
    assert(kept.contains(("com,example)/path?a=1&b=2", "20150215012345")))
    assert(!kept.contains(("com,example)/path?a=1&b=2", "20150402083000")),
      "revisit duplicates the original's digest and must collapse")
  }

  test("latest returns one newest capture per url") {
    val rows = server.latest("com,example)/")
      .select("urlkey", "ts").as[(String, String)].collect().toMap
    assert(rows("com,example)/other") == "20150601000000")
    assert(rows("com,example)/path?a=1&b=2") == "20150402083000")
  }

  test("numPages comes from cluster.idx alone") {
    assert(server.numPages("com,example)/", blocksPerPage = 1) >= 1)
    // a prefix sorting past every firstkey still counts the straddling
    // final block (its upper key is unknown from the idx) — the same
    // conservative answer pywb's idx binary search gives
    assert(server.numPages("zz,nothing)/", blocksPerPage = 1) <= 1)
    // a prefix below every key prunes to zero pages
    assert(server.numPages("aa,first)/", blocksPerPage = 1) == 0)
  }

  test("withFilter applies pywb field:regex / !field:regex semantics") {
    val all = server.prefix("com,example)/")
    val ok = server.withFilter(all, "status:200").select("urlkey").as[String].collect()
    assert(ok.nonEmpty)
    val not200 = server.withFilter(all, "!status:200").count()
    assert(ok.length + not200 == all.count())
    // anchored like pywb's re.match: "00" does NOT match inside "200"
    assert(server.withFilter(all, "status:00").count() == 0)
    // json-payload field and core-column field both filter
    val html = server.withFilter(all, "mime:text/html.*")
    assert(html.count() >= 1)
    val tsRange = server.withFilter(all, "ts:2015(02|03).*")
    assert(tsRange.count() >= 1 && tsRange.count() < all.count())
  }

  test("withFields projects pywb fl= names, pulling non-core fields from json") {
    val all = server.prefix("com,example)/")
    // pywb spells ts 'timestamp'; mime lives in the CDXJ json payload
    val projected = server.withFields(all, "urlkey, timestamp, mime")
    assert(projected.columns.toSeq == Seq("urlkey", "timestamp", "mime"))
    val rows = projected.as[(String, String, String)].collect()
    assert(rows.nonEmpty && rows.forall { case (k, ts, mime) =>
      k.startsWith("com,example)/") && ts.matches("\\d{14}") && mime != null
    })
    // a field absent from the json is null (pywb renders '-'), not an error
    val absent = server.withFields(all, "urlkey,nosuchfield")
    assert(absent.select("nosuchfield").as[String].collect().forall(_ == null))
    // scan-columns-only projection composes with V2 column pruning:
    // ts/json never reach the read schema
    val pruned = server.withFields(spark.read.format("zipnum").load(dir), "urlkey")
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    scans.foreach { b =>
      val cols = b.scan.readSchema().fieldNames.toSeq
      assert(cols == Seq("urlkey"), s"expected pruned read schema, got $cols")
    }
  }

  test("resolveRevisits attaches the original capture's payload location") {
    val resolved = server.resolveRevisits(server.prefix("com,example)/"))
    // fixture: the 2015-04-02 revisit of /path duplicates the 2015-02-15
    // response (same digest) — it must resolve to THAT capture's location
    val rows = resolved
      .select("urlkey", "ts", "orig_ts", "orig_filename", "orig_offset")
      .collect()
    assert(rows.length == 1, s"exactly one revisit in the fixture, got ${rows.length}")
    val r = rows.head
    assert(r.getString(0) == "com,example)/path?a=1&b=2")
    assert(r.getString(1) == "20150402083000")
    assert(r.getString(2) == "20150215012345", "resolves to the earlier original")
    assert(r.getString(3) != null && r.getString(3).endsWith(".warc.gz"))
    assert(r.getString(4).toLong >= 0)
  }

  test("page(n): pages are disjoint and union to the full prefix result") {
    val pre = "com,example)/"
    val bpp = 1
    val n = server.numPages(pre, bpp).toInt
    assert(n >= 2, s"fixture should span multiple 1-block pages, got $n")
    val pages = (0 until n).map(i =>
      server.page(pre, bpp, i).select("urlkey", "ts").as[(String, String)].collect().toSeq)
    val all = pages.flatten
    assert(all.size == all.distinct.size, "pages must be disjoint")
    val full = server.prefix(pre).select("urlkey", "ts").as[(String, String)].collect().toSeq
    assert(all.sorted == full.sorted, "union of pages == full prefix result")
    // out-of-range page is empty, not an error
    assert(server.page(pre, bpp, n).count() == 0)
    // a page fits one partition: one task, sorted in place, no exchange
    (0 until n).foreach { i =>
      assert(jobsAndShuffles(server.page(pre, bpp, i)) == (1, 0), s"page $i")
    }
  }

  /** the same cluster served from a GraftExtensions session */
  private lazy val extServer: CdxServer = { server; new CdxServer(SparkSpec.withExtensions, dir) }

  test("small-selection lookups: exact job counts per session, same rows in both") {
    val key = "com,example)/path?a=1&b=2"
    // (name, lookup, (jobs, exchanges) in the plain session, the same
    // under GraftExtensions). A sort-shaped lookup is evaluated on the
    // driver in either session and returns its result rows (no job); the
    // window lookups keep their one job over those rows.
    val lookups = Seq[(String, CdxServer => DataFrame, (Int, Int), (Int, Int))](
      ("exactUrl", _.exactUrl(key), (0, 0), (0, 0)),
      ("host", _.host("com,example"), (0, 0), (0, 0)),
      ("prefix", _.prefix("com,example)/"), (0, 0), (0, 0)),
      ("domain", _.domain("org,iana"), (0, 0), (0, 0)),
      ("closest", _.closest(key, "20150301000000", 1), (0, 0), (0, 0)),
      ("captures", _.captures(key, "20150101000000", "20151231000000"), (0, 0), (0, 0)),
      ("collapse", _.collapse("com,example)/", 6), (1, 0), (1, 0)),
      ("latest", _.latest("com,example)/"), (1, 0), (1, 0)),
      ("timemap", _.timemap(key), (1, 0), (1, 0)),
      ("miss", _.exactUrl("com,absent)/"), (0, 0), (0, 0)))
    lookups.foreach { case (name, lookup, plain, folded) =>
      assert(jobsAndShuffles(lookup(server)) == plain, s"$name, plain session")
      assert(jobsAndShuffles(lookup(extServer)) == folded, s"$name, GraftExtensions")
      assert(lookup(extServer).collect().toSeq == lookup(server).collect().toSeq, s"$name rows")
    }
    // a folded lookup is one driver-local scan
    val exact = extServer.exactUrl(key)
    assert(exact.collect().length == 2)
    assert(exact.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
  }

  test("lookup shapes are analyzed once per server; a lookup's plan holds its rows") {
    server
    val fresh = new CdxServer(spark, dir)
    val key = "com,example)/path?a=1&b=2"
    assert(fresh.analyzedShapes == 0)
    // (lookup, whether its result sits under coalesce(1)): the window
    // lookups compose over the single-partition form of a shape's rows
    val lookups = Seq[(String => DataFrame, Boolean)](
      (fresh.exactUrl, false),
      (k => fresh.captures(k, "20150101000000", "20151231000000"), false),
      (k => fresh.closest(k, "20150301000000", 1), false),
      (fresh.prefix, false),
      (_ => fresh.host("com,example"), false),
      (_ => fresh.domain("com,example"), false),
      (fresh.timemap, true),
      (_ => fresh.collapse("com,example)/", 6), true))
    Seq(key, "com,example)/other", "com,absent)/").foreach { k =>
      lookups.foreach { case (lookup, single) =>
        val df = lookup(k)
        val rows = df.collect().toSeq.map(r => (0 until 3).map(r.getString))
        val plan = df.queryExecution.analyzed
        if (single) assert(plan.exists {
          case Repartition(1, false, _: LocalRelation) => true
          case _ => false
        }, plan)
        else plan match {
          case r: LocalRelation =>
            val held = r.data.map(row =>
              (0 until 3).map(i => Option(row.getUTF8String(i)).map(_.toString).orNull))
            assert(held == rows, k)
          case other => fail(s"not one LocalRelation: $other")
        }
      }
    }
    // exact, captures, closest, prefix (host too), domain
    assert(fresh.analyzedShapes == 5)
  }

  test("readRows holds exactly the selected blocks' lines under the lookup's key") {
    server
    val conf = spark.sparkContext.hadoopConfiguration
    val cluster = ZipNum.readLines(spark, dir).as[String].collect().toSeq
    val fields = Array("urlkey", "ts", "json")
    Seq("com,example)/path?a=1&b=2", "com,example)").foreach { k =>
      val (lo, hi) = ZipNum.prefixBounds(k)
      val selected = ZipNum.scanIdxRange(dir, conf, lo, hi)
      val held = ZipNumScan.readRows(dir, selected, fields, conf, Some(k))
        .map(r => (0 until 3).map(i => r.getUTF8String(i).toString).mkString(" "))
      assert(held == cluster.filter(_.split(" ", 2)(0).startsWith(k)), k)
      // the blocks the rows were read from hold other keys' lines too
      val reader = new ZipNum.BlockReader(conf)
      val read = try selected.flatMap { e =>
        val (file, offset, length, _) = ZipNumScan.blockOf(dir, e)
        reader.lines(file, offset, length).toSeq
      } finally reader.close()
      assert(read.size > held.size, s"$k: the selection holds only the key's lines")
    }
  }

  test("an exact-key read keeps the key's lines, its one-field line, no longer key") {
    val dir = "/tmp/graft_test/server_zipnum_exactkey"
    val k = "com,exact)/k"
    val lines = Seq(
      "com,exact)/j 20200101000000 {}",
      k, // one field: ts and json null
      s"$k 20200103000000",
      s"""$k 20200102000000 {"n":1}""",
      s"""$k?x=1 20200101000000 {"n":2}""",
      s"""$k/more 20200101000000 {"n":3}""",
      s"""${k}z 20200101000000 {"n":4}""")
    ZipNum.write(lines.toDF("line"), dir, shards = 1, linesPerBlock = 2)
    val conf = spark.sparkContext.hadoopConfiguration
    val (lo, hi) = ZipNum.prefixBounds(k)
    val selected = ZipNum.scanIdxRange(dir, conf, lo, hi)
    def keys(exact: Boolean): Seq[String] =
      ZipNumScan.readRows(dir, selected, Array("urlkey", "ts"), conf, Some(k), exact)
        .map(r => r.getUTF8String(0).toString + " " + Option(r.getUTF8String(1)).getOrElse("-"))
    assert(keys(exact = false) == lines.filter(_.startsWith(k)).sorted(ZipNum.utf8Ordering)
      .map { l => val f = l.split(" "); f(0) + " " + f.lift(1).getOrElse("-") })
    assert(keys(exact = true) == Seq(s"$k -", s"$k 20200102000000", s"$k 20200103000000"))
    Seq(new CdxServer(spark, dir), new CdxServer(SparkSpec.withExtensions, dir)).foreach { srv =>
      val got = srv.exactUrl(k).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(got == Seq(
        (k, null, null), (k, "20200102000000", """{"n":1}"""), (k, "20200103000000", null)))
      assert(srv.closest(k, "20200101000000", 5).select("ts").as[String].collect().toSeq ==
        Seq("20200102000000", "20200103000000", null))
    }
  }

  test("a lookup in a block whose CRC does not verify throws and returns no rows") {
    server
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "com,example)/other"
    val copy = Paths.get("/tmp/graft_test/server_zipnum_crc")
    if (Files.exists(copy)) Files.list(copy).toArray.foreach(f => Files.delete(f.asInstanceOf[java.nio.file.Path]))
    Files.createDirectories(copy)
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(f => !f.getFileName.toString.startsWith("."))
      .foreach(f => Files.copy(f, copy.resolve(f.getFileName)))
    val (lo, hi) = ZipNum.prefixBounds(key)
    val reader = new ZipNum.BlockReader(conf)
    val block = try ZipNum.scanIdxRange(copy.toString, conf, lo, hi).find { e =>
      val (file, offset, length, _) = ZipNumScan.blockOf(copy.toString, e)
      reader.lines(file, offset, length).exists(_.startsWith(key + " "))
    }.get finally reader.close()
    // flip the first byte of the block's CRC32 trailer
    val shard = copy.resolve(block.shard)
    val bytes = Files.readAllBytes(shard)
    val at = (block.offset + block.length - 8).toInt
    bytes(at) = (bytes(at) ^ 0xff).toByte
    Files.write(shard, bytes)
    Seq(spark, SparkSpec.withExtensions).foreach { session =>
      val e = intercept[IllegalStateException](
        new CdxServer(session, copy.toString).exactUrl(key).collect())
      assert(e.getMessage.contains("gzip CRC/ISIZE mismatch"), e.getMessage)
    }
  }

  test("closest over a small selection compiles no class per target in either session") {
    val key = "com,example)/path?a=1&b=2"
    Seq(server, extServer).foreach { srv =>
      def closestTs(target: String): Seq[String] =
        srv.closest(key, target, 1).select("ts").as[String].collect().toSeq
      closestTs("20150301000000") // the first call compiles the shared shapes
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(closestTs("20150101000000") == Seq("20150215012345"))
      assert(closestTs("20160101000000") == Seq("20150402083000"))
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
    }
  }

  test("under GraftExtensions a selection over BlocksPerPartition blocks keeps the V2 scan") {
    val dir = "/tmp/graft_test/server_zipnum_ext_wide"
    val hot = "com,extwide)/hot"
    val n = ZipNumScan.BlocksPerPartition + 6
    val lines = (0 until n).map(i => f"""$hot 2020${i / 28 + 1}%02d${i % 28 + 1}%02d000000 {"n":$i}""")
    ZipNum.write(lines.reverse.toDF("line"), dir, shards = 1, linesPerBlock = 1)
    val exact = new CdxServer(SparkSpec.withExtensions, dir).exactUrl(hot)
    assert(exact.select("ts").as[String].collect().toSeq == lines.map(_.split(" ")(1)))
    assert(collect(exact.queryExecution.executedPlan) { case b: BatchScanExec => b }.size == 1)
  }

  test("a prefix spanning more than one scan partition keeps a parallel scan") {
    // 200 lines under one host at one line per block: the host selects
    // 200 blocks and the hot URL's 120 captures over 64, so both lookups
    // keep their multi-partition scan (and its range exchange)
    val dir = "/tmp/graft_test/server_zipnum_wide"
    val hot = "com,wide)/hot"
    val lines =
      (0 until 120).map(i => f"""$hot 2020${i / 28 + 1}%02d${i % 28 + 1}%02d000000 {"n":$i}""") ++
        (0 until 80).map(i => f"""com,wide)/p$i%03d 20210101000000 {"n":$i}""") ++
        Seq("com,before)/ 20200101000000 {}", "com,wide,sub)/ 20200101000000 {}",
          "org,after)/ 20200101000000 {}")
    ZipNum.write(new scala.util.Random(7).shuffle(lines).toDF("line"), dir, shards = 2, linesPerBlock = 1)
    val srv = new CdxServer(spark, dir)
    def key(l: String): (String, String) = { val f = l.split(" ", 3); (f(0), f(1)) }
    // the blocks are read by at least 2 tasks, not coalesced into one
    def scanTasks(df: DataFrame): Int = jobsAndWidth(df)._2
    assert(srv.numPages("com,wide)", 1) > 2 * ZipNumScan.BlocksPerPartition)
    val prefix = srv.prefix("com,wide)")
    assert(scanTasks(prefix) >= 2)
    assert(prefix.select("urlkey", "ts").as[(String, String)].collect().toSeq ==
      lines.filter(_.startsWith("com,wide)")).map(key).sorted)
    val exact = srv.exactUrl(hot)
    assert(scanTasks(exact) >= 2)
    assert(exact.select("urlkey", "ts").as[(String, String)].collect().toSeq ==
      lines.filter(_.startsWith(hot + " ")).map(key).sortBy(_._2))
  }

  test("pageByKey: cursor walk reproduces the prefix listing exactly") {
    val pre = "com,example)/"
    val full = server.prefix(pre).select("urlkey", "ts").as[(String, String)].collect().toSeq
    assert(full.size >= 3, s"fixture too small: $full")
    // walk with page size 2 from the zero cursor
    var cursor = ("", "")
    var walked = Seq.empty[(String, String)]
    var pages = 0
    var doneFlag = false
    while (!doneFlag) {
      val page = server.pageByKey(pre, cursor._1, cursor._2, 2)
        .select("urlkey", "ts").as[(String, String)].collect().toSeq
      walked ++= page
      pages += 1
      if (page.size < 2) doneFlag = true else cursor = page.last
      assert(pages < 100, "cursor walk must terminate")
    }
    assert(walked == full, "stitched cursor pages == full listing, in order")
    // resuming from the last row yields nothing
    assert(server.pageByKey(pre, full.last._1, full.last._2, 2).count() == 0)
    // mid-key cursor: captures of the same urlkey after ts come back
    val (k0, t0) = full.head
    val after = server.pageByKey(pre, k0, t0, 10)
      .select("urlkey", "ts").as[(String, String)].collect().toSeq
    assert(after == full.tail.take(10))
  }

  test("pageByKey 3-field cursor is lossless across duplicate (urlkey, ts) runs") {
    // real CDX data: several captures of one URL inside the same second,
    // distinguishable only by payload — a page boundary lands mid-run
    val dir = "/tmp/graft_test/server_zipnum_dups"
    val lines = Seq(
      """com,dup)/a 20150101000000 {"digest":"d1"}""",
      """com,dup)/a 20150101000000 {"digest":"d2"}""",
      """com,dup)/a 20150101000000 {"digest":"d3"}""",
      """com,dup)/b 20150101000000 {"digest":"d4"}""").toDF("line")
    ZipNum.write(lines, dir, shards = 1, linesPerBlock = 2)
    val server = new CdxServer(spark, dir)
    val full = server.prefix("com,dup)").select("urlkey", "ts", "json")
      .as[(String, String, String)].collect().toSeq
    assert(full.size == 4)
    // page size 1 with the full cursor: every row returns exactly once
    var cursor = ("", "", "")
    var walked = Seq.empty[(String, String, String)]
    var guard = 0
    var doneFlag = false
    while (!doneFlag) {
      val page = server.pageByKey("com,dup)", cursor._1, cursor._2, 1, Some(cursor._3))
        .as[(String, String, String)].collect().toSeq
      if (page.isEmpty) doneFlag = true
      else { walked ++= page; cursor = page.last }
      guard += 1; assert(guard < 20)
    }
    assert(walked == full, "3-field cursor walk must be lossless")
    // the 2-field cursor skips the rest of the duplicate run (the
    // documented pywb-parity behavior)
    val twoField = server.pageByKey("com,dup)", full.head._1, full.head._2, 10)
      .as[(String, String, String)].collect().toSeq
    assert(twoField == full.filter(r =>
      r._1 > full.head._1 || (r._1 == full.head._1 && r._2 > full.head._2)))
    assert(twoField.size == 1, "only /b survives a 2-field cursor at d1")
  }

  test("pageByKey cursor distinguishes NULL json from empty json (sort-consistent)") {
    // a (urlkey, ts) run holding BOTH a 2-field line (json scans as NULL)
    // and a 3-field line with an empty json: the sort keeps them distinct
    // (NULLS FIRST), so the cursor comparison must too — the old
    // coalesce-to-'' encoding skipped the empty-string row when a page
    // boundary fell right after the NULL row (round-3 advice)
    val dir = "/tmp/graft_test/server_zipnum_nulljson"
    val lines = Seq(
      "com,nulljson)/a 20150101000000",                     // json NULL
      "com,nulljson)/a 20150101000000 ",                    // json ""
      """com,nulljson)/a 20150101000000 {"digest":"d1"}""") // json non-empty
      .toDF("line")
    ZipNum.write(lines, dir, shards = 1, linesPerBlock = 1)
    val server = new CdxServer(spark, dir)
    val full = server.prefix("com,nulljson)").select("urlkey", "ts", "json")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(full.map(_._3) == Seq(null, "", """{"digest":"d1"}"""),
      s"fixture must produce the NULL/''/json run in sort order: $full")
    // page size 1 from the very start: every row returns exactly once
    var walked = Seq.empty[(String, String, String)]
    var cursor: Option[(String, String, String)] = None
    var guard = 0
    var doneFlag = false
    while (!doneFlag) {
      val page = (cursor match {
        case None => server.pageByKey("com,nulljson)", "", "", 1, Some(""))
        case Some(c) => server.pageByKey("com,nulljson)", c._1, c._2, 1, Some(c._3))
      }).collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      if (page.isEmpty) doneFlag = true
      else { walked ++= page; cursor = Some(page.last) }
      guard += 1; assert(guard < 10)
    }
    assert(walked == full,
      s"NULL-json and empty-json rows must both survive page boundaries: $walked vs $full")
  }

  test("aclApply: longest SURT prefix wins; unmatched keys take the default") {
    val caps = Seq(
      "org,example,urgent)/order/1?x=2", // path allow INSIDE host block
      "org,example,urgent)/other",       // host block
      "org,example,urgent)",             // host block (exact boundary)
      "org,example,open)/a"              // no rule → default
    ).toDF("urlkey")
    val rules = Seq(
      "org,example,urgent)" -> "block",
      "org,example,urgent)/order/1" -> "allow")
    val out = CdxServer.aclApply(caps, col("urlkey"), rules, default = "allow")
      .select("urlkey", "rule_prefix", "access")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("org,example,urgent)/order/1?x=2", "org,example,urgent)/order/1", "allow"),
      ("org,example,urgent)/other", "org,example,urgent)", "block"),
      ("org,example,urgent)", "org,example,urgent)", "block"),
      ("org,example,open)/a", null, "allow")), out.toString)
  }

  test("parseRulesYaml: golden parse of a realistic rules file (every supported shape)") {
    val yaml =
      """# pywb-style rules file — three fuzzy_lookup shapes + both
      |# url_prefix list forms
      |rules:
      |  # bare-scalar regex, single quoted prefix
      |  - url_prefix: 'com,shop)'
      |    fuzzy_lookup: '&sid=\d+'
      |  # match/replace map; extra keys (find_all) are ignored
      |  - url_prefix: "com,video)"
      |    fuzzy_lookup:
      |      match: '\?t=\d+&v=([a-z]+)'
      |      replace: '?v=$1'
      |      find_all: true
      |  # inline prefix list expands to one rule per prefix
      |  - url_prefix: ['com,cdn,a)', 'com,cdn,b)']
      |    fuzzy_lookup: '\?cb=\d+'
      |  # block prefix list + the soft-404 catch-all
      |  - url_prefix:
      |      - 'org,blog)'
      |      - ''
      |    fuzzy_lookup: '\?.*'
      |""".stripMargin
    val rules = CdxServer.parseRulesYaml(yaml)
    assert(rules == Seq(
      CdxServer.FuzzyRule("com,shop)", "&sid=\\d+", ""),
      CdxServer.FuzzyRule("com,video)", "\\?t=\\d+&v=([a-z]+)", "?v=$1"),
      CdxServer.FuzzyRule("com,cdn,a)", "\\?cb=\\d+", ""),
      CdxServer.FuzzyRule("com,cdn,b)", "\\?cb=\\d+", ""),
      CdxServer.FuzzyRule("org,blog)", "\\?.*", ""),
      CdxServer.FuzzyRule("", "\\?.*", "")), rules.toString)
    // file round trip through the Hadoop-FS loader
    val p = "/tmp/graft_test/rules.yaml"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/tmp/graft_test"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), yaml)
    assert(CdxServer.loadRulesYaml(spark, p) == rules)
    // a '#' INSIDE a quoted pattern is content, not a comment — a naive
    // whitespace-# cut would truncate the regex into one that fails only
    // at query time; a trailing comment outside the quotes still strips
    val hashRules = CdxServer.parseRulesYaml(
      """rules:
        |  - url_prefix: 'com,x)'   # trailing comment strips
        |    fuzzy_lookup: '\?q=[0-9 #]+'  # comment after quoted value
        |""".stripMargin)
    assert(hashRules == Seq(CdxServer.FuzzyRule("com,x)", "\\?q=[0-9 #]+", "")),
      hashRules.toString)

    // malformed inputs fail loudly, not with a silent empty table
    intercept[IllegalArgumentException] { CdxServer.parseRulesYaml("no rules here") }
    intercept[IllegalArgumentException] {
      CdxServer.parseRulesYaml("rules:\n  - url_prefix: 'x)'\n")
    }
    // the driver fixture is the PARSED form of its yaml document
    assert(graft.queries.Formats.fuzzyRulesFixture == Seq(
      CdxServer.FuzzyRule("org,example,urgent)", "&b=\\d+", ""),
      CdxServer.FuzzyRule("org,example,high)", "\\?a=(\\d+)&b=(\\d+)", "?id=$2"),
      CdxServer.FuzzyRule("org,example,", "\\?.*", "")),
      graft.queries.Formats.fuzzyRulesFixture.toString)
  }

  test("fuzzyMatchRules: strip / rewrite / soft-404 shapes, longest-prefix precedence, hit suppression") {
    val fdir = "/tmp/graft_test/server_fuzzy_rules"
    val lines = Seq(
      // session-id cache buster family (strip rule)
      """com,shop)/item?id=5&sid=123 20200101000000 {"url":"http://shop.com/item?id=5&sid=123"}""",
      """com,shop)/item?id=5&sid=999 20200102000000 {"url":"http://shop.com/item?id=5&sid=999"}""",
      """com,shop)/item?id=6&sid=1 20200103000000 {"url":"http://shop.com/item?id=6&sid=1"}""",
      // timestamped video URL family (rewrite rule keeps only v)
      """com,video)/watch?t=30&v=abc 20200104000000 {"url":"http://video.com/watch?v=abc&t=30"}""",
      """com,video)/watch?t=99&v=abc 20200105000000 {"url":"http://video.com/watch?v=abc&t=99"}""",
      """com,video)/watch?t=1&v=zzz 20200106000000 {"url":"http://video.com/watch?v=zzz&t=1"}""",
      // bare + tracking-param captures (catch-all drop-query)
      """org,blog)/post/1 20200107000000 {"url":"http://blog.org/post/1"}""",
      """org,blog)/post/1?utm=x 20200108000000 {"url":"http://blog.org/post/1?utm=x"}""",
      // path-suffixed session-id capture: only reachable by a rule whose
      // pattern can rewrite PATH text (the alternation-soundness arm)
      """org,blog)/post/1;sess7 20200109000000 {"url":"http://blog.org/post/1;sess7"}""")
    graft.formats.ZipNum.write(lines.toDF("line"), fdir, shards = 1, linesPerBlock = 2)
    val srv = new CdxServer(spark, fdir)
    val rules = Seq(
      CdxServer.FuzzyRule("com,shop)", "&sid=\\d+", ""),
      CdxServer.FuzzyRule("com,video)", "\\?t=\\d+&v=([a-z]+)", "?v=$1"),
      CdxServer.FuzzyRule("", "\\?.*", ""))

    def keys(df: org.apache.spark.sql.DataFrame): Seq[(String, Boolean)] =
      df.collect().map(r => (r.getAs[String]("urlkey"), r.getAs[Boolean]("is_fuzzy"))).toSeq

    // strip: the sid buster drops, both id=5 captures match, id=6 does
    // NOT (the catch-all would have matched all three — longest prefix
    // must pick the strip rule)
    val strip = keys(srv.fuzzyMatchRules("com,shop)/item?id=5&sid=777", rules))
    assert(strip == Seq(
      ("com,shop)/item?id=5&sid=123", true),
      ("com,shop)/item?id=5&sid=999", true)), strip.toString)

    // rewrite: a capture-group canonical form — both v=abc captures
    // match a missing t, v=zzz does not
    val rew = keys(srv.fuzzyMatchRules("com,video)/watch?t=55&v=abc", rules))
    assert(rew == Seq(
      ("com,video)/watch?t=30&v=abc", true),
      ("com,video)/watch?t=99&v=abc", true)), rew.toString)

    // soft-404 catch-all: drop the whole query — bare AND utm captures
    val soft = keys(srv.fuzzyMatchRules("org,blog)/post/1?utm=zz", rules))
    assert(soft == Seq(
      ("org,blog)/post/1", true),
      ("org,blog)/post/1?utm=x", true)), soft.toString)

    // an exact hit suppresses the fuzzy leg entirely
    val hit = keys(srv.fuzzyMatchRules("com,shop)/item?id=5&sid=123", rules))
    assert(hit == Seq(("com,shop)/item?id=5&sid=123", false)), hit.toString)

    // fuzzyCanonicalCol: keys outside every rule pass through unchanged
    val untouched = Seq("zz,none)/x?q=1").toDF("urlkey")
      .select(CdxServer.fuzzyCanonicalCol(col("urlkey"),
        rules.filter(_.prefix.nonEmpty)).as("c"))
      .as[String].collect().head
    assert(untouched == "zz,none)/x?q=1")

    // a PATH-rewriting rule degrades the probe to the rule's own prefix
    // (base pruning would miss keys under the rewritten-away path) and
    // still resolves correctly: /amp/post/1 canonicalizes onto the bare
    // post/1 capture — which base-prefix pruning on 'org,blog)/amp/…'
    // could never have found
    val ampRules = Seq(CdxServer.FuzzyRule("org,blog)", "/amp/", "/"))
    val amp = keys(srv.fuzzyMatchRules("org,blog)/amp/post/1", ampRules))
    assert(amp == Seq(("org,blog)/post/1", true)), amp.toString)

    // a '?'-LEADING pattern with TOP-LEVEL ALTERNATION is NOT
    // query-only: the other branch rewrites path text, so a query whose
    // own path is already canonical must still probe the rule's prefix
    // — base pruning would miss the path-variant capture the same rule
    // rewrites INTO the canonical form. utm=x strips via the first
    // branch; the planted bare capture resolves; and with a ';sess'
    // branch a path-suffixed capture must also be found.
    val altRule = Seq(CdxServer.FuzzyRule("org,blog)", "\\?.*|;sess\\d+", ""))
    assert(!CdxServer.queryOnlyPattern(altRule.head),
      "top-level alternation must disqualify query-only pruning")
    assert(CdxServer.queryOnlyPattern(
      CdxServer.FuzzyRule("", "\\?a=(\\d+|\\w+)", "")),
      "alternation INSIDE a group after the anchor stays query-only")
    // the query's own path is ALREADY canonical (no ';sess'), yet the
    // ';sess7' capture — whose key the same rule rewrites INTO the
    // canonical form from a different path — must be found: exactly the
    // capture base-prefix pruning would have missed under the naive
    // "starts with \?" test
    val altHit = keys(srv.fuzzyMatchRules("org,blog)/post/1?utm=zz", altRule))
    assert(altHit == Seq(
      ("org,blog)/post/1", true),
      ("org,blog)/post/1;sess7", true),
      ("org,blog)/post/1?utm=x", true)), altHit.toString)
  }
}
