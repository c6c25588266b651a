package graft

import java.nio.file.{Files, Paths}

import graft.formats.{Warc, ZipNum}
import org.apache.spark.ListenerBusDrain

/** End-to-end: WARC fixture -> CDXJ -> ZipNum cluster -> indexed lookup.
  * This is the reference's whole workflow in one plan (SURVEY §3.3). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val warcFile = "/tmp/graft_test/pipeline.warc.gz"
  private val outDir = "/tmp/graft_test/pipeline_zipnum"

  private def run(): Unit = {
    Files.createDirectories(Paths.get(warcFile).getParent)
    Warc.writeFixture(warcFile, Warc.fixtureRecords)
    Pipeline.warcToZipNum(spark, warcFile, outDir, shards = 2, linesPerBlock = 2)
  }

  test("pipeline keeps exactly the response/revisit records, globally sorted") {
    run()
    val lines = ZipNum.readLines(spark, outDir).as[String].collect().toSeq
    val expectedCount = Warc.fixtureRecords.count(r =>
      (r.recordType == "response" || r.recordType == "revisit") && r.url != null)
    assert(lines.size == expectedCount)
    assert(lines == lines.sorted, "cluster must be globally sorted")
    // SURT keys: fixture URLs canonicalize as expected
    val keys = lines.map(_.split(" ", 2).head)
    assert(keys.contains("com,example)/path?a=1&b=2"), keys.mkString(", "))
    assert(keys.contains("org,iana,sub)/x"))
  }

  /** A multi-file glob (small and larger archives) and its gzip member
    * count, taken by the member decoder walking each file by itself. */
  private def multiFileGlob(): (String, Long) = {
    import graft.formats.Gzip
    val dir = Files.createTempDirectory("pipeline_multi")
    val files = (0 until 6).map { i =>
      val f = dir.resolve(f"part-$i%02d.warc.gz").toString
      Warc.writeFixture(f, if (i % 3 == 0) Warc.splitFixtureRecords else Warc.fixtureRecords)
      f
    }
    val members = files.map { f =>
      Gzip.entries(new java.io.ByteArrayInputStream(Files.readAllBytes(Paths.get(f))),
        permissive = true).count(_.isInstanceOf[Gzip.Member]).toLong
    }.sum
    (s"$dir/*.warc.gz", members)
  }

  test("warcToZipNum decodes each archive member once and frees the cached lines") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val (glob, members) = multiFileGlob()
    val out = Files.createTempDirectory("pipeline_once").resolve("zipnum").toString
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val decoded = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.foreach { a =>
          if (a.name.contains("archive members decoded"))
            a.update.foreach(v => decoded.addAndGet(v.toString.toLong))
        }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { Pipeline.warcToZipNum(spark, glob, out, shards = 3, linesPerBlock = 20); ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    assert(members > 300L)
    assert(decoded.get == members, s"decoded ${decoded.get} members, the archives hold $members")
    assert(spark.sharedState.cacheManager.isEmpty)
    val lines = ZipNum.readLines(spark, out).as[String].collect().toSeq
    assert(lines == Pipeline.cdxLines(spark, glob).as[String].collect().toSeq.sorted)
  }

  test("warcToZipNum failing in the write stage leaves no cluster.idx, no cached lines") {
    val (glob, _) = multiFileGlob()
    val local = Files.createTempDirectory("pipeline_fail").resolve("zipnum").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.failfs.impl", classOf[FailingCreateFs].getName)
    hconf.setBoolean("fs.failfs.impl.disable.cache", true)
    spark.catalog.clearCache()
    try {
      // shard 1's temp create throws once shard 0 is published
      FailingCreateFs.arm(".cdx-00001.gz.attempt-", new java.io.File(local, "cdx-00000.gz"))
      val e = intercept[Exception](
        Pipeline.warcToZipNum(spark, glob, "failfs://" + local, shards = 2, linesPerBlock = 20))
      assert(FailingCreateFs.fired, "the injected failure never fired")
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => Option(c.getMessage).exists(_.contains("injected create failure"))))
    } finally {
      FailingCreateFs.disarm()
      hconf.unset("fs.failfs.impl")
      hconf.unset("fs.failfs.impl.disable.cache")
    }
    assert(!new java.io.File(local, "cluster.idx").exists())
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("observed metrics report the mrjob-counter analogs in one pass") {
    Files.createDirectories(Paths.get(warcFile).getParent)
    Warc.writeFixture(warcFile, Warc.fixtureRecords)
    val (df, obs) = Pipeline.cdxLinesObserved(spark, warcFile)
    val n = df.count() // one action materializes data AND counters
    val metrics = obs.get
    assert(metrics("n_lines") == n)
    assert(metrics("total_line_bytes").asInstanceOf[Long] > 0)
    val exactKeys = df.selectExpr("element_at(split(line, ' ', 3), 1)")
      .distinct().count()
    val approx = metrics("approx_urlkeys").asInstanceOf[Long]
    assert(math.abs(approx - exactKeys) <= math.max(1, exactKeys / 10))
  }

  test("prefix lookup through cluster.idx answers the index's core query") {
    run()
    val hits = ZipNum.readLines(spark, outDir, prefix = Some("com,example)/path"))
      .as[String].collect().toSeq
    // 1 response + 1 revisit for that URL in the fixture
    assert(hits.size == 2, hits.mkString("\n"))
    assert(hits.forall(_.startsWith("com,example)/path?a=1&b=2")))
    // timestamps come back in capture order (ts is the secondary sort key)
    val tss = hits.map(_.split(" ", 3)(1))
    assert(tss == tss.sorted)
  }

  test("CDXJ payload carries digest/offset/length for replay") {
    run()
    val line = ZipNum.readLines(spark, outDir, prefix = Some("com,example)/path"))
      .as[String].collect().head
    val json = line.split(" ", 3)(2)
    assert(json.contains("\"digest\""))
    assert(json.contains("\"offset\""))
    assert(json.contains("\"filename\":\"pipeline.warc.gz\""))
  }

  test("curateCorpus: planted near-dups collapse to one keeper, singletons survive") {
    import org.apache.spark.sql.functions._
    val docs = Tables.t(spark, sfDir, "documents")
    val plants = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 400000L)
      .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
    val corpus = docs.unionByName(plants)
    val kept = Pipeline.curateCorpus(corpus, exactThreshold = true).cache()
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    // one keeper per cluster, and the quality gate dropped some docs but
    // nowhere near all of them
    assert(kept.count() == kept.select("cluster_id").distinct().count())
    assert(kept.count() > corpus.count() / 2)
    assert(kept.count() < corpus.count())
    // near-dup collapse: of the planted (orig, copy) pairs where BOTH
    // passed the quality gate, at most a small LSH-miss fraction survive
    // as two separate keepers
    val plantIds = plants.select("doc_id").as[Long].collect().toSeq
    val bothKept = plantIds.count(p => keptIds.contains(p) && keptIds.contains(p - 400000L))
    assert(plantIds.nonEmpty)
    assert(bothKept <= math.max(1, plantIds.size / 5),
      s"$bothKept of ${plantIds.size} planted pairs escaped collapse")
    // clusters of size >= 2 exist (the collapses), and every keeper's
    // cluster_size is consistent with one-keeper-per-cluster
    assert(kept.filter(col("cluster_size") >= 2).count() > 0)
    kept.unpersist()
  }

  test("pipeline_warc_corpus: every stage bites exactly once; packing is consistent (golden)") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("pipeline_warc_corpus")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // surviving capture set: /menu earliest capture + /long.
    //  - the 2016-02-01 duplicate /menu capture fell to earliest-dedup
    //  - /latin ("résumé") and /bare ("no title here") extract to EMPTY
    //    main content (sub-40-char blocks) and fall to the token gate,
    //    as does /tiny (1 word)
    //  - /gone (404) and /raw (text/plain) fell to the extract filter
    val urls = rows.map(r => (r._1, r._2)).toSet
    assert(urls == Set(
      ("http://www.example.com/menu", "20160102100000"),
      ("http://www.example.com/long", "20160108160000")), s"got $urls")
    // golden token counts from the pinned MAIN-CONTENT texts — the menu
    // page's nav bar ("Home Menu Contact"), heading, and footer
    // contribute ZERO of these (the boilerplate-removal demonstration):
    // "Tea and biscuits are served with a pot of cream for the price of
    // a song in the morning." -> 19; "The quick brown fox jumps over the
    // lazy dog and runs to the river every morning for a drink of water"
    // -> 21 (the <title> subtree "Guide" no longer leaks into body text)
    val byUrl = rows.map(r => r._1 -> r).toMap
    assert(byUrl("http://www.example.com/menu")._3 == 19L)
    assert(byUrl("http://www.example.com/long")._3 == 21L)
    // packing invariants: cum_before is the prefix sum of n_tok in doc_id
    // (hash) order, and seq_id = cum_before DIV 8
    assert(rows.forall(r => r._5 == r._4 / 8))
    val cums = rows.map(r => (r._4, r._3)).sortBy(_._1)
    assert(cums.head._1 == 0L)
    assert(cums(1)._1 == cums.head._2, "second doc's offset must equal the first doc's tokens")
    // determinism: a second run returns the identical frame
    val again = SparkEntry.queries("pipeline_warc_corpus")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == again.toSeq)
  }
}
