package graft

import java.nio.file.{Files, Paths}

import graft.formats.{Warc, ZipNum}
import graft.sources.ZipNumSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan, StringStartsWith}

/** DataSource V2 registration, results, and pushdown pruning. */
class SourceV2Spec extends SparkSpec {
  import spark.implicits._

  private val warcFile = "/tmp/graft_test/v2.warc.gz"
  private val zipDir = "/tmp/graft_test/v2_zipnum"

  /** a scan built by hand over the test session's Hadoop conf, as
    * `ZipNumScanBuilder.build` would build it */
  private def zipNumScan(
      dir: String, range: ZipNumSource.KeyRange,
      required: org.apache.spark.sql.types.StructType,
      limit: Option[Int] = None, limitFromEnd: Boolean = false) =
    new graft.sources.ZipNumScan(dir, range, required, limit, limitFromEnd,
      new graft.formats.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))

  private def setup(): Unit = {
    Files.createDirectories(Paths.get(warcFile).getParent)
    Warc.writeFixture(warcFile, Warc.fixtureRecords)
    Pipeline.warcToZipNum(spark, warcFile, zipDir, shards = 2, linesPerBlock = 2)
  }

  test("format(warc) returns the fixture records in file order, offsets tiling the file") {
    setup()
    val rows = spark.read.format("warc").load(warcFile)
      .select("record_type", "url", "ts", "digest", "status", "payload", "offset", "length")
      .collect().toSeq
    val expected = Warc.fixtureRecords
    assert(rows.size == expected.size)
    rows.zip(expected).foreach { case (r, e) =>
      assert(r.getString(0) == e.recordType && r.getString(1) == e.url, r.toString)
      assert(r.getString(2) == e.isoDate.replaceAll("[^0-9]", ""), r.toString)
      assert(r.getString(3) == e.digest, r.toString)
      // only HTTP responses carry a status; the other types have none
      assert(r.get(4) == (if (e.recordType == "response") e.status else null), r.toString)
      assert(r.getAs[Array[Byte]](5).sameElements(e.payload), r.toString)
    }
    val extents = rows.map(r => (r.getLong(6), r.getLong(7)))
    assert(extents.head._1 == 0L)
    extents.sliding(2).foreach { case Seq((o, l), (next, _)) => assert(o + l == next) }
    assert(extents.last._1 + extents.last._2 == Files.size(Paths.get(warcFile)))
  }

  test("format(warc) on a glob matching nothing fails at planning, naming the glob") {
    val glob = "/tmp/graft_test/no_such_crawl/*.warc.gz"
    def failsNaming(path: String, df: () => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](df().count())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains(path)), msgs.mkString(" | "))
    }
    failsNaming(glob, () => spark.read.format("warc").load(glob))
    failsNaming(glob, () => Warc.scan(spark, glob))
    // a directory holding no archive is the same mistake
    val empty = "/tmp/graft_test/v2_empty_warcdir"
    Files.createDirectories(Paths.get(empty))
    Files.write(Paths.get(empty, "README"), "not an archive".getBytes("UTF-8"))
    failsNaming(empty, () => spark.read.format("warc").load(empty))
  }

  test("format(warc) directory loads include .warc.zst archives") {
    val dir = "/tmp/graft_test/v2_zstdir"
    Files.createDirectories(Paths.get(dir))
    Files.list(Paths.get(dir)).forEach(p => Files.delete(p))
    Warc.writeFixture(s"$dir/a.warc.gz", Warc.fixtureRecords.take(3))
    Warc.writeFixtureZst(s"$dir/b.warc.zst", Warc.fixtureRecords.drop(3))
    Files.write(Paths.get(dir, "README"), "sidecar".getBytes("UTF-8"))
    val byFile = spark.read.format("warc").load(dir).groupBy("filename").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile == Map("a.warc.gz" -> 3L, "b.warc.zst" -> (Warc.fixtureRecords.size - 3L)),
      byFile.toString)
  }

  private def warcScan(glob: String): graft.sources.WarcScan =
    new graft.sources.WarcTable(glob)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
      .build().asInstanceOf[graft.sources.WarcScan]

  test("warc planner: a 1-file glob splits into ranges, 64 small files pack to ~cores") {
    import graft.sources.{WarcFilePartition, WarcPartition}
    val dir = Files.createTempDirectory("warc_plan")
    val big = dir.resolve("big.warc.gz").toString
    Warc.writeFixture(big, Warc.splitFixtureRecords)
    val len = Files.size(Paths.get(big))
    // one file is the whole input, so it is larger than its share
    val planned = warcScan(big).planInputPartitions().map(_.asInstanceOf[WarcPartition]).toSeq
    assert(planned.forall(_.ranges.size == 1), planned.toString)
    val ranges = planned.flatMap(_.ranges)
    assert(ranges.size > 1 && ranges.size <= spark.sparkContext.defaultParallelism, ranges.toString)
    assert(ranges.head.start == 0L && ranges.last.end == len)
    ranges.sliding(2).foreach { case Seq(a, b) => assert(a.end == b.start) }

    val small = Files.createDirectories(dir.resolve("small"))
    val names = (0 until 64).map(i => small.resolve(f"f$i%02d.warc.gz").toString)
    names.foreach(Warc.writeFixture(_, Warc.fixtureRecords))
    val parts = warcScan(s"$small/*.warc.gz").planInputPartitions()
      .map(_.asInstanceOf[WarcPartition]).toSeq
    assert(parts.size <= spark.sparkContext.defaultParallelism + 1, parts.map(_.ranges.size))
    val files = parts.flatMap(_.ranges)
    assert(files.forall(p => p.start == 0L && p.end == p.fileLength && p.fileLength ==
      Files.size(Paths.get(new java.net.URI(p.file)))), files.toString)
    assert(files.map(p => new java.net.URI(p.file).getPath) == names)
    assert(spark.read.format("warc").load(s"$small/*.warc.gz").count() ==
      64L * Warc.fixtureRecords.size)
  }

  test("warc planner: a big file keeps its ranges, small ones pack; rows in file order") {
    import graft.sources.{WarcFilePartition, WarcPartition}
    val dir = Files.createTempDirectory("warc_mixed")
    val smallA = (0 until 6).map(i => dir.resolve(f"a$i%02d.warc.gz").toString)
    val big = dir.resolve("m_big.warc.gz").toString
    val smallZ = (0 until 6).map(i => dir.resolve(f"z$i%02d.warc.gz").toString)
    (smallA ++ smallZ).foreach(Warc.writeFixture(_, Warc.fixtureRecords))
    Warc.writeFixture(big, Warc.splitFixtureRecords)
    val all = smallA ++ Seq(big) ++ smallZ
    val lens = all.map(f => Files.size(Paths.get(f)))
    val target = (lens.sum + spark.sparkContext.defaultParallelism - 1) /
      spark.sparkContext.defaultParallelism
    assert(lens(6) > target, s"fixture sizes $lens vs target $target")

    val parts = warcScan(s"$dir/*.warc.gz").planInputPartitions()
      .map(_.asInstanceOf[WarcPartition].ranges).toSeq
    def path(p: WarcFilePartition) = new java.net.URI(p.file).getPath
    val bigRanges = parts.filter(_.exists(p => path(p) == big))
    // the big file: exactly the byte ranges a 1-file plan of that target cuts
    assert(bigRanges.forall(_.size == 1))
    assert(bigRanges.flatten.map(p => (p.start, p.end)) ==
      (0L until lens(6) by target).map(s => (s, math.min(s + target, lens(6)))))
    // the small files: whole, packed, never beside a range of the big file
    val packed = parts.filterNot(bigRanges.contains)
    assert(packed.exists(_.size > 1) && packed.size < smallA.size + smallZ.size, packed.toString)
    assert(packed.forall(_.forall(p => p.start == 0L && p.end == p.fileLength)))
    assert(packed.forall(b => b.map(_.fileLength).sum <= target))
    assert(parts.flatten.map(path).distinct == all)

    val rows = spark.read.format("warc").load(s"$dir/*.warc.gz").collect().toSeq
    val perFile = all.flatMap(f => spark.read.format("warc").load(f).collect().toSeq)
    assert(rows.size == perFile.size)
    assert(rows == perFile)
  }

  test("format(warc) reports membersRead/corruptSpans/compressedBytesRead; every byte is accounted for") {
    import graft.formats.Gzip
    import graft.sources.{WarcFilePartition, WarcPartition, WarcScan}
    import org.apache.spark.sql.connector.read.InputPartition
    val dir = Files.createTempDirectory("warc_metrics")
    val file = dir.resolve("corrupt.warc.gz").toString
    Warc.writeFixture(file, Warc.splitFixtureRecords)
    val bytes = Files.readAllBytes(Paths.get(file))
    for (i <- 5000 until 5040) bytes(i) = 0x5a // 40 flipped bytes inside one member
    Files.write(Paths.get(file), bytes)
    val len = bytes.length.toLong
    // reference: the member decoder walking the whole file by itself
    val ref = Gzip.entries(new java.io.ByteArrayInputStream(bytes), permissive = true).toSeq
    val members = ref.count(_.isInstanceOf[Gzip.Member]).toLong
    val spans = ref.count(_.isInstanceOf[Gzip.CorruptSpan]).toLong
    assert(members == 299L && spans == 1L, s"members=$members spans=$spans")
    assert(ref.map(_.compressedLength).sum == len)

    val scan = warcScan(file)
    assert(scan.supportedCustomMetrics().map(_.name()).toSeq ==
      Seq("membersRead", "corruptSpans", "compressedBytesRead"))
    def metricsOf(parts: Seq[InputPartition]): Map[String, Long] = {
      val factory = scan.createReaderFactory()
      parts.map { p =>
        val r = factory.createReader(p)
        try { while (r.next()) r.get(); r.currentMetricsValues().map(t => t.name() -> t.value()).toMap }
        finally r.close()
      }.reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
    }
    val expected = Map("membersRead" -> members, "corruptSpans" -> spans, "compressedBytesRead" -> len)
    val split = scan.planInputPartitions().toSeq
    assert(split.size > 1)
    assert(metricsOf(Seq(WarcPartition(Seq(WarcFilePartition(file, 0L, len, len))))) == expected,
      "whole-file plan")
    assert(metricsOf(split) == expected, "split plan")

    // the same sums through Spark's SQL metrics of an executed scan
    val df = spark.read.format("warc").load(file)
    df.collect()
    val exec = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(exec.scan.isInstanceOf[WarcScan])
    assert(expected.forall { case (k, v) => exec.metrics(k).value == v },
      exec.metrics.map { case (k, m) => k -> m.value }.toString)
  }

  test("format(warc) prunes columns: the CDX derive reads 9 of 10, never the payload") {
    setup()
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def readSchemaOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .map(_.readSchema().fieldNames.toSeq).head
    assert(readSchemaOf(Pipeline.cdxLines(spark, warcFile)) ==
      Warc.schema.fieldNames.filterNot(_ == "payload").toSeq)
    assert(readSchemaOf(Warc.scan(spark, warcFile).select("url", "payload")) == Seq("url", "payload"))
    // pruned rows carry exactly the pruned columns, values unchanged
    val pruned = Warc.scan(spark, warcFile).select("url", "offset").collect().toSeq
    val full = Warc.scan(spark, warcFile).collect().map(r => (r.getString(1), r.getLong(6))).toSeq
    assert(pruned.map(r => (r.getString(0), r.getLong(1))) == full)
  }

  test("WARC scan RDDs carry the glob as their name (stage attribution)") {
    setup()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = graft.sources.NameWarcScanRdds(
      spark.read.format("warc").load(warcFile).queryExecution.executedPlan)
    assert(plan.collect { case b: BatchScanExec => b.inputRDD.name } == Seq(warcFile))
    // end to end: a session built with GraftExtensions (shares this
    // SparkContext) shows the glob in the scan stage's RDD names
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => names.add(r.name))
    }
    val ext = SparkSpec.withExtensions
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(ext ne spark)
      assert(Warc.scan(ext, warcFile).count() == Warc.fixtureRecords.size)
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (!names.contains(warcFile) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(names.contains(warcFile), names.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("format(warc) loads a directory of WARCs, not just file globs") {
    val dir = "/tmp/graft_test/v2_warcdir"
    Files.createDirectories(Paths.get(dir))
    Warc.writeFixture(s"$dir/a.warc.gz", Warc.fixtureRecords.take(3))
    Warc.writeFixture(s"$dir/b.warc.gz", Warc.fixtureRecords.drop(3))
    val n = spark.read.format("warc").load(dir).count()
    assert(n == Warc.fixtureRecords.size,
      s"directory load must expand to its files, got $n rows")
  }

  test("custom Hadoop conf survives from the session into the planned scan") {
    // the scan must carry the conf captured at newScanBuilder time, not
    // re-resolve getActiveSession (a thread-local AQE planning threads may
    // not carry, whose old fallback silently dropped custom FS settings)
    setup()
    val key = "graft.test.conf.key"
    val longKey = "graft.test.conf.long"
    val utfKey = "graft.test.conf.utf8"
    val long = "x" * 70000 // past DataOutput.writeUTF's 65,535-byte limit
    val utf = "caf\u00e9 \u6f22\u5b57 " + new String(Character.toChars(0x1F600))
    val session = spark.sparkContext.hadoopConfiguration
    session.set(key, "survives")
    session.set(longKey, long)
    session.set(utfKey, utf)
    try {
      val table = new graft.sources.ZipNumTable(zipDir, null)
      val scan = table
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()))
        .build().asInstanceOf[graft.sources.ZipNumScan]
      assert(scan.hadoopConf.get(key) == "survives")
      // the wire form tasks receive: a Java-serialization round trip
      // keeps exactly the session's key/value set
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(new graft.formats.SerializableHadoopConf(session))
      out.close()
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[graft.formats.SerializableHadoopConf].value
      def entries(c: org.apache.hadoop.conf.Configuration): Map[String, String] = {
        val m = Map.newBuilder[String, String]
        c.iterator().forEachRemaining(e => m += e.getKey -> e.getValue)
        m.result()
      }
      val sent = entries(session)
      assert(sent.size > 100, "the session conf carries Hadoop's defaults")
      assert(entries(back) == sent)
      assert(back.get(key) == "survives" && back.get(longKey) == long && back.get(utfKey) == utf)
    } finally Seq(key, longKey, utfKey).foreach(session.unset)
  }

  test("format(wacz) parses the CDXJ index and agrees with a JDK ZipFile read") {
    val dir = "/tmp/graft_test/v2_wacz"
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
    Files.createDirectories(p)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("shard", StringType), StructField("urlkey", StringType),
      StructField("url", StringType), StructField("ts", StringType),
      StructField("status", IntegerType), StructField("mime", StringType),
      StructField("payload", BinaryType)))
    val rows = Seq(
      Row("w-0.warc.gz", "com,a)/x", "http://a.com/x", "20200101000000",
        Integer.valueOf(200), "text/html", "pa".getBytes("UTF-8")),
      Row("w-0.warc.gz", "com,b)/y", "http://b.com/y", "20200102000000",
        Integer.valueOf(404), "text/plain", "pb".getBytes("UTF-8")),
      Row("w-1.warc.gz", "org,c)/z", "http://c.org/z", "20200103000000",
        Integer.valueOf(200), "text/html", "pc".getBytes("UTF-8")))
    graft.formats.Wacz.write(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema), dir)

    val v2 = spark.read.format("wacz").load(s"$dir/*.wacz")
      .select("wacz", "urlkey", "ts", "url", "status", "mime",
        "digest", "length", "offset", "filename")
      .orderBy("wacz", "urlkey").collect()
    assert(v2.length == 3)
    assert(v2.head.getString(0) == "w-0.wacz")
    assert(v2.head.getString(1) == "com,a)/x")
    assert(v2.head.getString(3) == "http://a.com/x")
    assert(v2.head.getInt(4) == 200)
    assert(v2.head.getString(9) == "w-0.warc.gz")
    assert(v2.head.getLong(7) > 0 && v2.head.getLong(8) == 0L) // first member
    // agrees with an independent read: the JDK's ZipFile over each
    // archive's indexes/index.cdx, lines split at their first two spaces
    val viaJdk = Seq("w-0.wacz", "w-1.wacz").flatMap { w =>
      val zf = new java.util.zip.ZipFile(s"$dir/$w")
      try new String(zf.getInputStream(zf.getEntry("indexes/index.cdx")).readAllBytes(), "UTF-8")
        .split("\n").filter(_.nonEmpty).map(l => w +: l.split(" ", 3).take(2).toSeq)
      finally zf.close()
    }.sortBy(_.mkString(" "))
    assert(viaJdk == v2.map(r => Seq(r.getString(0), r.getString(1), r.getString(2))).toSeq)

    // column pruning + filter pushdown surface in the scan description
    val pruned = spark.read.format("wacz").load(s"$dir/*.wacz")
      .where(col("urlkey").startsWith("com,"))
      .select("urlkey")
    assert(pruned.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("com,a)/x", "com,b)/y"))
    val desc = pruned.queryExecution.executedPlan.toString
    assert(desc.contains("WaczScan"), desc)

    // a directory path (no glob) expands to its .wacz files
    assert(spark.read.format("wacz").load(dir).count() == 3)
  }

  test("format(zipnum) returns the full sorted cluster") {
    setup()
    val rows = spark.read.format("zipnum").load(zipDir)
      .orderBy("blockseq", "urlkey", "ts")
      .select("urlkey", "ts").as[(String, String)].collect().toSeq
    val viaLib = ZipNum.readLines(spark, zipDir).as[String].collect().toSeq
      .map { l => val p = l.split(" ", 3); (p(0), p(1)) }
    assert(rows.sorted == viaLib.sorted)
  }

  test("zipnum pushdown: prefix filter prunes blocks and keeps results exact") {
    setup()
    val df = spark.read.format("zipnum").load(zipDir)
      .filter(col("urlkey").startsWith("com,example)/path"))
    val got = df.select("urlkey", "ts").as[(String, String)].collect().toSeq.sorted
    assert(got.size == 2 && got.forall(_._1 == "com,example)/path?a=1&b=2"))
    // the scan's description carries the pruned key range
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ZipNumScan") || df.collect().nonEmpty)
  }

  test("KeyRange block selection logic (unit)") {
    import ZipNumSource._
    // is the first of two blocks, starting at `firstKey` and `nextKey`,
    // selected for the range? (the last block of an idx has no next key)
    def first(r: KeyRange, firstKey: String, nextKey: Option[String]): Boolean =
      ZipNum.selectBlocks(
        (firstKey +: nextKey.toSeq).zipWithIndex.map { case (k, i) =>
          ZipNum.IdxEntry(k, "", 0, 0, i) },
        r.lo, r.hi).exists(_.seq == 0)
    val r = rangeFromFilters(Seq(StringStartsWith("urlkey", "com,b)")))
    assert(r.lo.contains("com,b)") && r.hi.exists(_.startsWith("com,b)")))
    // blocks: [com,a ..., com,c), [com,c ..., end)
    assert(first(r, "com,a)/x 2015", Some("com,c)/y 2015")) === true)
    assert(first(r, "com,c)/y 2015", None) === false)
    val range = rangeFromFilters(Seq(
      GreaterThanOrEqual("urlkey", "com,b)"), LessThan("urlkey", "com,c)")))
    assert(first(range, "com,a)/x 2015", Some("com,b)/x 2015")) === true) // boundary kept
    assert(first(range, "com,c)/x 2015", None) === false)
    assert(first(range, "com,b)/x 2015", Some("com,b)/z 2015")) === true)
  }

  test("limit pushdown caps planned blocks; stats shrink with pruning") {
    setup()
    val idx = ZipNum.readIdx(spark, zipDir)
    assert(idx.size > 1)
    // limit=1 plans exactly 1 block (each block holds >= 1 line)
    def blocksOf(scan: graft.sources.ZipNumScan): Int =
      scan.planInputPartitions()
        .map(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks.length).sum
    val limited = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema, Some(1))
    assert(blocksOf(limited) == 1)
    // Spark still applies its own Limit: end-to-end row count is exact
    assert(spark.read.format("zipnum").load(zipDir).limit(1).count() == 1)
    // reported sizeInBytes shrinks when pruning shrinks the block set
    def sizeOf(scan: graft.sources.ZipNumScan): Long =
      scan.estimateStatistics().sizeInBytes().getAsLong
    val full = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema)
    val pruned = zipNumScan(
      zipDir,
      ZipNumSource.rangeFromFilters(Seq(StringStartsWith("urlkey", "org,iana"))),
      ZipNumSource.schema)
    assert(sizeOf(full) == idx.map(_.length).sum * 4)
    assert(sizeOf(pruned) < sizeOf(full) && sizeOf(pruned) > 0)
  }

  test("runtime filtering prunes to the join keys' blocks; results unchanged") {
    setup()
    val full = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema)
    def blocksOf(s: graft.sources.ZipNumScan): Int =
      s.planInputPartitions()
        .map(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks.length).sum
    val allBlocks = blocksOf(full)
    assert(allBlocks > 1)
    // a known key prunes; the scan still returns its rows
    val key = spark.read.format("zipnum").load(zipDir)
      .select("urlkey").orderBy("urlkey").as[String].first()
    val filtered = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema)
    filtered.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("urlkey", Array(key))))
    assert(blocksOf(filtered) < allBlocks && blocksOf(filtered) > 0,
      s"runtime-pruned ${blocksOf(filtered)} of $allBlocks")
    // a below-all key prunes to zero blocks; an above-all key keeps only
    // the conservative straddling final block (its upper key is unknown
    // from the idx — same rule as every other pruning path)
    val below = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema)
    below.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("urlkey", Array("aa,absent)/x"))))
    assert(blocksOf(below) == 0)
    val above = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema)
    above.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("urlkey", Array("zz,absent)/x"))))
    assert(blocksOf(above) <= 1)
    // end-to-end: broadcast join on urlkey returns the right rows with
    // runtime filtering available (whether or not the planner fires it)
    val dim = Seq(key).toDF("urlkey")
    val joined = spark.read.format("zipnum").load(zipDir)
      .join(broadcast(dim), "urlkey")
    assert(joined.count() >= 1)
    assert(joined.select("urlkey").distinct().as[String].collect().toSeq == Seq(key))
  }

  test("top-n pushdown: ORDER BY urlkey LIMIT n reads n blocks from the right end") {
    setup()
    val df = spark.read.format("zipnum").load(zipDir)
    val total = df.count()
    val ascAll = df.orderBy("urlkey").select("urlkey").as[String].collect()
    // asc: first blocks; desc: last blocks — both must match a full sort
    val asc = df.orderBy("urlkey").limit(2).select("urlkey").as[String].collect()
    assert(asc.toSeq == ascAll.take(2).toSeq)
    val desc = df.orderBy(col("urlkey").desc).limit(2).select("urlkey").as[String].collect()
    assert(desc.toSeq == ascAll.reverse.take(2).toSeq)
    assert(total > 2)
    // the scan itself: desc cap takes the LAST blocks
    val idx = ZipNum.readIdx(spark, zipDir)
    val descScan = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema,
      Some(1), limitFromEnd = true)
    val planned = descScan.planInputPartitions()
      .flatMap(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks)
    assert(planned.map(_._4).toSeq == Seq(idx.last.seq), "desc limit must keep the tail block")
  }

  test("SQL DDL surface: CREATE TABLE ... USING zipnum, pushdown included") {
    setup()
    spark.sql("DROP TABLE IF EXISTS cdx_idx")
    spark.sql(s"CREATE TABLE cdx_idx USING zipnum OPTIONS (path '$zipDir')")
    try {
      val total = spark.sql("SELECT count(*) FROM cdx_idx").head().getLong(0)
      assert(total == spark.read.format("zipnum").load(zipDir).count())
      // predicate + projection through pure SQL, riding the same pruning
      val rows = spark.sql(
        "SELECT urlkey, ts FROM cdx_idx WHERE urlkey LIKE 'com,example)/path%' ORDER BY ts")
        .as[(String, String)].collect()
      assert(rows.nonEmpty && rows.forall(_._1.startsWith("com,example)/path")))
      val plan = spark.sql(
        "SELECT urlkey FROM cdx_idx WHERE urlkey >= 'org'").queryExecution.executedPlan.toString
      assert(plan.contains("ZipNumScan"), s"expected the V2 scan in:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS cdx_idx")
  }

  test("scan reports blocksRead/compressedBytesRead task metrics") {
    setup()
    val scan = zipNumScan(
      zipDir, ZipNumSource.KeyRange(None, None), ZipNumSource.schema)
    assert(scan.supportedCustomMetrics().map(_.name()).toSeq
      == Seq("blocksRead", "compressedBytesRead"))
    val idx = ZipNum.readIdx(spark, zipDir)
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    var blocks = 0L
    var bytes = 0L
    parts.foreach { p =>
      val r = factory.createReader(p)
      while (r.next()) r.get()
      val m = r.currentMetricsValues().map(t => t.name() -> t.value()).toMap
      blocks += m("blocksRead"); bytes += m("compressedBytesRead")
      r.close()
    }
    assert(blocks == idx.size, s"read $blocks of ${idx.size} blocks")
    assert(bytes == idx.map(_.length).sum)
  }

  test("a driver-local read counts exactly the blocks it selected") {
    setup()
    val conf = spark.sparkContext.hadoopConfiguration
    val fields = ZipNumSource.schema.fieldNames
    val (lo, hi) = ZipNum.prefixBounds("com,example)/")
    Seq(
      ZipNum.scanIdxRange(zipDir, conf, lo, hi) -> Some("com,example)/"),
      ZipNum.readIdx(zipDir, conf) -> None).foreach { case (selected, prefix) =>
      // the reader ZipNumScan.readRows drains on the calling thread
      val reader = new graft.sources.ZipNumPartitionReader(
        selected.map(graft.sources.ZipNumScan.blockOf(zipDir, _)).toArray, fields,
        new graft.formats.SerializableHadoopConf(conf), prefix)
      var rows = 0
      val m = try {
        while (reader.next()) { reader.get(); rows += 1 }
        reader.currentMetricsValues().map(t => t.name() -> t.value()).toMap
      } finally reader.close()
      assert(selected.size > 1 && rows > 0)
      assert(m("blocksRead") == selected.size, s"$prefix: read ${m("blocksRead")} of ${selected.size} blocks")
      assert(m("compressedBytesRead") == selected.map(_.length).sum, s"$prefix")
      assert(rows == graft.sources.ZipNumScan.readRows(zipDir, selected, fields, conf, prefix).size)
    }
  }

  test("zipnum pushdown plans fewer partitions than a full scan") {
    setup()
    val idx = ZipNum.readIdx(spark, zipDir)
    val all = zipNumScan(zipDir,
      ZipNumSource.KeyRange(None, None), ZipNumSource.schema).planInputPartitions()
    val pruned = zipNumScan(zipDir,
      ZipNumSource.rangeFromFilters(Seq(StringStartsWith("urlkey", "org,iana"))),
      ZipNumSource.schema).planInputPartitions()
    val allBlocks = all.map(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks.length).sum
    val prunedBlocks = pruned.map(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks.length).sum
    assert(allBlocks == idx.size)
    assert(prunedBlocks < allBlocks && prunedBlocks > 0,
      s"pruned $prunedBlocks of $allBlocks")
  }

  test("pageByKey's cursor bound prunes blocks below the cursor") {
    // dense cluster: 40 keys x 2-line blocks -> 20 blocks, so a cursor in
    // the back half demonstrably drops whole blocks from the plan
    val dir = "/tmp/graft_test/v2_zipnum_cursor"
    val lines = (0 until 40).map(i =>
      f"com,page)/p$i%03d 2015021500${i % 10} " + s"""{"status":"200"}""")
    ZipNum.write(lines.toDF("line"), dir, shards = 2, linesPerBlock = 2)
    val server = new CdxServer(spark, dir)
    val full = server.prefix("com,").select("urlkey", "ts")
      .as[(String, String)].collect().toSeq
    assert(full.size == 40)
    val (k, t) = full(29) // cursor at row 30 of 40
    val page = server.pageByKey("com,", k, t, 20)
    // result = exactly the rows after the cursor
    assert(page.select("urlkey", "ts").as[(String, String)].collect().toSeq
      == full.filter(r => r._1 > k || (r._1 == k && r._2 > t)))
    // plan level: the >= cursor bound reached the scan as a KeyRange that
    // drops blocks entirely below the cursor
    val range = ZipNumSource.rangeFromFilters(Seq(
      StringStartsWith("urlkey", "com,"), GreaterThanOrEqual("urlkey", k)))
    val allBlocks = zipNumScan(dir,
      ZipNumSource.KeyRange(None, None), ZipNumSource.schema)
      .planInputPartitions()
      .map(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks.length).sum
    val cursorBlocks = zipNumScan(dir, range, ZipNumSource.schema)
      .planInputPartitions()
      .map(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks.length).sum
    assert(allBlocks == 20)
    assert(cursorBlocks < allBlocks / 2 + 2 && cursorBlocks > 0,
      s"cursor kept $cursorBlocks of $allBlocks blocks")
  }

  test("ts bounds under an exact urlkey prune a hot URL's blocks") {
    // hot URL: 40 captures of ONE key across 20 two-line blocks — the
    // cdx-server exact-url + from=/to= shape must not read all of them
    val dir = "/tmp/graft_test/v2_zipnum_hot"
    val hot = "com,hot)/page"
    val lines = (0 until 40).map(i =>
      f"$hot 201502${i + 10}%02d000000 " + s"""{"status":"200"}""") ++
      Seq("com,zz)/tail 20150101000000 " + s"""{"status":"200"}""")
    ZipNum.write(lines.sorted.toDF("line"), dir, shards = 2, linesPerBlock = 2)
    val df = spark.read.format("zipnum").load(dir)
      .filter(col("urlkey") === hot &&
        col("ts") >= "20150220000000" && col("ts") <= "20150223000000")
    val got = df.select("ts").as[String].collect().toSeq.sorted
    assert(got == (20 to 23).map(d => s"201502${d}000000"))
    // plan level: the combined (urlkey, ts) KeyRange keeps a handful of
    // blocks, not the hot URL's full 20
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
    val range = ZipNumSource.rangeFromFilters(Seq(
      EqualTo("urlkey", hot),
      GreaterThanOrEqual("ts", "20150220000000"), LessThanOrEqual("ts", "20150223000000")))
    def blocksOf(r: ZipNumSource.KeyRange) =
      zipNumScan(dir, r, ZipNumSource.schema)
        .planInputPartitions()
        .map(_.asInstanceOf[graft.sources.ZipNumBlockPartition].blocks.length).sum
    val urlOnly = blocksOf(ZipNumSource.rangeFromFilters(Seq(EqualTo("urlkey", hot))))
    val tsBounded = blocksOf(range)
    assert(urlOnly >= 20, s"exact-url alone spans the hot URL: $urlOnly blocks")
    assert(tsBounded <= 4 && tsBounded > 0,
      s"ts bounds kept $tsBounded of $urlOnly hot-URL blocks")
    // ts filters WITHOUT an exact urlkey must not tighten anything
    val tsOnly = ZipNumSource.rangeFromFilters(Seq(
      GreaterThanOrEqual("ts", "20150220000000")))
    assert(tsOnly.lo.isEmpty && tsOnly.hi.isEmpty)
  }

  test("wacz urlkey pushdown ranges compare in UTF-8 byte order, not UTF-16") {
    // U+FF61 (EF BD A1) < U+1F600 (F0 9F 98 80) in UTF-8 bytes; Java's
    // UTF-16 compareTo inverts them (0xFF61 > surrogate 0xD83D). The
    // skip happens BELOW the scan, so a UTF-16 comparison would drop
    // rows Spark's residual re-check can never restore.
    val hi = "com/😀x" // supplementary: 😀
    val lo = "com/｡a"       // BMP ｡ — UTF-16-greater, UTF-8-smaller
    val gt = graft.sources.WaczSource.urlkeyPredicate(
      Seq(org.apache.spark.sql.sources.GreaterThan("urlkey", lo)))
    assert(gt(hi), "byte order must keep the supplementary key above the BMP bound")
    val le = graft.sources.WaczSource.urlkeyPredicate(
      Seq(org.apache.spark.sql.sources.LessThanOrEqual("urlkey", hi)))
    assert(le(lo), "byte order must keep the BMP key below the supplementary bound")
    // and the Spark-side truth agrees: UTF8String comparison
    import org.apache.spark.unsafe.types.UTF8String
    assert(UTF8String.fromString(hi).compareTo(UTF8String.fromString(lo)) > 0)
    assert(lo.compareTo(hi) > 0, "Java order really is inverted for this pair")
  }
}
