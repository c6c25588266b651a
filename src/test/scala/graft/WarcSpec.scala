package graft

import java.nio.file.{Files, Paths}

import graft.formats.Warc

/** Golden-file test for the WARC member scan (FIXTURES §A.1): the fixture
  * written by our writer parses back to the exact CDX-level rows the
  * reference's job-1 mapper would extract. */
class WarcSpec extends SparkSpec {

  private val file = "/tmp/graft_test/fixture.warc.gz"

  test("fixture round-trip extracts the expected record fields") {
    Files.createDirectories(Paths.get(file).getParent)
    Warc.writeFixture(file, Warc.fixtureRecords)
    val rows = Warc.scan(spark, file)
      .select("record_type", "url", "ts", "status", "mime")
      .orderBy("offset")
      .collect().toSeq.map(_.toSeq)

    // non-HTTP records surface their WARC Content-Type as mime (the pywb
    // indexing convention); the fixture writer stamps octet-stream on
    // records whose FixtureRecord.mime is null
    val expected: Seq[Seq[Any]] = Seq(
      Seq("warcinfo", null, "20150215010000", null, "application/octet-stream"),
      Seq("response", "http://www.example.com/path?b=2&a=1", "20150215012345", 200, "text/html; charset=UTF-8"),
      Seq("request", "http://www.example.com/path?b=2&a=1", "20150215012345", null, "application/octet-stream"),
      Seq("response", "http://example.com/other", "20150301120000", 404, "text/plain"),
      Seq("revisit", "http://www.example.com/path?b=2&a=1", "20150402083000", null, "application/octet-stream"),
      Seq("response", "https://sub.iana.org/x", "20150510235959", 301, "text/html"),
      Seq("metadata", "http://example.com/other", "20150301120001", null, "application/octet-stream"),
      Seq("response", "http://example.com/other", "20150601000000", 200, "text/plain"))
    rows.zip(expected).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want, s"record $i")
    }
    assert(rows.size == expected.size)
  }

  test("offsets/lengths tile the file and payload bytes survive") {
    Files.createDirectories(Paths.get(file).getParent)
    Warc.writeFixture(file, Warc.fixtureRecords)
    val rows = Warc.scan(spark, file)
      .select("offset", "length", "payload", "record_type")
      .orderBy("offset").collect()
    val fileLen = Files.size(Paths.get(file))
    assert(rows.head.getLong(0) == 0)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(0) == a.getLong(0) + a.getLong(1))
      case _ =>
    }
    val last = rows.last
    assert(last.getLong(0) + last.getLong(1) == fileLen)
    // response payload is the HTTP body only (headers stripped)
    val alpha = rows(1).getAs[Array[Byte]]("payload")
    assert(new String(alpha, "UTF-8") == "<html>alpha</html>")
  }

  test("non-ASCII header values don't shift the payload (byte-exact split)") {
    val utf8File = "/tmp/graft_test/utf8.warc.gz"
    Files.createDirectories(Paths.get(utf8File).getParent)
    // URL with multi-byte UTF-8: char count < byte count in the headers
    val rec = Warc.FixtureRecord(
      "response", "http://example.org/café/日本語",
      "2015-02-15T01:23:45Z", "A" * 32, 200, "text/html",
      "payload-bytes-ok".getBytes("UTF-8"))
    Warc.writeFixture(utf8File, Seq(rec))
    val row = Warc.scan(spark, utf8File)
      .select("url", "status", "payload").collect().head
    assert(row.getString(0) == "http://example.org/café/日本語")
    assert(row.getInt(1) == 200)
    assert(new String(row.getAs[Array[Byte]]("payload"), "UTF-8") == "payload-bytes-ok")
  }

  test("legacy ARC fixture parses through the same scan (golden fields)") {
    val arcFile = "/tmp/graft_test/fixture.arc.gz"
    Files.createDirectories(Paths.get(arcFile).getParent)
    Warc.writeArcFixture(arcFile, Warc.arcFixtureRecords)
    val rows = Warc.scan(spark, arcFile)
      .select("record_type", "url", "ts", "status", "mime")
      .orderBy("offset")
      .collect().toSeq.map(_.toSeq)
    val expected: Seq[Seq[Any]] = Seq(
      Seq("arcinfo", "filedesc://fixture.arc.gz", "20150215010000", null, "text/plain"),
      Seq("response", "http://www.example.com/path?b=2&a=1", "20040215012345", 200, "text/html"),
      Seq("response", "http://example.com/other", "20040301120000", 404, "text/plain"),
      Seq("response", "http://sub.iana.org/x", "20040510235959", 301, "text/html"))
    rows.zip(expected).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want, s"arc record $i")
    }
    assert(rows.size == expected.size)
  }

  test("junk members surface as 'unknown', never as fabricated responses") {
    import graft.formats.Gzip
    val junkFile = "/tmp/graft_test/junk.gz"
    Files.createDirectories(Paths.get(junkFile).getParent)
    val out = Files.newOutputStream(Paths.get(junkFile))
    try {
      // a non-archive member whose first line still splits into 3+ tokens
      Gzip.writeMember(out, "hello world 20150215012345 x 42\n".getBytes("UTF-8"))
      Gzip.writeMember(out, "random bytes, not a record".getBytes("UTF-8"))
    } finally out.close()
    val types = Warc.scan(spark, junkFile).select("record_type", "url")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(types.forall(_._1 == "unknown"), types.toString)
    assert(types.forall(_._2 == null))
    // the pipeline's response/revisit filter therefore drops them all
    assert(Pipeline.cdxLines(spark, junkFile).count() == 0)
  }

  test("WET conversion records extract to the exact text corpus (golden)") {
    import org.apache.spark.sql.functions.col
    val wetFile = "/tmp/graft_test/fixture.warc.wet.gz"
    Files.createDirectories(Paths.get(wetFile).getParent)
    Warc.writeFixture(wetFile, Warc.wetFixtureRecords)
    val docs = Pipeline.wetToCorpus(spark, wetFile)
      .orderBy("url")
      .select("url", "text", "n_tokens")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(docs.toSeq == Seq(
      ("http://example.com/other", "beta not here text", 4),
      ("http://sub.iana.org/x", "gamma möved päge text", 6), // ö/ä split tokens
      ("http://www.example.com/path?b=2&a=1", "alpha page extracted text body", 5)))
    // the warcinfo record never reaches the corpus
    assert(Warc.scan(spark, wetFile)
      .filter(col("record_type") === "warcinfo").count() == 1)
  }

  test("WAT metadata records parse to the exact link edges (golden)") {
    val watFile = "/tmp/graft_test/fixture.warc.wat.gz"
    Files.createDirectories(Paths.get(watFile).getParent)
    Warc.writeFixture(watFile, Warc.watFixtureRecords)
    val edges = Pipeline.watLinks(spark, watFile)
      .orderBy("src", "dst")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3)))
    assert(edges.toSeq == Seq(
      ("http://example.com/other", "Beta", "http://www.example.com/path?b=2&a=1"),
      ("http://www.example.com/path?b=2&a=1", "Alpha Page", "http://example.com/other"),
      ("http://www.example.com/path?b=2&a=1", "Alpha Page", "http://sub.iana.org/x")))
  }

  test("watLinks envelope parses are schema-pruned, never per-path rescans") {
    val watFile = "/tmp/graft_test/fixture.warc.wat.gz"
    Files.createDirectories(Paths.get(watFile).getParent)
    Warc.writeFixture(watFile, Warc.watFixtureRecords)
    val df = Pipeline.watLinks(spark, watFile)
    // exactly ONE JsonToStructs survives optimization (the naive
    // all-in-one-select form let CollapseProject duplicate the full
    // multi-KB parse per consumer — 3x per record), and no per-path
    // get_json_object (a full rescan per extracted field) appears
    val parses = df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect {
        case _: org.apache.spark.sql.catalyst.expressions.JsonToStructs => "from_json"
        case _: org.apache.spark.sql.catalyst.expressions.GetJsonObject => "get_json_object"
      })
    }.flatten
    assert(!parses.contains("get_json_object"), parses.toString)
    assert(parses.count(_ == "from_json") == 1, parses.toString)
  }

  test("damaged archive: corrupt bytes cost one 'corrupt' row, not the scan") {
    import graft.formats.Gzip
    import org.apache.spark.sql.functions.col
    val dmgFile = "/tmp/graft_test/damaged.warc.gz"
    Files.createDirectories(Paths.get(dmgFile).getParent)
    Warc.writeFixture(file, Warc.fixtureRecords) // clean-count reference
    // fixture bytes with garbage spliced between two member boundaries
    Warc.writeFixture(dmgFile, Warc.fixtureRecords)
    val clean = Files.readAllBytes(Paths.get(dmgFile))
    val firstLen = Gzip.members(new java.io.ByteArrayInputStream(clean)).next()
      .compressedLength.toInt
    val garbage = "BITROT***".getBytes("UTF-8")
    val damaged = new java.io.ByteArrayOutputStream()
    damaged.write(clean, 0, firstLen)
    damaged.write(garbage)
    damaged.write(clean, firstLen, clean.length - firstLen)
    Files.write(Paths.get(dmgFile), damaged.toByteArray)
    // library scan and the V2 source agree: every real record survives,
    // the garbage is one auditable row
    for (df <- Seq(
        Warc.scan(spark, dmgFile),
        spark.read.format("warc").load(dmgFile))) {
      val byType = df.groupBy("record_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType("corrupt") == 1, byType.toString)
      val cleanCounts = Warc.scan(spark, file).groupBy("record_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType.filterNot(_._1 == "corrupt") == cleanCounts)
      val c = df.filter(col("record_type") === "corrupt")
        .select("offset", "length").head()
      assert(c.getLong(0) == firstLen && c.getLong(1) == garbage.length)
    }
    // strict mode still refuses the damaged file
    intercept[org.apache.spark.SparkException](
      Warc.scan(spark, dmgFile, permissive = false).count())
  }

  test("ARC offsets tile the file and HTTP payload survives") {
    val arcFile = "/tmp/graft_test/fixture.arc.gz"
    Files.createDirectories(Paths.get(arcFile).getParent)
    Warc.writeArcFixture(arcFile, Warc.arcFixtureRecords)
    val rows = Warc.scan(spark, arcFile)
      .select("offset", "length", "payload").orderBy("offset").collect()
    assert(rows.head.getLong(0) == 0)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(0) == a.getLong(0) + a.getLong(1))
      case _ =>
    }
    assert(rows.last.getLong(0) + rows.last.getLong(1) == Files.size(Paths.get(arcFile)))
    assert(new String(rows(1).getAs[Array[Byte]]("payload"), "UTF-8") == "<html>arc-alpha</html>")
  }

  test("digest carries through for revisit join (dedup-by-digest semantics)") {
    Files.createDirectories(Paths.get(file).getParent)
    Warc.writeFixture(file, Warc.fixtureRecords)
    val df = Warc.scan(spark, file)
    val revisit = df.filter(df("record_type") === "revisit").select("digest", "url")
    val originals = df.filter(df("record_type") === "response").select("digest", "ts")
    val resolved = revisit.join(originals, "digest").collect()
    assert(resolved.length == 1) // the revisit's digest matches exactly one response
  }

  // ---- valid-but-odd shapes from warcio's permissive set (round-10
  // hardening): chunked-transfer payloads, WARC-Truncated records, and
  // multi-record gzip members written by non-conforming tools.

  /** render a raw WARC response record; contentLength overrides the header
    * (for truncation shapes), default = the block's true length */
  private def rawRec(typ: String, url: String, block: Array[Byte],
      contentLength: Long = -1L): Array[Byte] = {
    val cl = if (contentLength >= 0) contentLength else block.length.toLong
    val hdr = Seq("WARC/1.0", s"WARC-Type: $typ") ++
      Option(url).map(u => s"WARC-Target-URI: $u") ++
      Seq("WARC-Date: 2015-02-15T01:23:45Z",
        "Content-Type: application/http; msgtype=response",
        s"Content-Length: $cl")
    hdr.mkString("", "\r\n", "\r\n\r\n").getBytes("UTF-8") ++ block
  }

  private def writeRawMembers(path: String, members: Seq[Array[Byte]]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val out = Files.newOutputStream(Paths.get(path))
    try members.foreach(m => graft.formats.Gzip.writeMember(out, m))
    finally out.close()
  }

  test("chunked transfer encoding is decoded; malformed framing keeps raw bytes") {
    val f = "/tmp/graft_test/chunked.warc.gz"
    val goodHttp = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" +
      "6\r\nchunk1\r\n7;ext=1\r\n-chunk2\r\n0\r\n\r\n").getBytes("UTF-8")
    // labeled chunked but the framing is junk — payload must survive raw
    val badHttp = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\n\r\nZZnot-chunked-at-all").getBytes("UTF-8")
    writeRawMembers(f, Seq(
      rawRec("response", "http://example.com/a", goodHttp),
      rawRec("response", "http://example.com/b", badHttp)))
    val rows = Warc.scan(spark, f).select("url", "status", "mime", "payload")
      .orderBy("offset").collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(1) == 200 && rows(0).getString(2) == "text/html")
    assert(new String(rows(0).getAs[Array[Byte]]("payload"), "UTF-8") == "chunk1-chunk2")
    assert(new String(rows(1).getAs[Array[Byte]]("payload"), "UTF-8") == "ZZnot-chunked-at-all")
  }

  test("WARC-Truncated / short members still parse (no phantom records)") {
    val f = "/tmp/graft_test/truncated.warc.gz"
    // a crawler hit its size cap: HTTP claims 1000 bytes, the record was
    // cut after 9, and the WARC Content-Length (honest about the cut)
    // plus WARC-Truncated: length mark it — pywb still indexes the row
    val cutHttp = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      "Content-Length: 1000\r\n\r\npartial-b").getBytes("UTF-8")
    val truncated =
      ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: http://example.com/cut\r\n" +
        "WARC-Date: 2015-02-15T01:23:45Z\r\n" +
        "WARC-Truncated: length\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${cutHttp.length}\r\n\r\n").getBytes("UTF-8") ++ cutHttp
    // a DISHONEST Content-Length (writer crashed mid-payload: header says
    // more bytes than the member holds) must yield ONE row carrying the
    // whole remainder, not a phantom successor or a lost record
    val overrun = rawRec("response", "http://example.com/crash",
      ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nhalf").getBytes("UTF-8"),
      contentLength = 99999L)
    writeRawMembers(f, Seq(truncated, overrun))
    val rows = Warc.scan(spark, f).select("url", "status", "mime", "payload")
      .orderBy("offset").collect()
    assert(rows.length == 2, s"got ${rows.length} rows")
    assert(rows(0).getString(0) == "http://example.com/cut")
    assert(rows(0).getInt(1) == 200 && rows(0).getString(2) == "text/plain")
    assert(new String(rows(0).getAs[Array[Byte]]("payload"), "UTF-8") == "partial-b")
    assert(rows(1).getString(0) == "http://example.com/crash")
    assert(new String(rows(1).getAs[Array[Byte]]("payload"), "UTF-8") == "half")
  }

  test("multi-record gzip members yield one row per record (scan AND V2 source)") {
    val f = "/tmp/graft_test/multirec.warc.gz"
    def http(body: String) =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n$body").getBytes("UTF-8")
    // one gzip member holding THREE records, CRLF CRLF-terminated — the
    // wget/proxy shape warcio reads and a conforming writer never emits
    val member =
      rawRec("response", "http://example.com/1", http("one")) ++ "\r\n\r\n".getBytes("UTF-8") ++
      rawRec("response", "http://example.com/2", http("two")) ++ "\r\n\r\n".getBytes("UTF-8") ++
      rawRec("response", "http://example.com/3", http("three"))
    // plus a normal single-record member after it: the splitter must not
    // disturb member boundaries
    writeRawMembers(f, Seq(member, rawRec("response", "http://example.com/4", http("four"))))
    for (df <- Seq(Warc.scan(spark, f), spark.read.format("warc").load(f))) {
      val rows = df.select("url", "payload", "offset").orderBy("offset", "url").collect()
      assert(rows.map(_.getString(0)).toSeq ==
        (1 to 4).map(i => s"http://example.com/$i"), s"got ${rows.toSeq}")
      assert(rows.map(r => new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toSeq ==
        Seq("one", "two", "three", "four"))
      // the three sub-records share their member's (offset, length) — the
      // gzip member is the re-fetch unit; the fourth starts past it
      assert(rows.take(3).map(_.getLong(2)).distinct.length == 1)
      assert(rows(3).getLong(2) > rows(0).getLong(2))
    }
  }

  test("WarcSink: writer-computed sha1-b32 digest and one-gzip-member-per-record framing") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_test/warcsink"
    val recs = Seq(
      ("s/a.warc.gz", "http://example.com/x", "20240102030405", 200, "text/html", "alpha".getBytes("UTF-8")),
      ("s/a.warc.gz", "http://example.com/y", "20240102030406", 404, "text/plain", "bravo!".getBytes("UTF-8")),
      ("s/b.warc.gz", "http://example.com/z", "20240102030407", 200, "text/html", Array.emptyByteArray))
    graft.formats.WarcSink.write(
      spark.createDataFrame(recs).toDF("shard", "url", "ts", "status", "mime", "payload"), dir)
    val back = Warc.scan(spark, dir + "/*.warc.gz")
      .select("url", "ts", "status", "mime", "digest", "payload", "offset", "filename")
      .orderBy("url").collect()
    assert(back.map(_.getString(0)).toSeq ==
      Seq("http://example.com/x", "http://example.com/y", "http://example.com/z"))
    // ts14 <-> WARC-Date round trip and HTTP head fields
    assert(back.map(_.getString(1)).toSeq ==
      Seq("20240102030405", "20240102030406", "20240102030407"))
    assert(back.map(_.getInt(2)).toSeq == Seq(200, 404, 200))
    // the digest in the file is the writer's own sha1-b32 of the payload
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    back.foreach { r =>
      sha1.reset()
      val expect = graft.functions.SurtAlg.base32(sha1.digest(r.getAs[Array[Byte]]("payload")))
      assert(r.getString(4) == expect, s"digest mismatch for ${r.getString(0)}")
    }
    // payload bytes survive, including the empty payload
    assert(new String(back(0).getAs[Array[Byte]]("payload"), "UTF-8") == "alpha")
    assert(back(2).getAs[Array[Byte]]("payload").isEmpty)
    // one gzip member per record: a.warc.gz's two records have DISTINCT
    // member offsets (the seekable re-fetch contract)
    val aOffs = back.filter(_.getString(7) == "a.warc.gz").map(_.getLong(6))
    assert(aOffs.length == 2 && aOffs.distinct.length == 2)
  }

  test("fetchRecords: range reads return rows bit-identical to the full scan") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_test/warcfetch"
    new java.io.File(dir).mkdirs()
    val f1 = s"$dir/fetch-a.warc.gz"
    val f2 = s"$dir/fetch-b.warc.gz"
    Warc.writeFixture(f1, Warc.fixtureRecords)
    Warc.writeFixture(f2, Warc.wetFixtureRecords)
    val scanned = Warc.scan(spark, s"$dir/*.warc.gz")
    def key(r: org.apache.spark.sql.Row) = (r.getString(8), r.getLong(6))
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        Option(r.get(4)), r.getString(5), r.getLong(6), r.getLong(7), r.getString(8),
        Option(r.getAs[Array[Byte]]("payload")).map(_.toSeq).getOrElse(Nil))
    }.sortBy(t => (t._9, t._7))
    // full round trip: every pointer the scan emits fetches back the
    // exact same row, payload bytes included, across BOTH files — and
    // DUPLICATED pointers (a multi-record member's N rows share one
    // re-fetch unit, so real indexes emit repeats) must not multiply
    // the output
    val ptrs = scanned.select("filename", "offset", "length")
    val all = Warc.fetchRecords(spark, ptrs.unionAll(ptrs), dir).collect()
    assert(canon(all).toSeq == canon(scanned.collect()).toSeq)
    // subset: fetching two arbitrary pointers touches ONLY those records
    val pick = scanned.filter(col("url").isNotNull).orderBy("filename", "offset")
      .limit(2).select("filename", "offset", "length")
    val two = Warc.fetchRecords(spark, pick, dir).collect()
    assert(two.length == 2 &&
      two.map(key).toSet.subsetOf(scanned.collect().map(key).toSet))
    // an INT-typed index schema (hand-built frames) must work — the
    // request columns are cast, not assumed LongType
    val intPtrs = pick.select(col("filename"),
      col("offset").cast("int").as("offset"), col("length").cast("int").as("length"))
    assert(Warc.fetchRecords(spark, intPtrs, dir).count() == 2)
    // a STALE index — two pointers at one offset disagreeing on length —
    // must fail loudly, not parse the member twice / silently duplicate
    val stale = pick.limit(1).unionAll(
      pick.limit(1).select(col("filename"), col("offset"), (col("length") + 1).as("length")))
    val e = intercept[Exception] { Warc.fetchRecords(spark, stale, dir).collect() }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .filter(_ != null)).mkString(" | ")
    assert(rootMsg(e).contains("conflicting lengths"), rootMsg(e))
    // pointers that name no whole member fail loudly too: an offset
    // inside a member, and a length one byte short of the member's end
    val one = pick.limit(1)
    val wrong = Seq(
      "offset inside a member" ->
        one.select(col("filename"), (col("offset") + 1).as("offset"),
          (col("length") - 1).as("length")),
      "length one byte short" ->
        one.select(col("filename"), col("offset"), (col("length") - 1).as("length")))
    for ((what, ptr) <- wrong)
      withClue(what) { intercept[Exception](Warc.fetchRecords(spark, ptr, dir).collect()) }
  }

  test("zstd WARC: gz and zst scans agree record-for-record; skippable frame is silent") {
    val dir = java.nio.file.Files.createTempDirectory("warc_zst")
    val gz = dir.resolve("fix.warc.gz").toString
    val zst = dir.resolve("fix.warc.zst").toString
    Warc.writeFixture(gz, Warc.fixtureRecords)
    Warc.writeFixtureZst(zst, Warc.fixtureRecords)
    def canon(path: String) = Warc.scan(spark, path)
      .select("record_type", "url", "ts", "digest", "status", "mime")
      .orderBy("ts", "record_type")
      .collect().toSeq.map(_.toSeq)
    // the leading skippable (dictionary-slot) frame must cost nothing:
    // identical record surface through the SAME parser, offsets aside
    assert(canon(zst) == canon(gz))
    // offsets/lengths tile the zst file past the 8+25-byte skippable frame
    val spans = Warc.scan(spark, zst).select("offset", "length")
      .orderBy("offset").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(spans.head._1 == 8L + 25L, s"first frame must follow the skippable, got ${spans.head}")
    spans.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 + a._2 == b._1, s"frames must tile: $a then $b")
    case _ => }
    assert(spans.last._1 + spans.last._2 == new java.io.File(zst).length())

    // range replay: fetchRecords dispatches on the .zst extension and
    // returns rows bit-identical to the scan
    val scanned = Warc.scan(spark, zst)
    val fetched = Warc.fetchRecords(spark,
      scanned.select("filename", "offset", "length"), dir.toString).collect()
    def key(r: org.apache.spark.sql.Row) = (r.getString(8), r.getLong(6), r.getString(2))
    assert(fetched.map(key).sorted.toSeq == scanned.collect().map(key).sorted.toSeq)

    // corrupt frame: flip one byte inside the SECOND data frame — one
    // 'corrupt' row (offset + skipped span), every other record survives
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(zst))
    val secondOff = spans(1)._1.toInt
    bytes(secondOff + 9) = (bytes(secondOff + 9) ^ 0x5a).toByte
    val bad = dir.resolve("bad.warc.zst").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), bytes)
    val badRows = Warc.scan(spark, bad).select("record_type").collect().map(_.getString(0))
    assert(badRows.count(_ == "corrupt") >= 1, s"expected a corrupt row, got ${badRows.toSeq}")
    assert(badRows.count(_ != "corrupt") >= Warc.fixtureRecords.size - 2,
      s"one bad frame must not take neighbors down: ${badRows.toSeq}")
    // strict mode fails fast instead
    val e = intercept[Exception] {
      Warc.scan(spark, bad, permissive = false).collect()
    }
    def rootHas(t: Throwable, s: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(x => x.getMessage != null && x.getMessage.contains(s))
    assert(rootHas(e, "zstd") || rootHas(e, "frame"), e.getMessage)
  }

  test("zstd WARC dict mode: frames compressed against the skippable-slot dictionary decode") {
    val dir = java.nio.file.Files.createTempDirectory("warc_zst_dict")
    def canon(path: String) = Warc.scan(spark, path)
      .select("record_type", "url", "ts", "digest", "status", "mime")
      .orderBy("ts", "record_type").collect().toSeq.map(_.toSeq)
    val gz = dir.resolve("ref.warc.gz").toString
    Warc.writeFixture(gz, Warc.fixtureRecords)
    // both warcio dictionary conventions: raw dict bytes in the skippable
    // slot, and the dict itself zstd-compressed inside the slot
    for ((compressed, name) <- Seq(false -> "raw", true -> "comp")) {
      val zst = dir.resolve(s"dict-$name.warc.zst").toString
      Warc.writeFixtureZstDict(zst, Warc.fixtureRecords, compressedDict = compressed)
      assert(canon(zst) == canon(gz), s"dict=$name surface must equal the gzip scan")
    }
    // the fixture genuinely exercises the dict path: at least one frame
    // must NOT decode standalone (otherwise this test proves nothing)
    val zstBytes = java.nio.file.Files.readAllBytes(dir.resolve("dict-raw.warc.zst"))
    val frames = Iterator.unfold(
      { // first data frame starts after the 8-byte-headed skippable slot
        val contentLen = java.nio.ByteBuffer.wrap(zstBytes, 4, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        8 + contentLen
      }) { off =>
      if (off >= zstBytes.length) None
      else {
        val sz = com.github.luben.zstd.Zstd.findFrameCompressedSize(
          zstBytes, off, zstBytes.length - off).toInt
        Some((java.util.Arrays.copyOfRange(zstBytes, off, off + sz), off + sz))
      }
    }.toSeq
    val standaloneFailures = frames.count { f =>
      try { com.github.luben.zstd.Zstd.decompress(f, 1 << 20); false }
      catch { case _: Exception => true }
    }
    assert(standaloneFailures > 0,
      "no frame referenced the dictionary — the dict retry path went unexercised")
  }

  test("fuzz: random binary corpora round-trip identically through gzip, zstd, and zstd-dict framing") {
    // seeded fuzz — payloads are random BINARY with fake gzip and zstd
    // frame magics planted INSIDE them, the bytes that break any framing
    // code that scans content instead of honoring member/frame lengths;
    // urls carry unicode + query strings. All three container writers
    // must scan back to the same record surface with payloads
    // byte-identical, and every pointer must re-fetch its record.
    val rnd = new scala.util.Random(20260815L)
    def randPayload(i: Int): Array[Byte] = {
      val n = 1 + rnd.nextInt(1500)
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      if (n > 16) {
        b(3) = 0x1f.toByte; b(4) = 0x8b.toByte // gzip magic mid-payload
        b(8) = 0x28.toByte; b(9) = 0xb5.toByte // zstd magic mid-payload
        b(10) = 0x2f.toByte; b(11) = 0xfd.toByte
      }
      b
    }
    def b32(i: Int) = ("F%02d" format i).padTo(32, '3').take(32)
    val records = (0 until 40).map { i =>
      Warc.FixtureRecord("response",
        s"http://fuzz.example/p$i/café?q=${rnd.nextInt(100)}",
        f"2021-0${1 + i % 9}%d-${10 + i % 18}%02dT0${i % 10}%d:00:00Z",
        b32(i), 200, "application/octet-stream", randPayload(i))
    }
    val dir = java.nio.file.Files.createTempDirectory("warc_fuzz")
    Warc.writeFixture(dir.resolve("f.warc.gz").toString, records)
    Warc.writeFixtureZst(dir.resolve("f.warc.zst").toString, records)
    Warc.writeFixtureZstDict(dir.resolve("d.warc.zst").toString, records,
      compressedDict = true)
    def canon(path: String) = Warc.scan(spark, path)
      .select("url", "ts", "status", "digest", "payload")
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3),
        r.getAs[Array[Byte]]("payload").toSeq))
      .sortBy(t => (t._1, t._2))
    val gz = canon(dir.resolve("f.warc.gz").toString)
    assert(gz.size == 40 && gz.map(_._5).forall(_.nonEmpty))
    assert(canon(dir.resolve("f.warc.zst").toString) == gz, "zst surface diverged")
    assert(canon(dir.resolve("d.warc.zst").toString) == gz, "zst-dict surface diverged")
    // pointer replay on ALL THREE containers — payloads byte-identical
    // again; d.warc.zst exercises the replay's dictionary load (the
    // fetched slice excludes the leading skippable frame, so fetchRecords
    // must read the dictionary from offset 0 when it opens the file)
    for (f <- Seq("f.warc.gz", "f.warc.zst", "d.warc.zst")) {
      val p = dir.resolve(f).toString
      val scanned = Warc.scan(spark, p)
      val fetched = Warc.fetchRecords(spark,
        scanned.select("filename", "offset", "length"), dir.toString)
      assert(fetched.select("url", "payload").collect()
        .map(r => (r.getString(0), r.getAs[Array[Byte]]("payload").toSeq)).sortBy(_._1).toSeq
        == scanned.select("url", "payload").collect()
        .map(r => (r.getString(0), r.getAs[Array[Byte]]("payload").toSeq)).sortBy(_._1).toSeq,
        s"fetch != scan for $f")
    }
  }

  test("WarcSink dict-mode zstd: trained dictionary round-trips both read paths and compresses smaller") {
    import org.apache.spark.sql.functions._
    // repetitive small records — exactly where the warcio dict
    // convention pays: the shared template compresses to dict references
    val rows = (0 until 400).map { i =>
      ("s/d.warc.zst", s"http://dict.example/page/$i", "20240115010203",
        200, "text/html; charset=UTF-8",
        (s"<html><head><title>Boilerplate Page $i</title></head>" +
          "<body><div class=\"content-wrapper common-layout shared-chrome\">" +
          s"Shared template text the dictionary should learn, row $i." +
          "</div></body></html>").getBytes("UTF-8"))
    }
    val df = spark.createDataFrame(rows)
      .toDF("shard", "url", "ts", "status", "mime", "payload")
    val dict = graft.formats.WarcSink.trainZstdDict(df)
    assert(dict.nonEmpty)
    val base = java.nio.file.Files.createTempDirectory("warcsink_zdict")
    val dictDir = base.resolve("dict").toString
    val plainDir = base.resolve("plain").toString
    graft.formats.WarcSink.write(df, dictDir, codec = "zstd", zstdDict = dict)
    graft.formats.WarcSink.write(df, plainDir, codec = "zstd")
    // identical record surface through the independent scan
    def canon(p: String) = Warc.scan(spark, p + "/*.warc.zst")
      .where(col("record_type") === "response")
      .select("url", "ts", "status", "digest", "payload").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3),
        r.getAs[Array[Byte]]("payload").toSeq)).sortBy(_._1).toSeq
    val dc = canon(dictDir)
    assert(dc.size == 400 && dc == canon(plainDir),
      "dict and self-contained modes must scan to the same records")
    // pointer replay: fetchRecords' slice excludes the offset-0 dict
    // slot, so this exercises the dictionary the replay loads per file
    val scanned = Warc.scan(spark, dictDir + "/*.warc.zst")
    val fetched = Warc.fetchRecords(spark,
      scanned.select("filename", "offset", "length"), dictDir)
    assert(fetched.select("url", "payload").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]]("payload").toSeq)).sortBy(_._1).toSeq
      == scanned.select("url", "payload").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]]("payload").toSeq)).sortBy(_._1).toSeq,
      "dict-mode pointers must replay identically to the scan")
    // the dictionary is genuinely referenced: frames after the slot that
    // fail standalone decode prove the compression isn't self-contained
    val zstBytes = java.nio.file.Files.readAllBytes(
      new java.io.File(dictDir, "d.warc.zst").toPath)
    val slotLen = 8 + java.nio.ByteBuffer.wrap(zstBytes, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    var off = slotLen
    var standaloneFailures = 0
    while (off < zstBytes.length) {
      val sz = com.github.luben.zstd.Zstd.findFrameCompressedSize(
        zstBytes, off, zstBytes.length - off).toInt
      val frame = java.util.Arrays.copyOfRange(zstBytes, off, off + sz)
      try { com.github.luben.zstd.Zstd.decompress(frame, 1 << 20); () }
      catch { case _: Exception => standaloneFailures += 1 }
      off += sz
    }
    assert(standaloneFailures > 0,
      "no frame referenced the dictionary — dict mode wrote self-contained frames")
    // and it PAYS, slot included
    val sizeDict = new java.io.File(dictDir, "d.warc.zst").length()
    val sizePlain = new java.io.File(plainDir, "d.warc.zst").length()
    info(f"dict-mode $sizeDict%d bytes vs self-contained $sizePlain%d bytes " +
      f"(dict ${dict.length}%d raw)")
    assert(sizeDict < sizePlain,
      s"dict mode must compress smaller: $sizeDict vs $sizePlain")

    // degenerate sample sets take the raw-content-dict fallback and
    // still round-trip (ZDICT refuses tiny corpora)
    val tiny = spark.createDataFrame(rows.take(3))
      .toDF("shard", "url", "ts", "status", "mime", "payload")
    val fallbackDict = graft.formats.WarcSink.trainZstdDict(tiny)
    assert(fallbackDict.nonEmpty)
    val tinyDir = base.resolve("tiny").toString
    graft.formats.WarcSink.write(tiny, tinyDir, codec = "zstd", zstdDict = fallbackDict)
    assert(Warc.scan(spark, tinyDir + "/*.warc.zst")
      .where(col("record_type") === "response").count() == 3)
  }

  test("WET/WAT generation: sidecars from a WARC scan round-trip through the engine's own consumers") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("warc_sidecar")
    val warc = dir.resolve("orig.warc.gz").toString
    // corpusFixtureRecords: duplicate menu captures (dedup plant), a nav
    // with real <a href> links (the WAT edges), ISO-8859-1 + UTF-8 pages
    Warc.writeFixture(warc, Warc.corpusFixtureRecords)
    val scanned = Warc.scan(spark, warc)

    // ---- WET: write via toWet, read back via wetToCorpus
    val wetDir = dir.resolve("wet").toString
    graft.formats.WarcSink.writeWet(graft.Pipeline.toWet(scanned), wetDir)
    assert(new java.io.File(wetDir).list().toSeq == Seq("orig.warc.wet.gz"),
      "sidecar must take the CC name (strip .warc.gz, append .warc.wet.gz)")
    val back = graft.Pipeline.wetToCorpus(spark, wetDir + "/*.warc.wet.gz", minChars = 1)
      .select("url", "ts", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(t => (t._1, t._2)).toSeq
    // the direct path: Html.extract over the original, then the same
    // earliest-capture-per-content dedup wetToCorpus applies
    val direct = graft.ops.Html.extract(scanned)
      .filter(length(trim(col("text"))) > 0)
      .select("url", "ts", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val expected = direct.groupBy(_._3).map { case (_, rows) =>
      rows.minBy(r => (r._2, r._1)) }.toSeq.sortBy(t => (t._1, t._2))
    assert(back == expected, "wetToCorpus over the written sidecar must equal direct extraction")
    assert(back.exists(_._3.contains("résumé")),
      "the ISO-8859-1 page's text must survive the UTF-8 WET round trip")
    // file layout: warcinfo record first, conversion records after
    val wetTypes = Warc.scan(spark, wetDir + "/*.warc.wet.gz")
      .orderBy("offset").select("record_type").collect().map(_.getString(0)).toSeq
    assert(wetTypes.head == "warcinfo" && wetTypes.tail.forall(_ == "conversion"), wetTypes.toString)

    // ---- WAT: write via toWat, read back via watLinks
    val watDir = dir.resolve("wat").toString
    graft.formats.WarcSink.writeWat(graft.Pipeline.toWat(scanned), watDir)
    assert(new java.io.File(watDir).list().toSeq == Seq("orig.warc.wat.gz"))
    val edges = graft.Pipeline.watLinks(spark, watDir + "/*.warc.wat.gz")
      .select("src", "ts", "title", "dst").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._4)).toSeq
    // direct: title + resolved links straight off the page bytes
    val cs = graft.ops.Html.charsetOf(col("mime"))
    val html = graft.ops.Html.decodePayload(col("payload"), cs)
    val directEdges = graft.ops.Html.htmlResponses(scanned)
      .select(col("url").as("src"), col("ts"),
        graft.ops.Html.title(html).as("title"),
        explode(transform(graft.ops.Html.links(html, col("url")), _.getField("dst"))).as("dst"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._4)).toSeq
    assert(edges == directEdges, "watLinks over the written sidecar must equal direct Html.links")
    assert(edges.nonEmpty && edges.exists(_._3 == "Menu"),
      "the nav links must survive as edges with their page title")
    val watTypes = Warc.scan(spark, watDir + "/*.warc.wat.gz")
      .orderBy("offset").select("record_type").collect().map(_.getString(0)).toSeq
    assert(watTypes.head == "warcinfo" && watTypes.tail.forall(_ == "metadata"), watTypes.toString)

    // ---- WAT with the COMPLETE envelope: headers + warcinfo blocks
    // written, read back via watHeaders; header-less envelopes stay
    // byte-identical to the 4-arg form (existing hashes untouched)
    import spark.implicits._
    val watRows = Seq(
      ("s.warc.gz", "http://h.example/a", "20200101000000", "T1",
        Seq("http://d.example/1"), Map("Content-Type" -> "text/html", "Server" -> "srv/1")),
      ("s.warc.gz", "http://h.example/b", "20200102000000", "T2",
        Seq("http://d.example/2"), Map("Content-Type" -> "image/png")))
      .toDF("shard", "url", "ts", "title", "dsts", "hdrs")
    val bare = watRows.select(graft.Pipeline.watEnvelope(
      col("url"), col("ts"), col("title"), col("dsts")).as("j"))
      .as[String].collect().toSeq
    val withNulls = watRows.select(graft.Pipeline.watEnvelope(
      col("url"), col("ts"), col("title"), col("dsts"),
      headers = null, warcinfo = null).as("j"))
      .as[String].collect().toSeq
    assert(bare == withNulls, "omitted blocks must leave the envelope byte-identical")
    assert(bare.forall(j => !j.contains("\"Headers\"") && !j.contains("WARC-Info-Metadata")))
    val watHdrDir = dir.resolve("wat_headers").toString
    graft.formats.WarcSink.writeWat(
      watRows.select(col("shard"), col("url"), col("ts"),
        graft.Pipeline.watEnvelope(col("url"), col("ts"), col("title"), col("dsts"),
          headers = col("hdrs"),
          warcinfo = typedLit(Map("software" -> "graft-test"))).as("meta")),
      watHdrDir)
    val hback = graft.Pipeline.watHeaders(spark, watHdrDir + "/*.warc.wat.gz")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3))).toSet
    assert(hback == Set(
      ("http://h.example/a", "Content-Type", "text/html"),
      ("http://h.example/a", "Server", "srv/1"),
      ("http://h.example/b", "Content-Type", "image/png")), hback.toString)
    // watLinks still parses header-carrying envelopes (schema subset)
    val hlinks = graft.Pipeline.watLinks(spark, watHdrDir + "/*.warc.wat.gz")
      .select("src", "dst").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(hlinks == Set(
      ("http://h.example/a", "http://d.example/1"),
      ("http://h.example/b", "http://d.example/2")), hlinks.toString)
  }

  test("byte-range reads return rows bit-identical to the whole-file read") {
    import graft.formats.SerializableHadoopConf
    import graft.sources.{WarcFilePartition, WarcPartitionReader}
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("warc_split")
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val segCols = Seq("record_id", "seg_num", "seg_origin", "seg_total")
    def rowsOf(df: org.apache.spark.sql.DataFrame, segments: Boolean = false): Seq[Seq[Any]] =
      df.select(Seq(col("record_type"), col("url"), col("ts"), col("digest"),
        col("status"), col("mime"), col("offset"), col("length"),
        sha2(col("payload"), 256).as("psha")) ++
        (if (segments) segCols.map(col) else Nil): _*)
        .orderBy("offset").collect().toSeq.map(_.toSeq)
    def sha(b: Array[Byte]): String =
      if (b == null) null
      else java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    // the same columns as rowsOf, straight from the partition reader over
    // consecutive `rangeBytes` ranges (file length = the whole-file read)
    def readRanges(path: String, rangeBytes: Long, segments: Boolean = false): Seq[Seq[Any]] = {
      val len = new java.io.File(path).length
      val fields = (if (segments) Warc.segMetaSchema else Warc.schema).fieldNames
      (0L until len by rangeBytes).flatMap { s =>
        val r = new WarcPartitionReader(
          WarcFilePartition(path, s, math.min(s + rangeBytes, len), len),
          fields, segments, permissive = true, conf)
        def str(i: Int): String = Option(r.get().getUTF8String(i)).map(_.toString).orNull
        try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
          val row = r.get()
          Seq(str(0), str(1), str(2), str(3), if (row.isNullAt(4)) null else row.getInt(4),
            str(5), row.getLong(6), row.getLong(7), sha(row.getBinary(9))) ++
            (if (segments) Seq(str(10), if (row.isNullAt(11)) null else row.getInt(11),
              str(12), if (row.isNullAt(13)) null else row.getLong(13))
            else Nil)
        }.toVector
        finally r.close()
      }
    }
    def whole(path: String, segments: Boolean = false): Seq[Seq[Any]] =
      readRanges(path, new java.io.File(path).length, segments)

    val file = dir.resolve("big.warc.gz").toString
    Warc.writeFixture(file, Warc.splitFixtureRecords)
    val wholeGz = whole(file)
    assert(wholeGz.size == 300)
    // range sizes chosen to cut mid-member constantly (977 is prime and
    // smaller than most members; 4096/16384 cut every few members)
    for (rb <- Seq(977L, 4096L, 16384L))
      assert(readRanges(file, rb) == wholeGz, s"rangeBytes=$rb diverged from the whole-file read")
    // the planned scan splits a single-file input into ranges too
    assert(rowsOf(Warc.scan(spark, file)) == wholeGz)

    // corruption: flip bytes inside one member's deflate data. Ranges
    // start and stop on true member boundaries, so every byte is read by
    // exactly one range — corrupt-span rows match the whole read too
    val corrupted = dir.resolve("corrupt.warc.gz").toString
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    for (i <- 5000 until 5040) bytes(i) = 0x5a
    java.nio.file.Files.write(java.nio.file.Paths.get(corrupted), bytes)
    val wholeCorrupt = whole(corrupted)
    val records = wholeCorrupt.count(_.head != "corrupt")
    assert(records < 300 && records > 290, s"got $records")
    assert(wholeCorrupt.exists(_.head == "corrupt"))
    for (rb <- Seq(977L, 4096L, 16384L))
      assert(readRanges(corrupted, rb) == wholeCorrupt,
        s"rangeBytes=$rb diverged from the whole read on the corrupt corpus")

    // the index contract: CDX pointers built FROM a split scan replay
    // through fetchRecords exactly like pointers from the whole read —
    // range offsets are absolute file offsets, not range-relative
    val ptrs = Warc.scan(spark, file)
      .select(col("filename"), col("offset"), col("length")).distinct()
    val fetched = Warc.fetchRecords(spark, ptrs, dir.toString)
    assert(rowsOf(fetched) == wholeGz, "split-scan pointers must replay bit-identically")

    // zstd: same parity through the frame-magic resync — plain frames AND
    // dict mode, where every frame needs the offset-0 dictionary that mid
    // ranges can only get by positioned preload
    val zst = dir.resolve("big.warc.zst").toString
    Warc.writeFixtureZst(zst, Warc.splitFixtureRecords)
    val zstDict = dir.resolve("dict.warc.zst").toString
    Warc.writeFixtureZstDict(zstDict, Warc.splitFixtureRecords, compressedDict = true)
    for (path <- Seq(zst, zstDict)) {
      val w = whole(path)
      assert(w.size == 300)
      for (rb <- Seq(977L, 4096L, 16384L))
        assert(readRanges(path, rb) == w, s"$path rangeBytes=$rb diverged from the whole-file read")
      assert(rowsOf(Warc.scan(spark, path)) == w)
    }

    // the segment column set: a corpus of ISO 28500 §5 chains (every
    // record whose block exceeds 128 bytes split into segments, one
    // member each) — first segments and continuations keep raw blocks
    // and carry their seg_* headers over every range size too
    val segmented = dir.resolve("segmented.warc.gz").toString
    val out = java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(segmented))
    try Warc.splitFixtureRecords.foreach(r =>
      Warc.renderSegments(r, maxSegment = 128).foreach(graft.formats.Gzip.writeMember(out, _)))
    finally out.close()
    val wholeSeg = whole(segmented, segments = true)
    assert(wholeSeg.count(_(10) == null) > 0 && wholeSeg.count(_(10) == 1) > 0 &&
      wholeSeg.exists(_.head == "continuation"), "the fixture must mix plain and segmented records")
    assert(wholeSeg.filter(_(10) == 1).forall(r => r(4) == null && r(5) != null),
      "a first segment keeps its raw block: no status, the WARC Content-Type as mime")
    for (rb <- Seq(977L, 4096L, 16384L))
      assert(readRanges(segmented, rb, segments = true) == wholeSeg,
        s"rangeBytes=$rb diverged from the whole-file segment read")
    assert(rowsOf(Warc.scanMeta(spark, segmented), segments = true) == wholeSeg)
  }

  test("WarcSink revisit dedup: profile headers, digest override, lossless resolve, smaller files") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("warc_revisit").toString
    // INCOMPRESSIBLE duplicate bytes (seeded random): a repetitive text
    // payload gzips to almost nothing per member, hiding the dedup win
    // behind codec luck — real payloads (images, minified js) don't
    val body = { val b = new Array[Byte](4096); new scala.util.Random(42).nextBytes(b); b }
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val dig = graft.functions.SurtAlg.base32(sha1.digest(body))
    // one original + two recrawls of the same bytes + an unrelated page
    val rows = Seq(
      ("s/a.warc.gz", "http://example.com/x", "20240101000000", 200, "text/html",
        body, "response", null, null, null),
      ("s/a.warc.gz", "http://example.com/x", "20240201000000", 200, "text/html",
        Array.emptyByteArray, "revisit", dig, "http://example.com/x", "20240101000000"),
      ("s/a.warc.gz", "http://mirror.example.com/x", "20240301000000", 301, "text/html",
        Array.emptyByteArray, "revisit", dig, "http://example.com/x", "20240101000000"),
      ("s/a.warc.gz", "http://example.com/y", "20240101000001", 404, "text/plain",
        "tiny".getBytes("UTF-8"), "response", null, null, null))
    val df = spark.createDataFrame(rows)
      .toDF("shard", "url", "ts", "status", "mime", "payload",
        "record_type", "digest", "refers_url", "refers_ts")
    graft.formats.WarcSink.write(df, dir)

    // raw bytes: the revisit profile headers are in the file, verbatim
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz")).head
    val gin = new java.util.zip.GZIPInputStream( // reads ALL concatenated members
      new java.io.ByteArrayInputStream(java.nio.file.Files.readAllBytes(file.toPath)))
    val raw = new String(gin.readAllBytes(), "ISO-8859-1")
    assert(raw.contains("WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"))
    assert(raw.contains("WARC-Refers-To-Target-URI: http://example.com/x"))
    assert(raw.contains("WARC-Refers-To-Date: 2024-01-01T00:00:00Z"))

    val back = Warc.scan(spark, dir + "/*.warc.gz").orderBy("ts")
      .select("record_type", "url", "ts", "status", "mime", "digest", "payload").collect()
    // revisit rows surface their OWN status/mime (the head block) with an
    // empty payload and the ORIGINAL's digest (the override, not a digest
    // of the empty block)
    val rev = back.filter(_.getString(0) == "revisit")
    assert(rev.length == 2)
    assert(rev.map(_.getInt(3)).toSeq == Seq(200, 301))
    assert(rev.forall(_.getString(5) == dig), "revisits must carry the referred digest")
    assert(rev.forall(_.getAs[Array[Byte]]("payload").isEmpty))
    // digest-join resolution hands every capture its payload back
    val byDigest = back.filter(_.getString(0) == "response")
      .map(r => r.getString(5) -> r.getAs[Array[Byte]]("payload")).toMap
    rev.foreach(r => assert(byDigest(r.getString(5)).sameElements(body)))

    // dedup is a real storage win: the same corpus written WITHOUT dedup
    // (every capture carries its bytes) must be strictly larger
    val fullDir = java.nio.file.Files.createTempDirectory("warc_revisit_full").toString
    graft.formats.WarcSink.write(
      spark.createDataFrame(rows.map(r => (r._1, r._2, r._3, r._4, r._5,
        if (r._8 == null) r._6 else body))) // revisits carry the full bytes
        .toDF("shard", "url", "ts", "status", "mime", "payload"),
      fullDir)
    val dedupBytes = new java.io.File(dir).listFiles().map(_.length).sum
    val fullBytes = new java.io.File(fullDir).listFiles().map(_.length).sum
    assert(dedupBytes < fullBytes,
      s"revisit corpus ($dedupBytes B) must be smaller than full ($fullBytes B)")
  }

  test("WarcSink: a mid-job failure leaves the previous corpus untouched (staged swap)") {
    // the write is staged into <dir>.staging-<id> and only swapped in on
    // success: a task failure mid-write (malformed ts here) must leave
    // the previous good corpus — files AND bytes — exactly as it was,
    // and must not leak the staging directory
    val dir = "/tmp/graft_test/warcsink_staged"
    def rows(ts: String) = Seq(
      ("s/a.warc.gz", "http://example.com/1", ts, 200, "text/html", "one".getBytes("UTF-8")))
    def df(ts: String) = spark.createDataFrame(rows(ts))
      .toDF("shard", "url", "ts", "status", "mime", "payload")
    graft.formats.WarcSink.write(df("20240102030405"), dir)
    val f = new java.io.File(dir, "a.warc.gz")
    val goodBytes = java.nio.file.Files.readAllBytes(f.toPath).toSeq
    val e = intercept[Exception] { graft.formats.WarcSink.write(df("not-a-ts"), dir) }
    assert(e.getMessage == null || !e.getMessage.contains("could not publish"))
    assert(java.nio.file.Files.readAllBytes(f.toPath).toSeq == goodBytes,
      "previous corpus must survive a failed staged write byte-for-byte")
    // scope the leftover checks to THIS target's siblings: /tmp/graft_test
    // is shared across suites and other tests plant their own orphans
    val parent = new java.io.File(dir).getParentFile
    val base = new java.io.File(dir).getName
    def siblings = parent.listFiles().map(_.getName).filter(_.startsWith(base + "."))
    assert(!siblings.exists(_.contains(".staging-")),
      "failed write must clean up its staging directory")
    // and a SUCCESSFUL rewrite replaces the corpus and leaves no staging/backup
    graft.formats.WarcSink.write(df("20250102030405"), dir)
    assert(Warc.scan(spark, dir + "/*.warc.gz").select("ts").collect()
      .map(_.getString(0)).toSeq == Seq("20250102030405"))
    assert(!siblings.exists(n => n.contains(".staging-") || n.contains(".old-")))
  }

  test("WarcSink: orphaned .old-/.staging- siblings from a crashed run are healed on the next write") {
    // a writer crash BETWEEN the two publish renames strands the corpus
    // in .old-<stamp> with dir absent; a crash mid-job strands a partial
    // .staging-<stamp>. The next write must restore the newest backup
    // (when dir is missing) and clear every leftover before publishing.
    val dir = "/tmp/graft_test/warcsink_orphans"
    val dirFile = new java.io.File(dir)
    val parent = dirFile.getParentFile
    java.nio.file.Files.createDirectories(parent.toPath) // listFiles is null otherwise
    def df(ts: String) = spark.createDataFrame(Seq(
        ("s/a.warc.gz", "http://example.com/1", ts, 200, "text/html", "one".getBytes("UTF-8"))))
      .toDF("shard", "url", "ts", "status", "mime", "payload")
    parent.listFiles().filter(_.getName.startsWith(dirFile.getName))
      .foreach(f => new scala.reflect.io.Directory(f).deleteRecursively())
    graft.formats.WarcSink.write(df("20240102030405"), dir)
    // simulate the mid-swap crash: corpus renamed aside, dir gone, plus a
    // stale partial staging dir and an OLDER second backup that must lose
    val older = new java.io.File(parent, dirFile.getName + ".old-dead1")
    older.mkdirs()
    java.nio.file.Files.write(new java.io.File(older, "stale.warc.gz").toPath,
      "stale".getBytes("UTF-8"))
    older.setLastModified(System.currentTimeMillis() - 3600_000L)
    val backup = new java.io.File(parent, dirFile.getName + ".old-dead2")
    assert(dirFile.renameTo(backup))
    val staging = new java.io.File(parent, dirFile.getName + ".staging-dead3")
    staging.mkdirs()
    java.nio.file.Files.write(new java.io.File(staging, "partial.tmp").toPath,
      "junk".getBytes("UTF-8"))
    // a DEAD run's staging is recognized by staleness (the sweep is
    // age-gated so a live concurrent writer's staging survives)
    staging.setLastModified(System.currentTimeMillis() - 25L * 3600_000L)
    // a FRESH staging (a live concurrent writer, contract violation or
    // not) must NOT be reaped — deleting it would let the other job
    // publish a silently partial corpus
    val fresh = new java.io.File(parent, dirFile.getName + ".staging-live4")
    fresh.mkdirs()
    java.nio.file.Files.write(new java.io.File(fresh, "inflight.tmp").toPath,
      "live".getBytes("UTF-8"))
    // next write: restores .old-dead2 (newest), clears dead1/dead3,
    // leaves live4 alone, publishes
    graft.formats.WarcSink.write(df("20250102030405"), dir)
    assert(Warc.scan(spark, dir + "/*.warc.gz").select("ts").collect()
      .map(_.getString(0)).toSeq == Seq("20250102030405"))
    val leftovers = parent.listFiles().map(_.getName)
      .filter(n => n.startsWith(dirFile.getName + ".")).toSeq
    assert(leftovers == Seq(dirFile.getName + ".staging-live4"),
      s"dead orphans healed, live staging preserved — found: $leftovers")
    new scala.reflect.io.Directory(fresh).deleteRecursively()

    // restore-only path: dir absent, one backup, NO write racing it —
    // verify the restored corpus is byte-identical to the pre-crash one
    val bytes0 = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "a.warc.gz").toPath).toSeq
    assert(dirFile.renameTo(new java.io.File(parent, dirFile.getName + ".old-dead4")))
    graft.formats.WarcSink.write(df("20260102030405"), dir)
    // the new write restored dead4 first (old corpus briefly live), then
    // replaced it; the published corpus is the new one and nothing leaks
    assert(Warc.scan(spark, dir + "/*.warc.gz").select("ts").collect()
      .map(_.getString(0)).toSeq == Seq("20260102030405"))
    assert(bytes0.nonEmpty && !parent.listFiles().exists(f =>
      f.getName.startsWith(dirFile.getName + ".")))
  }

  test("WarcSink: colliding shard basenames and malformed ts fail loudly") {
    import org.apache.spark.sql.functions._
    // 'a/x.warc.gz' and 'b/x.warc.gz' both publish as x.warc.gz — the
    // rename-OVERWRITE would silently drop one shard's records. The
    // pre-flight must reject the write BEFORE the target dir is wiped
    // (a marker file standing in for the previous good corpus must
    // survive); the second case collides only AFTER the .warc.gz
    // normalization ('seg1/part' -> part.warc.gz), pinning that the
    // check runs on the warcName image, not the raw basename; the
    // third is a null shard (would otherwise NPE mid-task).
    val clashDir = "/tmp/graft_test/warcsink_clash"
    new java.io.File(clashDir).mkdirs()
    val marker = new java.io.File(clashDir, "previous-good-corpus.warc.gz")
    java.nio.file.Files.write(marker.toPath, "keep".getBytes("UTF-8"))
    for (shards <- Seq(Seq("a/x.warc.gz", "b/x.warc.gz"),
        Seq("seg1/part", "seg2/part.warc.gz"), Seq("ok/y.warc.gz", null))) {
      val clash = shards.zipWithIndex.map { case (sh, i) =>
        (sh, s"http://example.com/$i", "20240102030405", 200, "text/html", "a".getBytes("UTF-8"))
      }
      val e1 = intercept[IllegalArgumentException] {
        graft.formats.WarcSink.write(
          spark.createDataFrame(clash).toDF("shard", "url", "ts", "status", "mime", "payload"),
          clashDir)
      }
      assert(e1.getMessage.contains("basenames") || e1.getMessage.contains("non-null"),
        s"got ${e1.getMessage}")
      assert(marker.exists(),
        "the pre-existing corpus must survive a rejected write (validate before destroy)")
    }

    // the repartition key and the in-task publish guard both assume the
    // Column expression IS warcName — pin the equivalence over the
    // adversarial shapes (no slash, trailing slash-ish names, dots,
    // case-sensitive extension, embedded .warc.gz, unicode)
    val adversarial = Seq(
      "plain", "a/b/c/deep.warc.gz", "noext/file", "dot.only/x.gz",
      "x.warc.gz", "UPPER/NAME.WARC.GZ", "trail/x.warc.gz.bak",
      "mid/x.warc.gz.warc.gz", "späce/ünïcode.warc.gz", "a/b.warc", "-/x-y_z.9")
    val evaled = spark.createDataFrame(adversarial.map(Tuple1(_))).toDF("shard")
      .select(col("shard"), graft.formats.WarcSink.warcNameCol(col("shard")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    adversarial.foreach { sh =>
      assert(evaled(sh) == graft.formats.WarcSink.warcName(sh),
        s"warcNameCol diverged from warcName for '$sh': ${evaled(sh)}")
    }
    // a non-14-digit ts would substring-crash or emit a malformed
    // WARC-Date; the per-row require names the bad value
    val badTs = Seq(
      ("s/c.warc.gz", "http://example.com/3", "2024-01-02", 200, "text/html", "c".getBytes("UTF-8")))
    val e2 = intercept[org.apache.spark.SparkException] {
      graft.formats.WarcSink.write(
        spark.createDataFrame(badTs).toDF("shard", "url", "ts", "status", "mime", "payload"),
        "/tmp/graft_test/warcsink_badts")
    }
    assert(e2.getMessage.contains("14 digits") || Option(e2.getCause).exists(
      c => String.valueOf(c.getMessage).contains("14 digits")))
  }

  test("scanSegments: a 3-segment record stitches across FILES; missing middles degrade to exact-extent corrupt rows") {
    import java.nio.file.{Files, Paths}
    val dir = "/tmp/graft_test/warc_segments"
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
    Files.createDirectories(p)
    def rec(headers: Seq[String], block: Array[Byte]): Array[Byte] =
      (Seq("WARC/1.0") ++ headers ++ Seq(s"Content-Length: ${block.length}"))
        .mkString("", "\r\n", "\r\n\r\n").getBytes("UTF-8") ++ block
    val body = "0123456789" * 3 // 30 bytes
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body.getBytes("UTF-8")
    val (p1, p2, p3) = (http.slice(0, 40), http.slice(40, 70), http.slice(70, http.length))
    def seg1(id: String, frag: Array[Byte]) = rec(Seq(
      "WARC-Type: response", s"WARC-Record-ID: <urn:uuid:$id>",
      "WARC-Target-URI: http://big.example/file", "WARC-Date: 2020-01-01T00:00:00Z",
      "WARC-Payload-Digest: sha1:BIGDIGEST", "WARC-Segment-Number: 1",
      "Content-Type: application/http; msgtype=response"), frag)
    def cont(id: String, origin: String, n: Int, frag: Array[Byte], total: Option[Long]) =
      rec(Seq(
        "WARC-Type: continuation", s"WARC-Record-ID: <urn:uuid:$id>",
        "WARC-Target-URI: http://big.example/file", "WARC-Date: 2020-01-01T00:00:00Z",
        s"WARC-Segment-Origin-ID: <urn:uuid:$origin>", s"WARC-Segment-Number: $n") ++
        total.map(t => s"WARC-Segment-Total-Length: $t") :+
        "Content-Type: application/octet-stream", frag)
    // file 1: one ordinary record + the first segment
    val normal = rec(Seq(
      "WARC-Type: response", "WARC-Record-ID: <urn:uuid:normal-1>",
      "WARC-Target-URI: http://plain.example/", "WARC-Date: 2020-02-02T00:00:00Z",
      "WARC-Payload-Digest: sha1:PLAINDIGEST",
      "Content-Type: application/http; msgtype=response"),
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: 2\r\n\r\nok".getBytes("UTF-8"))
    val f1 = Files.newOutputStream(Paths.get(s"$dir/a.warc.gz"))
    try {
      graft.formats.Gzip.writeMember(f1, normal)
      graft.formats.Gzip.writeMember(f1, seg1("big-1", p1))
    } finally f1.close()
    // file 2: the continuations (cross-file stitching)
    val f2 = Files.newOutputStream(Paths.get(s"$dir/b.warc.gz"))
    try {
      graft.formats.Gzip.writeMember(f2, cont("big-2", "big-1", 2, p2, None))
      graft.formats.Gzip.writeMember(f2, cont("big-3", "big-1", 3, p3, Some(http.length.toLong)))
    } finally f2.close()
    // file 3: an INCOMPLETE group — first + third segment, middle missing
    val f3 = Files.newOutputStream(Paths.get(s"$dir/c.warc.gz"))
    try {
      graft.formats.Gzip.writeMember(f3, seg1("hole-1", p1))
      graft.formats.Gzip.writeMember(f3, cont("hole-3", "hole-1", 3, p3, Some(http.length.toLong)))
    } finally f3.close()

    val rows = Warc.scanSegments(spark, s"$dir/*.warc.gz").collect()
    // the assembled logical record
    val big = rows.filter(r => r.getString(1) == "http://big.example/file")
    assert(big.length == 1, s"expected ONE stitched record, got ${big.length}")
    val b = big.head
    assert(b.getString(0) == "response")
    assert(b.getString(2) == "20200101000000")
    assert(b.getString(3) == "BIGDIGEST")
    assert(b.getInt(4) == 200, "status must parse from the ASSEMBLED http head")
    assert(b.getString(5) == "text/plain")
    assert(new String(b.getAs[Array[Byte]](9), "UTF-8") == body,
      "payload must be the de-fragmented full body")
    assert(b.getString(8) == "a.warc.gz", "logical row carries the FIRST fragment's file")
    // the ordinary record is untouched and bit-identical to plain scan
    val plainViaSeg = rows.filter(r => r.getString(1) == "http://plain.example/").head
    val plainViaScan = Warc.scan(spark, s"$dir/a.warc.gz").collect()
      .filter(r => r.getString(1) == "http://plain.example/").head
    assert(plainViaSeg.toSeq.take(9) == plainViaScan.toSeq.take(9))
    // the holed group degrades to one corrupt row PER fragment with the
    // fragment's own extent (match against the raw meta view)
    val corrupt = rows.filter(r => r.getString(0) == "corrupt" && r.getString(8) == "c.warc.gz")
    val fragsMeta = Warc.scanMeta(spark, s"$dir/c.warc.gz")
      .filter(org.apache.spark.sql.functions.col("seg_num").isNotNull)
      .select("offset", "length").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(corrupt.length == 2, s"expected 2 corrupt rows, got ${corrupt.length}")
    assert(corrupt.map(r => (r.getLong(6), r.getLong(7))).toSet == fragsMeta,
      "corrupt rows must carry the exact fragment extents")
    // nothing from the holed group leaks as a stitched or fragment row
    assert(!rows.exists(r => r.getString(0) == "continuation"))

    // regression guard: over an UNSEGMENTED archive, scanSegments == scan
    val fix = "/tmp/graft_test/warc_segments_fixture.warc.gz"
    Warc.writeFixture(fix, Warc.fixtureRecords)
    val viaSeg = Warc.scanSegments(spark, fix).collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).sortBy(_.toString)
    val viaScan = Warc.scan(spark, fix).collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).sortBy(_.toString)
    assert(viaSeg.toSeq == viaScan.toSeq,
      "scanSegments must be scan's identity on unsegmented data")
  }

  test("scanMeta reading only payload keeps a first segment's raw block") {
    val dir = java.nio.file.Files.createTempDirectory("warc_segview")
    val file = dir.resolve("one.warc.gz").toString
    val big = Warc.FixtureRecord("response", "http://seg.example/big", "2020-01-01T00:00:00Z",
      "BIGDIGEST", 200, "text/plain", ("0123456789abcdef" * 40).getBytes("UTF-8"))
    val segs = Warc.renderSegments(big, maxSegment = 256)
    val out = Files.newOutputStream(Paths.get(file))
    try segs.foreach(graft.formats.Gzip.writeMember(out, _))
    finally out.close()
    // the first segment's block holds the WHOLE HTTP head plus part of
    // the body: an HTTP parse would return only the body part
    val first = segs.head
    val blockAt = new String(first, "ISO-8859-1").indexOf("\r\n\r\n") + 4
    val rawBlock = first.drop(blockAt)
    assert(new String(rawBlock, "UTF-8").startsWith("HTTP/1.1 200 OK\r\n") &&
      new String(rawBlock, "UTF-8").contains("\r\n\r\n0123"), "fixture shape")
    val got = Warc.scanMeta(spark, file).select("offset", "payload")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got.size == segs.size)
    assert(got(0L).sameElements(rawBlock),
      "a payload-only segment-view read must not HTTP-parse a first segment")
  }

  test("scanMeta: empty glob and foreign schema fail loudly; ARC rows carry null seg_*") {
    import org.apache.spark.sql.types._
    def messages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    val glob = "/tmp/graft_test/no_such_segmented_crawl/*.warc.gz"
    val e1 = intercept[Exception](Warc.scanMeta(spark, glob).count())
    assert(messages(e1).exists(_.contains(glob)), messages(e1).mkString(" | "))

    Files.createDirectories(Paths.get(file).getParent)
    Warc.writeFixture(file, Warc.fixtureRecords)
    val foreign = StructType(Seq(StructField("url", StringType), StructField("ts", StringType)))
    val e2 = intercept[Exception](spark.read.format("warc").schema(foreign).load(file).count())
    assert(messages(e2).exists(m => m.contains("Warc.schema") && m.contains("Warc.segMetaSchema")),
      messages(e2).mkString(" | "))
    // the two column sets themselves are accepted, given explicitly
    assert(spark.read.format("warc").schema(Warc.schema).load(file).count() ==
      Warc.fixtureRecords.size)

    val arc = "/tmp/graft_test/segview.arc.gz"
    Warc.writeArcFixture(arc, Warc.arcFixtureRecords)
    val plain = Warc.schema.fieldNames.toSeq
    val meta = Warc.scanMeta(spark, arc).orderBy("offset").collect()
    assert(meta.length == Warc.arcFixtureRecords.size + 1)
    assert(meta.forall(r => Seq("record_id", "seg_num", "seg_origin", "seg_total")
      .forall(c => r.isNullAt(r.fieldIndex(c)))), meta.toSeq.toString)
    def cells(rs: Seq[org.apache.spark.sql.Row]): Seq[Seq[Any]] = rs.map(r => plain.map(c =>
      r.get(r.fieldIndex(c)) match {
        case b: Array[Byte] => b.toSeq
        case x => x
      }))
    assert(cells(meta.toSeq) == cells(Warc.scan(spark, arc).orderBy("offset").collect().toSeq),
      "ARC rows in the segment view are the plain scan's rows")
  }

  test("sink segmentation: oversized blocks write as §5 chains; round trip is exact; within-budget stays byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_test/warc_segmented_sink"
    val big = "0123456789abcdef" * 40 // 640-byte payload, block > 640
    val rows = Seq(
      ("s.warc.gz", "http://seg.example/big", "20200101000000",
        Integer.valueOf(200), "text/plain", big.getBytes("UTF-8")),
      ("s.warc.gz", "http://seg.example/small", "20200102000000",
        Integer.valueOf(200), "text/html", "tiny".getBytes("UTF-8")))
      .toDF("shard", "url", "ts", "status", "mime", "payload")
    graft.formats.WarcSink.write(rows, dir, segmentBytes = 256)
    // the RAW scan proves segmentation actually happened on disk
    val raw = Warc.scan(spark, s"$dir/*.warc.gz")
      .select("record_type", "url").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(raw.count(_._1 == "continuation") >= 2,
      s"expected a multi-continuation chain on disk, got ${raw.toSeq}")
    assert(raw.count(t => t._1 == "response" && t._2 == "http://seg.example/small") == 1)
    // the stitched read hands back both records exactly
    val back = Warc.scanSegments(spark, s"$dir/*.warc.gz")
      .filter(col("record_type") === "response")
      .select("url", "status", "mime", "payload").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        new String(r.getAs[Array[Byte]](3), "UTF-8"))).sortBy(_._1).toSeq
    assert(back == Seq(
      ("http://seg.example/big", 200, "text/plain", big),
      ("http://seg.example/small", 200, "text/html", "tiny")), back.toString)
    // a within-budget record renders byte-identical to the plain path
    val fr = Warc.FixtureRecord("response", "http://x/", "2020-01-01T00:00:00Z",
      "D", 200, "text/plain", "ok".getBytes("UTF-8"))
    val segs = Warc.renderSegments(fr, maxSegment = 1 << 20)
    assert(segs.length == 1 &&
      java.util.Arrays.equals(segs.head, Warc.renderRecord(fr)))
    // a segmented PROFILE revisit keeps its dedup linkage headers in
    // the first segment — segmentation must not shed refers-to
    val rv = Warc.FixtureRecord("revisit", "http://x/", "2020-01-01T00:00:00Z",
      "D", 200, "text/plain", Array.emptyByteArray,
      refersToUri = "http://x/orig", refersToDate = "2019-01-01T00:00:00Z")
    val rvSegs = Warc.renderSegments(rv, maxSegment = 16)
    assert(rvSegs.length >= 2, s"profile head must exceed 16 bytes: ${rvSegs.length}")
    val firstSeg = new String(rvSegs.head, "UTF-8")
    assert(firstSeg.contains("WARC-Profile:") &&
      firstSeg.contains("WARC-Refers-To-Target-URI: http://x/orig") &&
      firstSeg.contains("WARC-Segment-Number: 1"), firstSeg)
    // the zstd codec segments the same way and round-trips
    val zdir = "/tmp/graft_test/warc_segmented_sink_zst"
    graft.formats.WarcSink.write(rows, zdir, codec = "zstd", segmentBytes = 256)
    val zback = Warc.scanSegments(spark, s"$zdir/*.warc.zst")
      .filter(col("record_type") === "response" &&
        col("url") === "http://seg.example/big")
      .select("payload").collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8"))
    assert(zback.toSeq == Seq(big))
  }
}
