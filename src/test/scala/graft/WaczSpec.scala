package graft

import java.nio.file.{Files, Paths}

import graft.formats.{Wacz, ZipNum}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** WACZ container spec: round trip through the engine's own writer,
  * central-directory scan, range fetch, and manifest verify; JDK ZipFile
  * as the independent container oracle; determinism; tamper detection;
  * ZIP64 directory parsing; foreign (DEFLATED) index form. */
class WaczSpec extends SparkSpec {

  private val base = "/tmp/graft_test/wacz"

  private def fixtureDf = {
    val schema = StructType(Seq(
      StructField("shard", StringType), StructField("urlkey", StringType),
      StructField("url", StringType), StructField("ts", StringType),
      StructField("status", IntegerType), StructField("mime", StringType),
      StructField("payload", BinaryType), StructField("title", StringType)))
    def b(s: String) = s.getBytes("UTF-8")
    val rows = Seq(
      Row("seg/w-0.warc.gz", "com,example)/a", "http://example.com/a",
        "20200101000000", Integer.valueOf(200), "text/html", b("alpha"), "A"),
      Row("seg/w-0.warc.gz", "com,example)/b", "http://example.com/b",
        "20200102000000", Integer.valueOf(404), "text/plain", b("beta-body"), null),
      // resource record: no status -> indexed but NOT a page
      Row("seg/w-0.warc.gz", "com,example)/r", "http://example.com/r",
        "20200103000000", null, "application/json", b("{\"x\":1}"), null),
      Row("seg/w-1.warc.gz", "org,example)/c", "http://example.org/c",
        "20200104000000", Integer.valueOf(200), "text/html", b("gamma \"quoted\""), "C"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Each wrong form of the one-row pointer frame `one` must fail the
    * replay with an exception: an offset inside a member, a length one
    * byte short, and two pointers at one offset with different lengths. */
  private def assertWrongPointersFail(one: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val wrong = Seq(
      "offset inside a member" -> one
        .withColumn("offset", col("offset") + 1).withColumn("length", col("length") - 1),
      "length one byte short" -> one.withColumn("length", col("length") - 1),
      "conflicting lengths" -> one.unionAll(one.withColumn("length", col("length") + 1)))
    for ((what, ptr) <- wrong)
      withClue(what) { intercept[Exception](Wacz.fetchRecords(spark, ptr, dir).collect()) }
  }

  /** a fresh, empty directory */
  private def freshDir(dir: String): java.nio.file.Path = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
    Files.createDirectories(p)
  }

  private def writeFixture(dir: String): Unit = {
    freshDir(dir)
    Wacz.write(fixtureDf, dir)
  }

  /** the non-empty lines of a plain index entry, read by the JDK */
  private def jdkIndexLines(wacz: String, entry: String = "indexes/index.cdx"): Seq[String] = {
    val zf = new java.util.zip.ZipFile(wacz)
    try new String(zf.getInputStream(zf.getEntry(entry)).readAllBytes(), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq
    finally zf.close()
  }

  /** a ZIP of STORED entries, in the given order */
  private def storedZip(p: java.nio.file.Path, entries: (String, Array[Byte])*): Unit = {
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    try entries.foreach { case (name, bytes) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(bytes.length.toLong)
      e.setCompressedSize(bytes.length.toLong)
      val c = new java.util.zip.CRC32(); c.update(bytes)
      e.setCrc(c.getValue)
      e.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0))
      out.putNextEntry(e); out.write(bytes); out.closeEntry()
    } finally out.close()
  }

  private def gz(lines: String): Array[Byte] =
    graft.formats.Gzip.compressMember(lines.getBytes("UTF-8"))

  /** each entry's data offset in the archive at `path` */
  private def dataOffsets(path: java.nio.file.Path): Map[String, Long] = {
    val bytes = Files.readAllBytes(path)
    val read: (Long, Array[Byte]) => Unit =
      (pos, buf) => System.arraycopy(bytes, pos.toInt, buf, 0, buf.length)
    Wacz.centralDirectory(read, bytes.length.toLong)
      .map(e => e.name -> Wacz.dataOffset(read, e)).toMap
  }

  /** every message on an exception's cause chain */
  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("round trip: index scan + range fetch reproduce every record") {
    val dir = s"$base/rt"
    writeFixture(dir)
    assert(Files.list(Paths.get(dir)).filter(_.toString.endsWith(".wacz")).count() == 2)

    val idx = spark.read.format("wacz").load(s"$dir/*.wacz")
      .select("wacz", "urlkey", "url", "status", "filename")
      .collect().sortBy(r => (r.getString(0), r.getString(1)))
    assert(idx.length == 4)
    assert(idx.map(_.getString(0)).distinct.toSeq == Seq("w-0.wacz", "w-1.wacz"))
    // sorted by urlkey within each wacz, with the pointer fields
    assert(idx(0).getString(1) == "com,example)/a")
    assert(idx(0).getString(2) == "http://example.com/a")
    assert(idx(0).getInt(3) == 200)
    assert(idx(0).getString(4) == "w-0.warc.gz")
    assert(idx(2).isNullAt(3)) // the resource row
    // the raw CDXJ dialect, read by the JDK: numbers as strings, no
    // status on the resource row, filename naming the inner member
    val raw = jdkIndexLines(s"$dir/w-0.wacz")
    assert(raw.length == 3 && raw(0).startsWith("com,example)/a "))
    assert(raw(0).contains("\"url\":\"http://example.com/a\""))
    assert(raw(0).contains("\"status\":\"200\""))
    assert(raw(0).contains("\"filename\":\"w-0.warc.gz\""))
    assert(raw(2).startsWith("com,example)/r ") && !raw(2).contains("\"status\""))

    // fetch EVERY pointer back through the ZIP and compare payloads
    import org.apache.spark.sql.functions._
    val ptrs = spark.read.format("wacz").load(s"$dir/*.wacz")
      .select("wacz", "filename", "offset", "length")
    val got = Wacz.fetchRecords(spark, ptrs, dir)
      .select("url", "ts", "status", "mime", "payload")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)).orNull, r.getString(3),
        new String(r.getAs[Array[Byte]](4), "UTF-8"))).sortBy(_._1)
    assert(got.length == 4)
    assert(got(0) == (("http://example.com/a", "20200101000000", 200,
      "text/html", "alpha")))
    assert(got.map(_._5).toSeq.sorted ==
      Seq("alpha", "beta-body", "gamma \"quoted\"", "{\"x\":1}").sorted)

    assertWrongPointersFail(ptrs.orderBy("wacz", "filename", "offset").limit(1), dir)
  }

  test("JDK ZipFile agrees: entries STORED, inventory complete, pages correct") {
    val dir = s"$base/jdk"
    writeFixture(dir)
    val zf = new java.util.zip.ZipFile(s"$dir/w-0.wacz")
    try {
      import scala.jdk.CollectionConverters._
      val entries = zf.entries().asScala.toSeq
      assert(entries.map(_.getName).toSet == Set(
        "archive/w-0.warc.gz", "indexes/index.cdx", "pages/pages.jsonl",
        "datapackage.json", "datapackage-digest.json"))
      entries.foreach(e =>
        assert(e.getMethod == java.util.zip.ZipEntry.STORED, e.getName))
      val pages = new String(
        zf.getInputStream(zf.getEntry("pages/pages.jsonl")).readAllBytes(), "UTF-8")
        .split("\n").toSeq
      assert(pages.head.contains("json-pages-1.0"))
      // responses only (2 in w-0); the resource record is not a page
      assert(pages.tail.length == 2)
      assert(pages.tail.head.contains("\"title\":\"A\""))
      assert(!pages.tail(1).contains("\"title\"")) // null title omitted
      // the inner WARC read through the JDK stream parses via Warc.scan
      // machinery: write it out and scan
      val inner = zf.getInputStream(zf.getEntry("archive/w-0.warc.gz")).readAllBytes()
      val tmp = s"$dir/extracted.warc.gz"
      Files.write(Paths.get(tmp), inner)
      val scanned = graft.formats.Warc.scan(spark, tmp)
        .select("url").collect().map(_.getString(0)).sorted
      assert(scanned.toSeq == Seq("http://example.com/a", "http://example.com/b",
        "http://example.com/r"))
    } finally zf.close()
  }

  test("deterministic: two builds produce byte-identical archives") {
    val d1 = s"$base/det1"
    val d2 = s"$base/det2"
    writeFixture(d1)
    writeFixture(d2)
    Seq("w-0.wacz", "w-1.wacz").foreach { n =>
      val a = Files.readAllBytes(Paths.get(s"$d1/$n"))
      val b = Files.readAllBytes(Paths.get(s"$d2/$n"))
      assert(java.util.Arrays.equals(a, b), s"$n differs between builds")
    }
  }

  test("verify: all ok on a clean archive; tamper flips exactly the touched resource") {
    val dir = s"$base/verify"
    writeFixture(dir)
    val clean = Wacz.verify(spark, s"$dir/*.wacz")
      .select("wacz", "path", "ok").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(clean.length == 8) // 2 wacz x (3 resources + manifest seal)
    assert(clean.forall(_._3), clean.mkString(", "))

    // flip one byte INSIDE the stored WARC entry's data (well past the
    // zip local header): only archive/w-0.warc.gz must fail
    val f = Paths.get(s"$dir/w-0.wacz")
    val bytes = Files.readAllBytes(f)
    // locate the gzip member magic of the inner warc (first 1f 8b after
    // the local header region) and flip a byte 20 further in
    val gz = bytes.indexOfSlice(Seq(0x1f.toByte, 0x8b.toByte, 0x08.toByte))
    assert(gz > 0)
    bytes(gz + 20) = (bytes(gz + 20) ^ 0x5a).toByte
    Files.write(f, bytes)
    val tampered = Wacz.verify(spark, s"$dir/w-0.wacz")
      .select("path", "ok").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(!tampered("archive/w-0.warc.gz"))
    assert(tampered("indexes/index.cdx"))
    assert(tampered("pages/pages.jsonl"))
    assert(tampered("datapackage.json"))
  }

  test("a .warc.zst shard packages a .warc.gz inner member, not stacked extensions") {
    val dir = s"$base/zstshard"
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
    Files.createDirectories(p)
    val df = fixtureDf.withColumn("shard",
      org.apache.spark.sql.functions.lit("seg/z-0.warc.zst"))
    Wacz.write(df, dir)
    val zf = new java.util.zip.ZipFile(s"$dir/z-0.wacz")
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSet
      assert(names.contains("archive/z-0.warc.gz"),
        s"inner member must strip the container extension first: $names")
      assert(!names.exists(_.contains(".warc.zst.warc.gz")), names.toString)
      val idx = new String(
        zf.getInputStream(zf.getEntry("indexes/index.cdx")).readAllBytes(), "UTF-8")
      assert(idx.contains("\"filename\":\"z-0.warc.gz\""))
    } finally zf.close()
    // and the manifest verifies against the corrected path
    val ok = Wacz.verify(spark, s"$dir/*.wacz").select("ok")
      .collect().map(_.getBoolean(0))
    assert(ok.nonEmpty && ok.forall(identity))
  }

  test("a collection column packages MULTIPLE inner WARCs per archive") {
    val dir = s"$base/collection"
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
    Files.createDirectories(p)
    Wacz.write(fixtureDf.withColumn(
      "collection", org.apache.spark.sql.functions.lit("coll-A")), dir)
    assert(Files.list(p).filter(_.toString.endsWith(".wacz")).count() == 1)

    val zf = new java.util.zip.ZipFile(s"$dir/coll-A.wacz")
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSet
      assert(names == Set("archive/w-0.warc.gz", "archive/w-1.warc.gz",
        "indexes/index.cdx", "pages/pages.jsonl",
        "datapackage.json", "datapackage-digest.json"), names.toString)
      // the merged index is urlkey-sorted ACROSS members, each line
      // naming the record's OWN inner member
      val idx = new String(
        zf.getInputStream(zf.getEntry("indexes/index.cdx")).readAllBytes(), "UTF-8")
        .split("\n").filter(_.nonEmpty)
      assert(idx.map(_.split(" ")(0)).toSeq == idx.map(_.split(" ")(0)).sorted.toSeq)
      assert(idx.count(_.contains("\"filename\":\"w-0.warc.gz\"")) == 3)
      assert(idx.count(_.contains("\"filename\":\"w-1.warc.gz\"")) == 1)
    } finally zf.close()

    // every pointer replays through ITS member
    import org.apache.spark.sql.functions._
    val ptrs = spark.read.format("wacz").load(s"$dir/*.wacz")
      .select("wacz", "filename", "offset", "length")
    val got = Wacz.fetchRecords(spark, ptrs, dir)
      .select("payload").collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8")).sorted.toSeq
    assert(got == Seq("alpha", "beta-body", "gamma \"quoted\"", "{\"x\":1}").sorted)
    // wrong pointers into the SECOND member fail loudly too
    assertWrongPointersFail(
      ptrs.filter(col("filename") === "w-1.warc.gz").limit(1), dir)

    // manifest verifies every inner member + the index + pages + seal
    val ver = Wacz.verify(spark, s"$dir/*.wacz")
      .select("path", "ok").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(ver.size == 5, ver.toString)
    assert(ver.keySet.contains("archive/w-0.warc.gz") &&
      ver.keySet.contains("archive/w-1.warc.gz"))
    assert(ver.values.forall(identity), ver.toString)
  }

  /** the blocks a prefix read selects out of an index whose
    * blocks start at `firstKeys`: ZipNum's pruning rule over its prefix
    * bounds, as block numbers */
  private def selectBlocks(firstKeys: IndexedSeq[String], prefix: String): Seq[Int] = {
    val (lo, hi) = ZipNum.prefixBounds(prefix)
    val idx = firstKeys.zipWithIndex.map { case (k, i) => ZipNum.IdxEntry(k, "", 0, 0, i) }
    ZipNum.selectBlocks(idx, lo, hi).map(_.seq.toInt)
  }

  test("selectBlocks is tight and lossless, including boundary-straddling key runs") {
    val fks = IndexedSeq("a", "c", "c", "f")
    // a run of 'c' keys can straddle blocks 0-2 (closed upper bounds)
    assert(selectBlocks(fks, "c") == Seq(0, 1, 2))
    assert(selectBlocks(fks, "a") == Seq(0))
    assert(selectBlocks(fks, "b") == Seq(0))
    // block 2 covers [c, f] CLOSED — it may end with an 'f' key, so the
    // lossless selection includes it alongside the block that starts at f
    assert(selectBlocks(fks, "f") == Seq(2, 3))
    assert(selectBlocks(fks, "g") == Seq(3)) // last block is open-ended

    // SCALE SHAPE: a point prefix selects O(1) blocks no matter how many
    // the index holds — the pruning that makes a packaged 100 GB archive
    // answer a lookup in two positioned reads
    val many = (0 until 100000).map(i => f"k$i%06d").toIndexedSeq
    val sel = selectBlocks(many, "k050000")
    assert(sel.size <= 2, s"point prefix selected ${sel.size} of 100k blocks")
    assert(sel.contains(50000))
  }

  test("selectBlocks compares in UTF-8 byte order — supplementary-char prefixes keep their blocks") {
    // Spark sorts the index in UTF-8 bytes: U+FF61 (EF BD A1) < U+1F600
    // (F0 9F 98 80). Java's UTF-16 compareTo INVERTS them (0xFF61 >
    // 0xD83D), and a U+FFFF sentinel sorts BELOW supplementary chars —
    // either mistake silently drops the straddling block for an
    // emoji/supplementary prefix.
    val fks = IndexedSeq("com/a", "com/｡a", "com/😀x")
    val sel = selectBlocks(fks, "com/😀")
    assert(sel == Seq(1, 2), s"got $sel")
  }

  test("a prefix read prunes through a CDXJ-json idx and honors its filename field") {
    val dir = s"$base/jsonidx"
    freshDir(dir)
    // two block members: a pointer that ignored its filename would read
    // the com block at offset 0 of index.cdx.gz for the org prefix
    val b1 = gz("com,a)/ 20200101000000 {\"url\":\"http://a/\"}\n" +
      "com,b)/ 20200102000000 {\"url\":\"http://b/\"}\n")
    val b2 = gz("org,c)/ 20200103000000 {\"url\":\"http://c/\"}\n")
    val idx = (s"""com,a)/ 20200101000000 {"offset": 0, "length": ${b1.length}, "filename": "index.cdx.gz"}""" +
      "\n" +
      s"""org,c)/ 20200103000000 {"offset": 0, "length": ${b2.length}, "filename": "part-1.cdx.gz"}""" +
      "\n").getBytes("UTF-8")
    storedZip(Paths.get(s"$dir/jsonidx.wacz"),
      "indexes/index.cdx.gz" -> b1, "indexes/part-1.cdx.gz" -> b2, "indexes/index.idx" -> idx)
    import org.apache.spark.sql.functions.col
    def read(prefix: String): Seq[(String, String, String)] =
      spark.read.format("wacz").load(s"$dir/*.wacz")
        .where(col("urlkey").startsWith(prefix)).select("urlkey", "ts", "url")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(read("org,") == Seq(("org,c)/", "20200103000000", "http://c/")))
    assert(read("com,") == Seq(("com,a)/", "20200101000000", "http://a/"),
      ("com,b)/", "20200102000000", "http://b/")))
  }

  test("big-archive index form: blocked cdx.gz + idx; pruned lookup == filtered scan") {
    val dir = s"$base/blocked"
    freshDir(dir)
    Wacz.write(fixtureDf.withColumn(
      "collection", org.apache.spark.sql.functions.lit("big")), dir,
      indexLinesPerBlock = 2)

    val zf = new java.util.zip.ZipFile(s"$dir/big.wacz")
    try {
      import scala.jdk.CollectionConverters._
      val byName = zf.entries().asScala.map(e => e.getName -> e).toMap
      assert(byName.contains("indexes/index.cdx.gz") &&
        byName.contains("indexes/index.idx"), byName.keySet.toString)
      byName.values.foreach(e =>
        assert(e.getMethod == java.util.zip.ZipEntry.STORED, e.getName))
      // 4 records at 2 lines/block = 2 blocks = 2 idx pointer lines
      val idx = new String(zf.getInputStream(
        zf.getEntry("indexes/index.idx")).readAllBytes(), "UTF-8")
        .split("\n").filter(_.nonEmpty)
      assert(idx.length == 2, idx.toSeq.toString)
      assert(idx.forall(_.split("\t").length == 4), idx.toSeq.toString)
    } finally zf.close()

    // the full scan reads the blocked form transparently
    import org.apache.spark.sql.functions.col
    val scan = spark.read.format("wacz").load(s"$dir/*.wacz")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).sortBy(_.mkString(" ")).toSeq
    val full = rows(scan)
    assert(full.length == 4)
    // pruned read == prefix filter of the full scan (losslessness)
    val pruned = rows(scan.where(col("urlkey").startsWith("com,example)")))
    assert(pruned == full.filter(_(1).toString.startsWith("com,example)")), pruned.toString)
    assert(pruned.length == 3)
    // and the manifest still verifies (5 resources + the seal)
    val ver = Wacz.verify(spark, s"$dir/*.wacz").select("path", "ok")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(ver.size == 6 && ver.values.forall(identity), ver.toString)
  }

  test("a prefix read skips unselected blocks: a corrupt one fails only the full read") {
    val dir = s"$base/prune"
    freshDir(dir)
    Wacz.write(fixtureDf.withColumn(
      "collection", org.apache.spark.sql.functions.lit("big")), dir,
      indexLinesPerBlock = 2)
    val f = Paths.get(s"$dir/big.wacz")
    // block 0 holds com,example)/a and /b; the prefix org, selects only
    // block 1 (its first key com,example)/r is below org, but block 0
    // ends below it)
    val idx = jdkIndexLines(f.toString, "indexes/index.idx").map(_.split("\t"))
    assert(idx.map(_(0)) == Seq("com,example)/a", "com,example)/r"))
    val block0 = (dataOffsets(f)("indexes/index.cdx.gz") + idx(0)(2).toLong).toInt
    val len0 = idx(0)(3).toInt
    val bytes = Files.readAllBytes(f)
    // a byte of block 0's deflate data (after the 10-byte gzip header,
    // before the 8-byte trailer) whose flip still inflates to as many
    // bytes from the same input, so only the CRC check can catch it
    val deflate = bytes.slice(block0 + 10, block0 + len0 - 8)
    def inflatesWhole(d: Array[Byte]): Option[Array[Byte]] = {
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(d)
        val out = new Array[Byte](4096)
        val n = inf.inflate(out)
        if (inf.finished() && inf.getRemaining == 0) Some(out.take(n)) else None
      } catch { case _: java.util.zip.DataFormatException => None } finally inf.end()
    }
    val clean = inflatesWhole(deflate).get
    val at = deflate.indices.find { i =>
      val d = deflate.clone(); d(i) = (d(i) ^ 0x01).toByte
      inflatesWhole(d).exists(o => o.length == clean.length && !o.sameElements(clean))
    }.get
    bytes(block0 + 10 + at) = (bytes(block0 + 10 + at) ^ 0x01).toByte
    Files.write(f, bytes)

    import org.apache.spark.sql.functions.col
    val scan = spark.read.format("wacz").load(f.toString)
    val pruned = scan.where(col("urlkey").startsWith("org,"))
      .select("urlkey", "url", "filename").collect().map(_.toSeq).toSeq
    assert(pruned == Seq(Seq("org,example)/c", "http://example.org/c", "w-1.warc.gz")))
    val msgs = messages(intercept[Exception](scan.collect()))
    assert(msgs.exists(_.contains("CRC")), msgs.mkString(" | "))
  }

  /** An archive with a WARC member and a two-block index whose idx is
    * `idx(rel, w, b1, b2)`: `rel` is the WARC member's data offset
    * relative to index.cdx.gz's (negative: it comes first), `w` its
    * length, b1 and b2 the block lengths. The WARC member decodes to a
    * well-formed index line under the prefix org,, so a pointer that
    * reaches it yields a wrong row. */
  private def lyingArchive(dir: String)(idx: (Long, Int, Int, Int) => String): String = {
    freshDir(dir)
    val warc = gz("org,evil)/ 20200101000000 {\"url\":\"http://evil/\"}\n")
    val b1 = gz("org,a)/ 20200101000000 {\"url\":\"http://a/\"}\n")
    val b2 = gz("org,b)/ 20200102000000 {\"url\":\"http://b/\"}\n")
    val cdxName = "indexes/index.cdx.gz"
    // STORED entries with no extra field: data follows a 30-byte local
    // header and the name
    val rel = -(warc.length + 30L + cdxName.length)
    val path = s"$dir/lie.wacz"
    storedZip(Paths.get(path), "archive/x.warc.gz" -> warc, cdxName -> (b1 ++ b2),
      "indexes/index.idx" -> idx(rel, warc.length, b1.length, b2.length).getBytes("UTF-8"))
    val off = dataOffsets(Paths.get(path))
    assert(off("archive/x.warc.gz") - off(cdxName) == rel)
    path
  }

  /** the prefix read of `path` must fail naming the archive and `line` */
  private def assertLieFails(path: String, line: String): Unit = {
    import org.apache.spark.sql.functions.col
    val msgs = messages(intercept[Exception](spark.read.format("wacz").load(path)
      .where(col("urlkey").startsWith("org,")).collect()))
    assert(msgs.exists(m => m.contains("lie.wacz") && m.contains(line)), msgs.mkString(" | "))
  }

  test("an idx pointer with a negative offset into the WARC bytes fails loudly") {
    var line = ""
    val path = lyingArchive(s"$base/lie_negative_offset") { (rel, w, b1, b2) =>
      line = s"org,a)/\tindex.cdx.gz\t$rel\t$w"
      s"$line\norg,b)/\tindex.cdx.gz\t$b1\t$b2\n"
    }
    assertLieFails(path, line)
  }

  test("an idx pointer with a zero or negative length fails loudly") {
    for (len <- Seq("0", "-7")) {
      var line = ""
      val path = lyingArchive(s"$base/lie_length") { (_, _, b1, b2) =>
        line = s"org,b)/\tindex.cdx.gz\t$b1\t$len"
        s"org,a)/\tindex.cdx.gz\t0\t$b1\n$line\n"
      }
      withClue(len) { assertLieFails(path, line) }
    }
  }

  test("an idx pointer past the end of its entry fails loudly") {
    var line = ""
    val path = lyingArchive(s"$base/lie_oversized") { (_, _, b1, b2) =>
      line = s"org,b)/\tindex.cdx.gz\t$b1\t${b2 + 1}"
      s"org,a)/\tindex.cdx.gz\t0\t$b1\n$line\n"
    }
    assertLieFails(path, line)
  }

  test("an idx json pointer with a non-numeric offset fails loudly") {
    var line = ""
    val path = lyingArchive(s"$base/lie_json_text") { (_, _, b1, b2) =>
      line = s"""org,b)/ 20200102000000 {"offset": "x", "length": $b2}"""
      s"""org,a)/ 20200101000000 {"offset": 0, "length": $b1}\n$line\n"""
    }
    assertLieFails(path, line)
  }

  test("an idx json pointer with a negative offset fails loudly") {
    var line = ""
    val path = lyingArchive(s"$base/lie_json_negative") { (rel, w, b1, b2) =>
      line = s"""org,a)/ 20200101000000 {"offset": $rel, "length": $w}"""
      s"""$line\norg,b)/ 20200102000000 {"offset": $b1, "length": $b2}\n"""
    }
    assertLieFails(path, line)
  }

  test("an idx json pointer with a fractional length fails loudly") {
    var line = ""
    val path = lyingArchive(s"$base/lie_json_fraction") { (_, _, b1, b2) =>
      line = s"""org,b)/ 20200102000000 {"offset": $b1, "length": $b2.9}"""
      s"""org,a)/ 20200101000000 {"offset": 0, "length": $b1}\n$line\n"""
    }
    assertLieFails(path, line)
  }

  test("a truncated DEFLATED entry fails loudly instead of hanging") {
    val dir = s"$base/truncated"
    Files.createDirectories(Paths.get(dir))
    val p = Paths.get(s"$dir/trunc.wacz")
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    try {
      val e = new java.util.zip.ZipEntry("indexes/index.cdx") // DEFLATED
      e.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0))
      out.putNextEntry(e)
      out.write(("com,x)/ 20200101000000 {\"url\":\"http://x.com/\"}\n" * 50).getBytes("UTF-8"))
      out.closeEntry()
    } finally out.close()
    // zero the tail half of the deflate data (directory sizes stay as
    // declared): inflate stalls or errors mid-output — must THROW
    val bytes = Files.readAllBytes(p)
    val dataStart = 30 + "indexes/index.cdx".length
    def findSig(b: Array[Byte], from: Int): Int = {
      var i = from
      while (i + 4 < b.length) {
        if (b(i) == 0x50 && b(i + 1) == 0x4b && b(i + 2) == 0x01 && b(i + 3) == 0x02)
          return i
        i += 1
      }
      -1
    }
    val cd = findSig(bytes, dataStart)
    val dataEnd = cd - 16 // deflated entry carries a 16-byte data descriptor
    assert(cd > 0 && dataEnd - dataStart > 20, s"cd=$cd dataStart=$dataStart")
    java.util.Arrays.fill(bytes, dataStart + (dataEnd - dataStart) / 2, dataEnd, 0.toByte)
    Files.write(p, bytes)
    val ex = intercept[Exception] {
      spark.read.format("wacz").load(s"$dir/trunc.wacz").collect()
    }
    assert(ex.getMessage != null)
  }

  test("centralDirectory parses a ZIP64 directory (entry-count overflow)") {
    val p = Paths.get(s"$base/zip64.zip")
    Files.createDirectories(p.getParent)
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    val n = 70000 // > 0xFFFF forces the ZIP64 end-of-central-directory
    try {
      var i = 0
      while (i < n) {
        val e = new java.util.zip.ZipEntry(f"e$i%05d")
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(0); e.setCompressedSize(0); e.setCrc(0)
        e.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0))
        out.putNextEntry(e)
        out.closeEntry()
        i += 1
      }
    } finally out.close()
    val ch = java.nio.channels.FileChannel.open(p)
    try {
      val read: (Long, Array[Byte]) => Unit = (pos, buf) => {
        val bb = java.nio.ByteBuffer.wrap(buf)
        var off = pos
        while (bb.hasRemaining) {
          val r = ch.read(bb, off)
          assert(r > 0); off += r
        }
      }
      val entries = Wacz.centralDirectory(read, Files.size(p))
      assert(entries.length == n)
      assert(entries.head.name == "e00000" && entries.last.name == f"e${n - 1}%05d")
    } finally ch.close()
  }

  test("format(wacz) reads a foreign DEFLATED index entry") {
    val dir = s"$base/foreign"
    Files.createDirectories(Paths.get(dir))
    val p = Paths.get(s"$dir/foreign.wacz")
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    try {
      val e = new java.util.zip.ZipEntry("indexes/index.cdx") // default DEFLATED
      e.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0))
      out.putNextEntry(e)
      out.write("com,x)/ 20200101000000 {\"url\":\"http://x.com/\"}\n".getBytes("UTF-8"))
      out.closeEntry()
    } finally out.close()
    val rows = spark.read.format("wacz").load(s"$dir/*.wacz")
      .select("wacz", "urlkey", "ts", "url").collect()
    assert(rows.map(_.toSeq).toSeq ==
      Seq(Seq("foreign.wacz", "com,x)/", "20200101000000", "http://x.com/")))
  }

  test("write pre-flight rejects EMPTY normalized basenames (trailing '/', bare extension)") {
    val dir = s"$base/emptyname"
    Files.createDirectories(Paths.get(dir))
    // collection ending in '/' → basename '' → hidden '.wacz'
    val e1 = intercept[IllegalArgumentException] {
      Wacz.write(fixtureDf.withColumn("collection",
        org.apache.spark.sql.functions.lit("seg/")), dir)
    }
    assert(e1.getMessage.contains("NON-EMPTY"), e1.getMessage)
    // shard named exactly '.warc.gz' → inner basename '' → hidden member
    val e2 = intercept[IllegalArgumentException] {
      Wacz.write(fixtureDf
        .withColumn("collection", org.apache.spark.sql.functions.lit("ok-coll"))
        .withColumn("shard", org.apache.spark.sql.functions.lit(".warc.gz")), dir)
    }
    assert(e2.getMessage.contains("non-empty"), e2.getMessage)
    // leading-dot / leading-underscore basenames are equally unreadable:
    // every reader's hidden-file exclusion (and the stale-temp sweep)
    // skips them — the pre-flight must reject, not write
    Seq(".staging", "_tmp").foreach { bad =>
      val e3 = intercept[IllegalArgumentException] {
        Wacz.write(fixtureDf.withColumn("collection",
          org.apache.spark.sql.functions.lit(bad)), dir)
      }
      assert(e3.getMessage.contains("non-hidden"), s"$bad: ${e3.getMessage}")
      val e4 = intercept[IllegalArgumentException] {
        Wacz.write(fixtureDf
          .withColumn("collection", org.apache.spark.sql.functions.lit("ok-coll"))
          .withColumn("shard",
            org.apache.spark.sql.functions.lit(s"$bad.warc.gz")), dir)
      }
      assert(e4.getMessage.contains("non-hidden"), s"$bad inner: ${e4.getMessage}")
    }
    // nothing was written
    assert(Files.list(Paths.get(dir)).filter(_.toString.endsWith(".wacz")).count() == 0)
  }

  test("format(wacz) and verify expand a directory to its .wacz children") {
    val dir = s"$base/dirglob"
    writeFixture(dir)
    // the glob matches the DIRECTORY itself — readers expand to children
    def index(path: String): Seq[String] = spark.read.format("wacz").load(path)
      .select("wacz", "urlkey", "ts").collect().map(_.mkString(" ")).sorted.toSeq
    val viaDir = index(dir)
    assert(viaDir == index(s"$dir/*.wacz") && viaDir.length == 4, viaDir.toString)
    assert(Wacz.verify(spark, dir).count() == 8)
    // a directory with NO archives fails loudly, not an empty frame
    val empty = s"$base/dirglob_empty"
    Files.createDirectories(Paths.get(empty))
    val ex = intercept[IllegalArgumentException] {
      Wacz.verify(spark, empty)
    }
    assert(ex.getMessage.contains("no archive files"), ex.getMessage)
    // the V2 source lists archives through the same rule
    val msgs = messages(intercept[Exception](spark.read.format("wacz").load(empty).count()))
    assert(msgs.exists(_.contains("no archive files")), msgs.mkString(" | "))
  }

  test("verify reports a corrupt DEFLATED resource as ok=false instead of aborting the glob") {
    val dir = s"$base/verify_corrupt"
    val p0 = Paths.get(dir)
    if (Files.exists(p0))
      Files.walk(p0).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
    Files.createDirectories(p0)
    // a clean engine-written archive next to a foreign one with a
    // DEFLATED resource whose stream we corrupt mid-data
    writeFixture(dir)
    val p = Paths.get(s"$dir/zforeign.wacz")
    // incompressible body so the deflate stream is long enough that the
    // corruption window below stays strictly inside the entry's data
    val body = new Array[Byte](8192)
    new java.util.Random(42L).nextBytes(body)
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    try {
      val e = new java.util.zip.ZipEntry("archive/x.warc.gz") // DEFLATED
      e.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0))
      out.putNextEntry(e); out.write(body); out.closeEntry()
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(body)
      val hexSha = sha.map(b => f"$b%02x").mkString
      val dp = (s"""{"resources":[{"path":"archive/x.warc.gz",""" +
        s""""hash":"sha256:$hexSha","bytes":${body.length}}]}""").getBytes("UTF-8")
      val de = new java.util.zip.ZipEntry("datapackage.json")
      de.setMethod(java.util.zip.ZipEntry.STORED)
      de.setSize(dp.length.toLong); de.setCompressedSize(dp.length.toLong)
      val crc = new java.util.zip.CRC32(); crc.update(dp)
      de.setCrc(crc.getValue)
      de.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0))
      out.putNextEntry(de); out.write(dp); out.closeEntry()
    } finally out.close()
    // zero a run inside the deflate data so inflate errors or stalls
    val bytes = Files.readAllBytes(p)
    val dataStart = 30 + "archive/x.warc.gz".length
    java.util.Arrays.fill(bytes, dataStart + 40, dataStart + 120, 0.toByte)
    Files.write(p, bytes)
    val ver = Wacz.verify(spark, s"$dir/*.wacz")
      .select("wacz", "path", "ok").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    // the corrupt resource is a per-resource failure…
    assert(ver(("zforeign.wacz", "archive/x.warc.gz")) == false, ver.toString)
    // …and the clean archives in the SAME glob still verified green
    assert(ver.count { case ((w, _), ok) => w != "zforeign.wacz" && ok } == 8, ver.toString)
  }
}
