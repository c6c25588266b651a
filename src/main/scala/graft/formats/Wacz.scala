package graft.formats

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** WACZ (Web Archive Collection Zipped) — the Webrecorder packaging
  * format (public spec: specs.webrecorder.net/wacz/1.1.1; py-wacz /
  * wabac.js are the public implementations, from the same ecosystem as
  * the reference indexer's pywb stack — reference recon SURVEY §0): ONE
  * ZIP holding the WARC data, its sorted CDXJ index, a page list, and a
  * frictionless `datapackage.json` whose per-resource sha256 hashes make
  * the archive self-verifying. The point of the format is that the ZIP
  * members are STORED (not deflated), so a reader can range-request the
  * index, then range-request one WARC record through the ZIP — exactly
  * the CDX offset/length discipline the rest of this engine serves.
  *
  * Layout written per archive (all entries STORED, range-readable):
  * {{{
  *   archive/<base>.warc.gz     one gzip member per record (Warc.scan's unit)
  *   indexes/index.cdx          CDXJ, sorted by (urlkey, ts); offsets point
  *                              into the inner .warc.gz, filename = <base>.warc.gz
  *   pages/pages.jsonl          json-pages-1.0 header + one page per response
  *   datapackage.json           frictionless resource list with sha256 + bytes
  *   datapackage-digest.json    sha256 over datapackage.json itself
  * }}}
  *
  * Determinism: entry timestamps are a fixed constant (no wall clock in
  * the bytes — the WarcSink warcinfo discipline), `datapackage.json`
  * omits the spec-optional `created` stamp, and page ids derive from
  * (url, ts). Two writes of the same frame are byte-identical, which is
  * what lets WaczSpec golden-pin the container.
  *
  * Scale: one `.wacz` per collection (default: per shard — parallelism
  * = collection count, the WarcSink convention); the writer streams
  * each collection through fixed-size buffers — records are never
  * accumulated (each inner WARC, the index, and the page list stage to
  * sibling temp files and are then STREAMED into the ZIP), so task
  * memory is O(1 record) + one open stream per shard in the collection. Reads never touch
  * O(archive) bytes to answer an O(index) or O(record) question: the
  * central directory is located from one bounded tail read, the index
  * entry is read by position, and [[fetchRecords]] range-reads single
  * gzip members through the STORED entry. ZIP64 (archives > 4 GiB or >
  * 64 Ki entries) is handled on BOTH paths — java.util.zip's writer
  * switches automatically, and [[centralDirectory]] parses the ZIP64
  * end-of-central-directory record and per-entry extra fields.
  *
  * Multi-WARC collections (spec-legal, the py-wacz crawl-segment
  * packaging) are supported on BOTH sides: the writer groups shards
  * under an optional `collection` column (one inner member per shard,
  * merged urlkey-sorted index), and every reader resolves any number of
  * `archive/` members. The spec's big-archive index form
  * (`indexes/index.cdx.gz` blocks + `indexes/index.idx` pointers) is
  * supported BOTH ways: `write(indexLinesPerBlock > 0)` emits it, and
  * `spark.read.format("wacz")` ([[graft.sources.WaczSource]], the one
  * index reader) serves a urlkey-bounded query off it reading only the
  * idx + matching blocks ([[indexBlocks]]). Fidelity bounds (documented,
  * loud where reachable):
  * encrypted or signed datapackage extensions (WACZ signing spec) are
  * out of scope.
  */
object Wacz {

  /** fixed entry mtime — DOS-representable, so java.util.zip adds no
    * per-entry extended-timestamp extra field and output stays stable */
  private val FixedTime = java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0)

  /** `crawl/seg-3/warc-17.warc.gz` -> `warc-17.wacz` (the sidecar-base
    * convention WET/WAT use). KEEP IN LOCKSTEP with [[waczNameCol]]. */
  private[graft] def waczName(shard: String): String = {
    val base = shard.substring(shard.lastIndexOf('/') + 1)
      .replaceAll("\\.warc\\.(gz|zst)$", "")
    base + ".wacz"
  }

  /** the archive member's name: container extension STRIPPED first, so a
    * `.warc.zst` shard packages as `<base>.warc.gz` (the inner member is
    * always gzip — the CDXJ offsets point into gzip members) instead of
    * stacking extensions. KEEP IN LOCKSTEP with the wacz_verify oracle's
    * `archive/` path arm. */
  private[graft] def innerWarcName(shard: String): String = {
    val base = shard.substring(shard.lastIndexOf('/') + 1)
      .replaceAll("\\.warc\\.(gz|zst)$", "")
    base + ".warc.gz"
  }

  /** Catalyst twin of [[waczName]] (codegen-friendly repartition key) */
  private[graft] def waczNameCol(shard: Column): Column =
    concat(
      regexp_replace(substring_index(shard, "/", -1), "\\.warc\\.(gz|zst)$", ""),
      lit(".wacz"))

  /** Catalyst twin of [[innerWarcName]] (pre-flight clash check) */
  private[graft] def innerWarcNameCol(shard: Column): Column =
    concat(
      regexp_replace(substring_index(shard, "/", -1), "\\.warc\\.(gz|zst)$", ""),
      lit(".warc.gz"))

  /** minimal JSON string escaper for the in-task index/pages lines (the
    * writer runs where `to_json` can't — offsets exist only mid-write) */
  private def jstr(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case ch if ch < 0x20 => b.append(f"\\u${ch.toInt}%04x")
        case ch => b.append(ch)
      }
      i += 1
    }
    b.append('"')
    b.toString
  }

  /** staged sidecar stream: counts bytes and keeps CRC32 + SHA-256 as
    * they pass, so the ZIP assembly phase has STORED-entry metadata and
    * the datapackage hash without re-reading the temp */
  private final class Staged(fs: org.apache.hadoop.fs.FileSystem, val path: Path) {
    private val crc = new java.util.zip.CRC32()
    private val sha = java.security.MessageDigest.getInstance("SHA-256")
    private var n = 0L
    private val raw = fs.create(path, true)
    private var shaHex: String = null
    val out: java.io.OutputStream = new java.io.OutputStream {
      override def write(b: Int): Unit = {
        raw.write(b); crc.update(b); sha.update(b.toByte); n += 1
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        raw.write(b, off, len); crc.update(b, off, len); sha.update(b, off, len)
        n += len
      }
    }
    def finish(): Unit = { raw.close(); shaHex = hex(sha.digest()) }
    def size: Long = n
    def crcValue: Long = crc.getValue
    def sha256: String = shaHex
  }

  private def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"$x%02x"))
    sb.toString
  }

  private def putStored(
      zip: java.util.zip.ZipOutputStream, name: String, size: Long, crc: Long)(
      body: java.io.OutputStream => Unit): Unit = {
    val e = new java.util.zip.ZipEntry(name)
    e.setMethod(java.util.zip.ZipEntry.STORED)
    e.setSize(size)
    e.setCompressedSize(size)
    e.setCrc(crc)
    e.setTimeLocal(FixedTime)
    zip.putNextEntry(e)
    body(zip)
    zip.closeEntry()
  }

  private def crc32(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32(); c.update(bytes); c.getValue
  }

  /** Write `df` (columns: shard, urlkey, url, ts [14-digit], status,
    * mime, payload [binary]; optional title; optional collection) as one
    * `.wacz` per distinct COLLECTION under `dir` — a collection holds
    * one inner `.warc.gz` per distinct shard it contains (the spec-legal
    * multi-WARC form py-wacz packages crawl segments as). Without a
    * `collection` column every shard is its own collection (one wacz,
    * one inner WARC — the simple form). Records render through the same
    * WARC/1.0 framing as [[WarcSink]] (one gzip member each); the CDXJ
    * index is emitted in (urlkey, ts) order by the partition sort — no
    * in-memory sort, no buffering; records INTERLEAVE shards in urlkey
    * order, each appending to its own shard's staged member (one open
    * stream per shard in the collection — size collections accordingly).
    * Null status rows become `resource` records and still index; pages
    * list responses only. Publish is per-file attempt-isolated (write
    * `.tmp`, rename into place), the CdxSink discipline.
    *
    * `indexLinesPerBlock > 0` writes the spec's BIG-ARCHIVE index form
    * instead of the plain `index.cdx`: `indexes/index.cdx.gz` (CDXJ
    * lines in gzip-member blocks of that many lines — the ZipNum block
    * unit) plus `indexes/index.idx` (one `firstKey TAB index.cdx.gz TAB
    * offset TAB length` line per block), so `format("wacz")` answers a
    * urlkey-bounded query reading only the idx and the matching blocks —
    * never the whole index. The reader reads both forms. */
  def write(df: DataFrame, dir: String, indexLinesPerBlock: Int = 0): Unit = {
    val need = Seq("shard", "urlkey", "url", "ts", "status", "mime", "payload")
    require(need.forall(df.columns.contains),
      s"Wacz.write needs [${need.mkString(", ")}]; got [${df.columns.mkString(", ")}]")
    val hasCollection = df.columns.contains("collection")
    val df1 = if (hasCollection) df else df.withColumn("collection", col("shard"))
    val cols = Seq("collection") ++ need ++
      (if (df.columns.contains("title")) Seq("title") else Nil)
    val spark = df.sparkSession
    // VALIDATE BEFORE WRITE (the WarcSink pre-flight): collection
    // basenames name the output files; shard basenames name the inner
    // members — both must be non-null and collision-free at their level
    // a value whose normalized basename is EMPTY (trailing '/', bare
    // extension) or starts with '.'/'_' produces an output that the
    // stale-temp sweep, the '*.wacz' globs, and every reader's
    // hidden-file exclusion all skip: written but silently unreadable.
    // Reject them up front alongside null and clashes.
    val hidden = col("base").isNull ||
      col("base").startsWith(".") || col("base").startsWith("_")
    val clash = df1.select(col("collection"))
      .groupBy(waczNameCol(col("collection")).as("base"))
      .agg(countDistinct(col("collection")).as("n"))
      .filter(hidden || col("n") > 1)
      .limit(5).collect()
    require(clash.isEmpty,
      "Wacz.write: collection values must be non-null with unique, " +
        "NON-EMPTY, non-hidden (no leading '.' or '_') normalized " +
        "basenames (they name the output .wacz files); offending: " +
        clash.map(r => String.valueOf(r.get(0))).mkString(", "))
    val hiddenInner = col("inner").isNull ||
      col("inner").startsWith(".") || col("inner").startsWith("_")
    val innerClash = df1.select(col("collection"), col("shard"))
      .groupBy(waczNameCol(col("collection")).as("wacz"),
        innerWarcNameCol(col("shard")).as("inner"))
      .agg(countDistinct(col("shard")).as("n"))
      .filter(hiddenInner || col("n") > 1)
      .limit(5).collect()
    require(innerClash.isEmpty,
      "Wacz.write: shard values must be non-null and their normalized " +
        "basenames non-empty, non-hidden (no leading '.' or '_'), and " +
        "unique WITHIN each collection (they name the inner WARC " +
        "members); offending: " +
        innerClash.map(r => s"${r.get(0)}!${r.get(1)}").mkString(", "))
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    // reap dead attempts' staged leftovers: a task that died mid-archive
    // leaves `.<name>.<attempt>.*.tmp` behind and retries use a NEW
    // attempt id, so nothing ever overwrites them. Age-gated (the
    // WarcSink staging-sweep discipline) so a concurrent writer's live
    // temps survive a single-writer-contract violation.
    val staleCutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    fs.listStatus(dirPath).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith(".") && n.endsWith(".tmp") &&
          st.getModificationTime < staleCutoff)
        fs.delete(st.getPath, false)
    }
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val outDir = dir
    df1.select(cols.map(col): _*)
      .repartition(waczNameCol(col("collection")))
      .sortWithinPartitions("collection", "urlkey", "ts", "url")
      .foreachPartition { (it: Iterator[Row]) =>
        val iTitle = cols.indexOf("title")
        val pfs = org.apache.hadoop.fs.FileSystem.newInstance(
          new Path(outDir).toUri, sconf.value)
        pfs.setWriteChecksum(false)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(tc => s"${tc.partitionId()}-${tc.taskAttemptId()}")
          .getOrElse(java.util.UUID.randomUUID().toString)
        val sha1 = java.security.MessageDigest.getInstance("SHA-1")
        // one native Deflater per task across all members (the reused-
        // context discipline of WarcSink's gzip/zstd hot loops)
        val gzDeflater = Gzip.memberDeflater()

        final class InnerWarc(val staged: Staged) { var offset = 0L }
        var current: String = null      // collection value
        // inner members keyed by archive name, in first-appearance order
        // (one OPEN stream per shard in the collection)
        val warcs = scala.collection.mutable.LinkedHashMap.empty[String, InnerWarc]
        var cdx: Staged = null
        var idx: Staged = null          // big-archive form only
        var pages: Staged = null
        var lastShard: String = null
        var lastInner: String = null
        // big-archive form: CDXJ lines buffer into gzip-member BLOCKS of
        // indexLinesPerBlock lines (O(block) memory); each flushed block
        // appends one idx pointer line
        val blockBuf = new java.io.ByteArrayOutputStream()
        var blockLines = 0
        var blockFirstKey: String = null
        var cdxGzOffset = 0L
        def flushBlock(): Unit = if (blockLines > 0) {
          val len = Gzip.writeMember(cdx.out, blockBuf.toByteArray, gzDeflater)
          idx.out.write(
            s"$blockFirstKey\tindex.cdx.gz\t$cdxGzOffset\t$len\n".getBytes(UTF_8))
          cdxGzOffset += len
          blockBuf.reset(); blockLines = 0; blockFirstKey = null
        }
        def writeIndexLine(urlkey: String, line: Array[Byte]): Unit =
          if (indexLinesPerBlock <= 0) cdx.out.write(line)
          else {
            if (blockFirstKey == null) blockFirstKey = urlkey
            blockBuf.write(line, 0, line.length)
            blockLines += 1
            if (blockLines >= indexLinesPerBlock) flushBlock()
          }

        def tempPath(kind: String): Path =
          new Path(outDir, s".${waczName(current)}.$attempt.$kind.tmp")

        def cleanupCurrent(): Unit = if (current != null) {
          (warcs.values.map(_.staged.path).toSeq ++
            Seq(tempPath("cdx"), tempPath("idx"), tempPath("pages"),
              new Path(outDir, s".${waczName(current)}.$attempt.tmp")))
            .foreach(p => try pfs.delete(p, false) catch { case _: Throwable => })
        }

        // assemble the collection's ZIP from the staged temps + the two
        // in-memory manifests, then publish by rename
        def close(): Unit = if (current != null) {
          flushBlock()
          warcs.values.foreach(_.staged.finish())
          cdx.finish(); if (idx != null) idx.finish(); pages.finish()
          val name = waczName(current)
          val tmp = new Path(outDir, s".$name.$attempt.tmp")
          val zip = new java.util.zip.ZipOutputStream(pfs.create(tmp, true))
          try {
            def streamTemp(entry: String, st: Staged): Unit =
              putStored(zip, entry, st.size, st.crcValue) { out =>
                val in = pfs.open(st.path)
                try {
                  val buf = new Array[Byte](64 << 10)
                  var r = in.read(buf)
                  while (r >= 0) { if (r > 0) out.write(buf, 0, r); r = in.read(buf) }
                } finally in.close()
              }
            // name-sorted for deterministic entry order regardless of
            // which shard's first record arrived first
            val inners = warcs.toSeq.sortBy(_._1)
            inners.foreach { case (inner, w) =>
              streamTemp(s"archive/$inner", w.staged)
            }
            val cdxEntryName =
              if (indexLinesPerBlock > 0) "indexes/index.cdx.gz" else "indexes/index.cdx"
            streamTemp(cdxEntryName, cdx)
            if (idx != null) streamTemp("indexes/index.idx", idx)
            streamTemp("pages/pages.jsonl", pages)
            def resource(rname: String, rpath: String, st: Staged): String =
              s"""{"name":${jstr(rname)},"path":${jstr(rpath)},""" +
                s""""hash":"sha256:${st.sha256}","bytes":${st.size}}"""
            val datapackage =
              ("""{"profile":"data-package","wacz_version":"1.1.1",""" +
                """"software":"graft","resources":[""" +
                (inners.map { case (inner, w) =>
                  resource(inner, s"archive/$inner", w.staged)
                } ++ Seq(
                  resource(cdxEntryName.stripPrefix("indexes/"), cdxEntryName, cdx)) ++
                  (if (idx != null)
                    Seq(resource("index.idx", "indexes/index.idx", idx)) else Nil) ++
                  Seq(resource("pages.jsonl", "pages/pages.jsonl", pages)))
                  .mkString(",") +
                "]}").getBytes(UTF_8)
            putStored(zip, "datapackage.json", datapackage.length.toLong,
              crc32(datapackage))(_.write(datapackage))
            val dpSha = hex(java.security.MessageDigest.getInstance("SHA-256")
              .digest(datapackage))
            val dpDigest =
              (s"""{"path":"datapackage.json","hash":"sha256:$dpSha"}""").getBytes(UTF_8)
            putStored(zip, "datapackage-digest.json", dpDigest.length.toLong,
              crc32(dpDigest))(_.write(dpDigest))
          } finally zip.close()
          warcs.values.foreach(w => pfs.delete(w.staged.path, false))
          pfs.delete(cdx.path, false)
          if (idx != null) pfs.delete(idx.path, false)
          pfs.delete(pages.path, false)
          val fin = new Path(outDir, name)
          if (!pfs.rename(tmp, fin)) {
            pfs.delete(fin, false)
            require(pfs.rename(tmp, fin),
              s"Wacz.write: could not publish ${fin.getName} from ${tmp.getName}")
          }
          current = null; warcs.clear(); cdx = null; idx = null; pages = null
        }

        try {
          it.foreach { row =>
            require(!row.isNullAt(0) && !row.isNullAt(1),
              "Wacz.write: null collection/shard value")
            val collection = row.getString(0)
            val shard = row.getString(1)
            if (collection != current) {
              close()
              current = collection
              cdx = new Staged(pfs, tempPath("cdx"))
              idx = if (indexLinesPerBlock > 0) new Staged(pfs, tempPath("idx")) else null
              cdxGzOffset = 0L
              pages = new Staged(pfs, tempPath("pages"))
              pages.out.write(
                ("""{"format":"json-pages-1.0","id":"pages","title":"All Pages"}""" +
                  "\n").getBytes(UTF_8))
            }
            // shard -> inner name memo: innerWarcName compiles a regex,
            // and this is the per-RECORD loop (shards repeat for long
            // runs under the urlkey sort)
            if (shard != lastShard) {
              lastShard = shard
              lastInner = innerWarcName(shard)
            }
            val innerName = lastInner
            val w = warcs.getOrElseUpdate(innerName,
              new InnerWarc(new Staged(pfs, tempPath(s"warc${warcs.size}"))))
            val urlkey = row.getString(2)
            val url = row.getString(3)
            val ts = row.getString(4)
            require(ts != null && WarcSink.isTs14(ts),
              s"Wacz.write: ts must be 14 digits; got $ts for url=$url")
            val isResp = !row.isNullAt(5)
            val mime = row.getString(6)
            val payload = Option(row.getAs[Array[Byte]]("payload"))
              .getOrElse(Array.emptyByteArray)
            sha1.reset()
            val digest = graft.functions.SurtAlg.base32(sha1.digest(payload))
            val rec = Warc.renderRecord(Warc.FixtureRecord(
              if (isResp) "response" else "resource",
              url, WarcSink.iso(ts), digest,
              if (isResp) row.getInt(5) else 0, mime, payload))
            val memberLen = Gzip.writeMember(w.staged.out, rec, gzDeflater)
            // CDXJ: numbers as strings (the pywb dialect); filename names
            // the record's OWN inner member — offsets point inside it
            writeIndexLine(urlkey, (s"$urlkey $ts {" +
              s""""url":${jstr(url)},""" +
              (if (mime != null) s""""mime":${jstr(mime)},""" else "") +
              (if (isResp) s""""status":"${row.getInt(5)}",""" else "") +
              s""""digest":${jstr(digest)},""" +
              s""""length":"$memberLen","offset":"${w.offset}",""" +
              s""""filename":${jstr(innerName)}}""" + "\n").getBytes(UTF_8))
            if (isResp) {
              val title =
                if (iTitle >= 0 && !row.isNullAt(iTitle)) row.getString(iTitle) else null
              sha1.reset()
              val pid = hex(sha1.digest(s"$url $ts".getBytes(UTF_8))).take(16)
              pages.out.write((s"""{"id":"$pid","url":${jstr(url)},""" +
                s""""ts":${jstr(WarcSink.iso(ts))}""" +
                (if (title != null) s""","title":${jstr(title)}""" else "") +
                "}\n").getBytes(UTF_8))
            }
            w.offset += memberLen
          }
          close()
        } finally {
          // a collection failed mid-write: drop ITS staged temps
          // best-effort (a crashed JVM can't run this — the write-start
          // sweep reaps those on the next run)
          cleanupCurrent()
          try gzDeflater.end() catch { case _: Throwable => }
          try pfs.close() catch { case _: Throwable => }
        }
      }
  }

  // ------------------------------------------------------------------
  // reader side: central-directory parsing via positioned reads
  // ------------------------------------------------------------------

  /** One central-directory row. The entry's DATA offset requires a
    * 30-byte local-header read (local name/extra lengths differ from the
    * central copy in general) — resolved LAZILY by [[dataOffset]], so
    * opening a 64Ki-entry archive to touch two entries costs two header
    * reads, not 64Ki serial round-trips. */
  private[graft] final case class Entry(
      name: String, method: Int, localHeaderOffset: Long,
      compressedSize: Long, size: Long)

  /** resolve an entry's data offset via its local header (one positioned
    * 30-byte read) */
  private[graft] def dataOffset(read: (Long, Array[Byte]) => Unit, e: Entry): Long = {
    val lh = new Array[Byte](30)
    read(e.localHeaderOffset, lh)
    require(lh(0) == 0x50 && lh(1) == 0x4b && lh(2) == 0x03 && lh(3) == 0x04,
      s"bad local header for ${e.name} at ${e.localHeaderOffset}")
    e.localHeaderOffset + 30 + u16(lh, 26) + u16(lh, 28)
  }

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def u64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 7
    while (k >= 0) { v = (v << 8) | (b(i + k) & 0xffL); k -= 1 }
    v
  }

  /** Parse a ZIP central directory using only positioned reads: one
    * bounded tail read to find the end-of-central-directory record (and
    * the ZIP64 locator when present), one read of the directory itself,
    * and one 30-byte local-header read per RESOLVED entry to compute its
    * data offset. O(directory) bytes regardless of archive size. */
  private[graft] def centralDirectory(
      read: (Long, Array[Byte]) => Unit, fileLen: Long): Seq[Entry] = {
    require(fileLen >= 22, s"not a ZIP: $fileLen bytes")
    // EOCD = 22 bytes + up to 64 KiB comment; the ZIP64 locator (20
    // bytes) sits immediately before the EOCD when present
    val tailLen = math.min(fileLen, 22L + 0xffff + 20).toInt
    val tail = new Array[Byte](tailLen)
    read(fileLen - tailLen, tail)
    var eocd = -1
    var i = tailLen - 22
    while (eocd < 0 && i >= 0) {
      if (tail(i) == 0x50 && tail(i + 1) == 0x4b && tail(i + 2) == 0x05 &&
        tail(i + 3) == 0x06) eocd = i
      else i -= 1
    }
    require(eocd >= 0, "ZIP end-of-central-directory record not found")
    var nEntries: Long = u16(tail, eocd + 10).toLong
    var cdSize: Long = u32(tail, eocd + 12)
    var cdOffset: Long = u32(tail, eocd + 16)
    if (nEntries == 0xffff || cdSize == 0xffffffffL || cdOffset == 0xffffffffL) {
      // ZIP64: locator directly precedes the EOCD
      val loc = eocd - 20
      require(loc >= 0 && tail(loc) == 0x50 && tail(loc + 1) == 0x4b &&
        tail(loc + 2) == 0x06 && tail(loc + 3) == 0x07,
        "ZIP64 sizes in EOCD but no ZIP64 locator")
      val z64Off = u64(tail, loc + 8)
      val z64 = new Array[Byte](56)
      read(z64Off, z64)
      require(z64(0) == 0x50 && z64(1) == 0x4b && z64(2) == 0x06 && z64(3) == 0x06,
        "bad ZIP64 end-of-central-directory signature")
      nEntries = u64(z64, 32)
      cdSize = u64(z64, 40)
      cdOffset = u64(z64, 48)
    }
    require(cdSize <= (64L << 20),
      s"central directory is $cdSize bytes — refusing to buffer > 64 MiB " +
        "(an archive with that many members should shard)")
    val cd = new Array[Byte](cdSize.toInt)
    read(cdOffset, cd)
    val out = Vector.newBuilder[Entry]
    var p = 0
    var n = 0L
    while (n < nEntries) {
      require(p + 46 <= cd.length && cd(p) == 0x50 && cd(p + 1) == 0x4b &&
        cd(p + 2) == 0x01 && cd(p + 3) == 0x02,
        s"bad central-directory entry at +$p")
      val method = u16(cd, p + 10)
      var compSize = u32(cd, p + 20)
      var size = u32(cd, p + 24)
      val nameLen = u16(cd, p + 28)
      val extraLen = u16(cd, p + 30)
      val commentLen = u16(cd, p + 32)
      var lho = u32(cd, p + 42)
      val name = new String(cd, p + 46, nameLen, UTF_8)
      // ZIP64 extra field: only the fields that overflowed are present,
      // in the fixed order size, compSize, lho
      var e = p + 46 + nameLen
      val eEnd = e + extraLen
      while (e + 4 <= eEnd) {
        val id = u16(cd, e)
        val len = u16(cd, e + 2)
        if (id == 0x0001) {
          var q = e + 4
          if (size == 0xffffffffL) { size = u64(cd, q); q += 8 }
          if (compSize == 0xffffffffL) { compSize = u64(cd, q); q += 8 }
          if (lho == 0xffffffffL) { lho = u64(cd, q); q += 8 }
        }
        e += 4 + len
      }
      out += Entry(name, method, lho, compSize, size)
      p += 46 + nameLen + extraLen + commentLen
      n += 1
    }
    out.result()
  }

  /** read an entry's bytes fully (STORED by position; DEFLATED inflated
    * with nowrap) — for the small manifest/index members only, guarded */
  private def entryBytes(
      read: (Long, Array[Byte]) => Unit, e: Entry, cap: Long = 1L << 30): Array[Byte] = {
    require(e.size <= cap && e.compressedSize <= cap,
      s"entry ${e.name} is ${e.size} bytes — exceeds the $cap read cap")
    val comp = new Array[Byte](e.compressedSize.toInt)
    read(dataOffset(read, e), comp)
    if (e.method == 0) comp
    else {
      require(e.method == 8, s"entry ${e.name}: unsupported method ${e.method}")
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(comp)
      val out = new Array[Byte](e.size.toInt)
      var done = 0
      var stalled = false
      // LOUD exit on truncated deflate data: once the single input
      // buffer is exhausted, inflate() returns 0 forever with
      // finished()=false — without the stall check this loop would hang
      // the task on a tampered/truncated foreign archive
      while (done < out.length && !inf.finished() && !stalled) {
        val n = inf.inflate(out, done, out.length - done)
        // the whole input was set upfront, so ZERO progress here can
        // never resolve (needsInput/needsDictionary both dead-end)
        if (n == 0) stalled = true else done += n
      }
      inf.end()
      require(done == out.length,
        s"entry ${e.name}: inflated $done of ${e.size} declared bytes" +
          (if (stalled) " (deflate stream truncated)" else ""))
      out
    }
  }

  private def positionedReader(
      in: org.apache.hadoop.fs.FSDataInputStream): (Long, Array[Byte]) => Unit =
    (pos, buf) => in.readFully(pos, buf)

  /** Every index line of an archive whose central directory is `dir`:
    * every `indexes/` entry ending `.cdx` (plain, STORED or DEFLATED) or
    * `.cdx.gz` (gzip members, the py-wacz compressed form), read whole.
    * The unbounded read of [[graft.sources.WaczSource]], and its read of
    * an archive without `indexes/index.idx`. */
  private[graft] def indexLines(
      read: (Long, Array[Byte]) => Unit, dir: Seq[Entry], shortName: String): Seq[String] = {
    val idx = dir.filter(e => e.name.startsWith("indexes/") &&
      (e.name.endsWith(".cdx") || e.name.endsWith(".cdx.gz")))
    require(idx.nonEmpty, s"$shortName: no indexes/*.cdx[.gz] entry " +
      s"(entries: ${dir.map(_.name).mkString(", ")})")
    idx.flatMap { e =>
      val raw = entryBytes(read, e)
      val texts =
        if (e.name.endsWith(".gz"))
          Gzip.members(new java.io.ByteArrayInputStream(raw)).map(_.bytes)
        else Iterator(raw)
      texts.flatMap(new String(_, UTF_8).split("\n", -1)).filter(_.nonEmpty).toSeq
    }
  }

  /** The blocks of the big-archive index (`indexes/index.idx`) that can
    * hold a urlkey in [`lo`, `hi`), as (absolute offset in the archive,
    * length) in idx order; None when the archive has no idx. Blocks are
    * selected by ZipNum's pruning rule ([[ZipNum.selectBlocks]]), which
    * keeps the predecessor of the first block at or above `lo` because a
    * run of equal keys can straddle a block boundary. The idx's first
    * keys are urlkeys only, so the bounds must be urlkey bounds.
    *
    * Pointers are outside input and are checked before any block is
    * read: each names a STORED entry under `indexes/`, and its offset and
    * length must lie inside that entry (0 <= offset, 0 < length,
    * offset + length <= entry size), so no pointer reaches the archive's
    * WARC bytes or past the file. A pointer that fails fails the read,
    * naming the archive and the idx line. */
  private[graft] def indexBlocks(
      read: (Long, Array[Byte]) => Unit, dir: Seq[Entry], shortName: String,
      lo: Option[String], hi: Option[String]): Option[Seq[(Long, Long)]] = {
    val byName = dir.map(e => e.name -> e).toMap
    byName.get("indexes/index.idx").map { idxEntry =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // pointers name their member (sharded cdx.gz parts are spec-legal):
      // each member's entry and data offset are resolved once
      val members = scala.collection.mutable.HashMap.empty[String, (Entry, Long)]
      val lines = new String(entryBytes(read, idxEntry), UTF_8)
        .split("\n", -1).toIndexedSeq.filter(_.nonEmpty)
      // each entry's offset is its block's absolute offset in the archive
      val idx = lines.zipWithIndex.map { case (l, i) =>
        val (key, name, off, len) = parseIdxLine(l, shortName, mapper)
        val (e, base) = members.getOrElseUpdate(name, {
          val e = byName.getOrElse(s"indexes/$name",
            throw new IllegalArgumentException(
              s"$shortName: idx line '$l' points at missing indexes/$name"))
          require(e.method == 0,
            s"$shortName: indexes/$name must be STORED for block-positioned reads")
          (e, dataOffset(read, e))
        })
        require(off <= e.compressedSize - len,
          s"$shortName: idx line '$l' points past the end of indexes/$name " +
            s"(${e.compressedSize} bytes)")
        ZipNum.IdxEntry(key, name, base + off, len, i)
      }
      ZipNum.selectBlocks(idx, lo, hi).map(e => (e.offset, e.length))
    }
  }

  /** one idx pointer: (firstKey, member name under indexes/, offset,
    * length). BOTH public pointer dialects parse: the TAB cluster.idx
    * form this writer emits (`key TAB member TAB offset TAB length`)
    * and the CDXJ-json form (`key [ts] {"offset":..,"length":..,
    * "filename":..}`, the wabac.js compressed-index shape). Offset and
    * length must be digit strings or, in the json form, integral numbers:
    * a negative, fractional or non-numeric field fails naming the line,
    * and a length must be positive. */
  private def parseIdxLine(
      l: String, shortName: String,
      mapper: com.fasterxml.jackson.databind.ObjectMapper)
      : (String, String, Long, Long) = {
    def field(what: String, v: String): Long = {
      require(v.nonEmpty && v.length <= 18 && v.forall(c => c >= '0' && c <= '9'),
        s"$shortName: idx $what '$v' is not a non-negative integer in line '$l'")
      v.toLong
    }
    val tabs = l.split("\t")
    val (key, member, off, len) =
      if (tabs.length >= 4)
        (tabs(0).split(" ")(0), tabs(1), field("offset", tabs(2)), field("length", tabs(3)))
      else {
        val brace = l.indexOf('{')
        require(brace > 0, s"$shortName: unrecognized idx line '$l'")
        val j = mapper.readTree(l.substring(brace))
        def num(f: String): Long = {
          val n = j.get(f)
          require(n != null, s"$shortName: idx json without $f: '$l'")
          field(f, if (n.isTextual) n.textValue() else n.toString)
        }
        (l.substring(0, brace).trim.split(" ")(0),
          Option(j.get("filename")).map(_.asText()).getOrElse("index.cdx.gz"),
          num("offset"), num("length"))
      }
    require(len > 0, s"$shortName: idx length $len is not positive in line '$l'")
    (key, member, off, len)
  }

  /** Resolve an archive glob to (path, length) pairs — the one lister of
    * the readers here and the V2 source ([[graft.sources.WaczSource]]).
    * Directory matches expand to their non-hidden `.wacz` children, so a
    * dir-only glob fails loudly (naming `what`, the caller) instead of
    * silently yielding an empty frame downstream. */
  private[graft] def archiveFiles(
      fs: org.apache.hadoop.fs.FileSystem, glob: Path, what: String): Seq[(String, Long)] = {
    val files = Option(fs.globStatus(glob)).map(_.toSeq).getOrElse(Seq.empty)
    val paths = files.flatMap { st =>
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter { c =>
        val n = c.getPath.getName
        c.isFile && !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".wacz")
      }
    }.map(st => (st.getPath.toString, st.getLen))
    require(paths.nonEmpty, s"$what: no archive files match $glob")
    paths
  }

  /** Replay single records through the ZIP: `requests` = (wacz, filename,
    * offset, length) where offset/length come from the CDXJ index and
    * filename names the inner WARC. Each request costs ONE positioned
    * read of `length` bytes at (entry data offset + offset) — the STORED
    * framing is what makes the arithmetic legal; the data offsets are
    * resolved once per opened archive. [[Warc.replay]] does the reading:
    * the scan's row builder, strict member decode, wrong pointers fail
    * loudly. */
  def fetchRecords(spark: SparkSession, requests: DataFrame, dir: String): DataFrame = {
    val need = Seq("wacz", "filename", "offset", "length")
    require(need.forall(requests.columns.contains),
      s"Wacz.fetchRecords needs [${need.mkString(", ")}]; got [${requests.columns.mkString(", ")}]")
    Warc.replay(spark, requests.withColumnRenamed("wacz", "container"), dir,
      "Wacz.fetchRecords") { (fs, p, in) =>
      val read = positionedReader(in)
      val dataOffsets = centralDirectory(read, fs.getFileStatus(p).getLen)
        .filter(e => e.name.startsWith("archive/") && e.method == 0)
        .map(e => e.name.stripPrefix("archive/") -> dataOffset(read, e)).toMap
      fname => dataOffsets.getOrElse(fname,
        throw new IllegalArgumentException(
          s"Wacz.fetchRecords: ${p.getName} has no STORED archive/$fname entry"))
    }
  }

  /** Verify every archive against its own manifest: recompute sha256 +
    * byte count for each resource `datapackage.json` declares, and check
    * `datapackage.json` itself against `datapackage-digest.json`. Rows
    * (wacz, path, declared_sha256, actual_sha256, declared_bytes,
    * actual_bytes, ok). Resources stream through a 64 KiB window
    * (STORED and DEFLATED both) — verification never buffers an entry. */
  def verify(spark: SparkSession, pathGlob: String): DataFrame = {
    val sc = spark.sparkContext
    val sconf = new SerializableHadoopConf(sc.hadoopConfiguration)
    val glob = new Path(pathGlob)
    val fs = glob.getFileSystem(sc.hadoopConfiguration)
    val paths = archiveFiles(fs, glob, "Wacz.verify")
    val rows = sc.parallelize(paths, math.max(paths.size, 1)).flatMap {
      case (file, len) =>
        val shortName = file.substring(file.lastIndexOf('/') + 1)
        val p = new Path(file)
        val pfs = p.getFileSystem(sconf.value)
        val in = pfs.open(p)
        try {
          val read = positionedReader(in)
          val entries = centralDirectory(read, len)
          val byName = entries.map(e => e.name -> e).toMap
          // digest an entry's UNCOMPRESSED content without buffering it
          def digestOf(e: Entry): (String, Long) = {
            val dataOff = dataOffset(read, e)
            val sha = java.security.MessageDigest.getInstance("SHA-256")
            val buf = new Array[Byte](64 << 10)
            if (e.method == 0) {
              var done = 0L
              while (done < e.compressedSize) {
                val n = math.min(buf.length.toLong, e.compressedSize - done).toInt
                val chunk = if (n == buf.length) buf else new Array[Byte](n)
                read(dataOff + done, chunk)
                sha.update(chunk, 0, n)
                done += n
              }
              (hex(sha.digest()), done)
            } else {
              require(e.method == 8, s"${e.name}: unsupported method ${e.method}")
              val inf = new java.util.zip.Inflater(true)
              try {
                val cbuf = new Array[Byte](64 << 10)
                var cdone = 0L
                var total = 0L
                while (!inf.finished() && (cdone < e.compressedSize || !inf.needsInput())) {
                  if (inf.needsInput()) {
                    val n = math.min(cbuf.length.toLong, e.compressedSize - cdone).toInt
                    val chunk = if (n == cbuf.length) cbuf else new Array[Byte](n)
                    read(dataOff + cdone, chunk)
                    inf.setInput(chunk, 0, n)
                    cdone += n
                  }
                  val n = inf.inflate(buf)
                  if (n > 0) { sha.update(buf, 0, n); total += n }
                  // zero-progress stall guard (the entryBytes rule): an
                  // inflater that produces nothing while holding input and
                  // not finished (e.g. needsDictionary on a foreign entry)
                  // would spin this loop forever — fail the entry loudly
                  else if (!inf.needsInput() && !inf.finished())
                    throw new java.util.zip.DataFormatException(
                      s"${e.name}: deflate stream stalled (no progress)")
                }
                (hex(sha.digest()), total)
              } finally inf.end()
            }
          }
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val dpEntry = byName.getOrElse("datapackage.json",
            throw new IllegalArgumentException(s"$shortName: no datapackage.json"))
          val dpBytes = entryBytes(read, dpEntry, cap = 16L << 20)
          val dp = mapper.readTree(dpBytes)
          val resources = Option(dp.get("resources"))
            .map(rs => (0 until rs.size()).map(rs.get))
            .getOrElse(Seq.empty)
          val resourceRows = resources.map { r =>
            val path = r.get("path").asText()
            val declared = Option(r.get("hash")).map(_.asText()).orNull
            val declaredSha =
              if (declared != null && declared.startsWith("sha256:"))
                declared.stripPrefix("sha256:") else declared
            val declaredBytes =
              Option(r.get("bytes")).map(_.asLong()).map(java.lang.Long.valueOf).orNull
            byName.get(path) match {
              case None =>
                Row(shortName, path, declaredSha, null, declaredBytes, null, false)
              case Some(e) =>
                // a corrupt/undecodable resource is a PER-RESOURCE failure
                // (ok=false row), not a job abort: verification stays a
                // reporting operation across a multi-archive glob
                scala.util.Try(digestOf(e)) match {
                  case scala.util.Success((actualSha, actualBytes)) =>
                    val ok = declaredSha == actualSha &&
                      (declaredBytes == null || declaredBytes.longValue() == actualBytes)
                    Row(shortName, path, declaredSha, actualSha, declaredBytes,
                      java.lang.Long.valueOf(actualBytes), ok)
                  case scala.util.Failure(_) =>
                    Row(shortName, path, declaredSha, null, declaredBytes, null, false)
                }
            }
          }
          // the manifest's own seal
          val digestRow = byName.get("datapackage-digest.json").map { de =>
            val dd = mapper.readTree(entryBytes(read, de, cap = 1L << 20))
            val declared = Option(dd.get("hash")).map(_.asText()).orNull
            val declaredSha =
              if (declared != null && declared.startsWith("sha256:"))
                declared.stripPrefix("sha256:") else declared
            val actual = hex(java.security.MessageDigest.getInstance("SHA-256")
              .digest(dpBytes))
            Row(shortName, "datapackage.json", declaredSha, actual,
              java.lang.Long.valueOf(dpBytes.length.toLong),
              java.lang.Long.valueOf(dpBytes.length.toLong), declaredSha == actual)
          }
          (resourceRows ++ digestRow).iterator
        } finally in.close()
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("wacz", StringType),
      StructField("path", StringType),
      StructField("declared_sha256", StringType),
      StructField("actual_sha256", StringType),
      StructField("declared_bytes", LongType),
      StructField("actual_bytes", LongType),
      StructField("ok", BooleanType))))
  }
}
