package graft.formats

import java.io.{ByteArrayInputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.sources.WarcRows
import org.apache.hadoop.fs.{FileSystem, FSDataInputStream, Path}
import org.apache.spark.sql.{functions, DataFrame, GraftDatasets, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC (ISO 28500) + legacy ARC container support: a `.warc.gz`/`.arc.gz`
  * is one gzip member per record. WARC records are `WARC/1.0\r\n` + headers
  * + CRLF CRLF + block; ARC v1/v2 records are a single space-separated
  * header line (`url ip date mime length` / the 10-field v2 form) + LF +
  * the raw HTTP response. [[parseMember]] sniffs the member prefix and
  * dispatches — pre-2010 crawls are ARC, and the reference reads both
  * through pywb's ArchiveIterator (SURVEY §1.1).
  *
  * Mirrors the fields the reference extracts per record
  * (indexwarcsjob.py §mapper via pywb ArchiveIterator, recon ~L60–120;
  * SURVEY.md §1.1): type, target URI, date, payload digest, HTTP status,
  * payload mime, compressed offset/length, filename.
  *
  * Scale notes: parallelism is per WARC file (`scan`'s unit of work) —
  * the crawl reality of many ~1 GB WARCs per segment makes that the
  * natural partitioning — except that a file larger than its fair share
  * of the input is read as byte ranges re-synchronized on member
  * boundaries (`graft.sources.WarcScan`).
  */
object Warc {

  val schema: StructType = StructType(Seq(
    StructField("record_type", StringType),
    StructField("url", StringType),
    StructField("ts", StringType), // 14-digit, derived from WARC-Date
    StructField("digest", StringType),
    StructField("status", IntegerType),
    StructField("mime", StringType),
    StructField("offset", LongType),
    StructField("length", LongType),
    StructField("filename", StringType),
    StructField("payload", BinaryType)))

  final case class FixtureRecord(
      recordType: String,
      url: String,
      isoDate: String, // e.g. 2015-02-15T01:23:45Z
      digest: String,
      status: Int,
      mime: String,
      payload: Array[Byte],
      // revisit provenance (ISO 28500 §6.7.2, the identical-payload-digest
      // profile warcio/pywb write): non-null refersToUri turns a revisit
      // record's headers into the full profile form — WARC-Profile +
      // WARC-Refers-To-Target-URI + WARC-Refers-To-Date. Defaults keep
      // every pre-existing fixture byte-identical (golden offsets).
      refersToUri: String = null,
      refersToDate: String = null)

  /** Write records as a `.warc.gz` (one gzip member each) — fixture/golden
    * generation for tests and for the scan_warc demo query. */
  def writeFixture(path: String, records: Seq[FixtureRecord]): Unit = {
    val out = Files.newOutputStream(Paths.get(path))
    try records.foreach(r => Gzip.writeMember(out, renderRecord(r)))
    finally out.close()
  }

  /** the same fixture as `.warc.zst`: a leading skippable frame (the
    * warcio dictionary slot — readers must consume it silently) followed
    * by one self-contained zstd frame per record */
  def writeFixtureZst(path: String, records: Seq[FixtureRecord]): Unit = {
    val out = Files.newOutputStream(Paths.get(path))
    try {
      out.write(ZstdMembers.skippableFrame("graft-zst-dictionary-slot".getBytes(UTF_8)))
      records.foreach(r => out.write(ZstdMembers.compressFrame(renderRecord(r))))
    } finally out.close()
  }

  /** warcio DICT-mode fixture: every record frame is compressed AGAINST
    * a shared dictionary parked in the leading skippable frame (itself
    * zstd-compressed when `compressedDict` — both warcio conventions).
    * The dictionary is the records' shared header vocabulary, so frames
    * genuinely reference it and a dict-less decode fails. */
  def writeFixtureZstDict(
      path: String, records: Seq[FixtureRecord], compressedDict: Boolean): Unit = {
    val dict = records.map(r => new String(renderRecord(r), UTF_8).take(200))
      .mkString("\n").getBytes(UTF_8)
    val slot = if (compressedDict) ZstdMembers.compressFrame(dict) else dict
    val out = Files.newOutputStream(Paths.get(path))
    try {
      out.write(ZstdMembers.skippableFrame(slot))
      records.foreach(r =>
        out.write(ZstdMembers.compressFrameDict(renderRecord(r), dict)))
    } finally out.close()
  }

  /** a record's BLOCK bytes and its WARC Content-Type — the renderer's
    * core, shared by [[renderRecord]] and [[renderSegments]] */
  private def blockAndType(r: FixtureRecord): (Array[Byte], String) = {
    val isResponse = r.recordType == "response"
    // a PROFILE revisit (refersToUri set, status recorded) carries the
    // duplicate capture's HTTP head as its block — no body — exactly the
    // warcio identical-payload-digest shape pywb replays headers from;
    // a bare revisit (the legacy fixture form) keeps its payload block
    val isRevisitHttp =
      r.recordType == "revisit" && r.refersToUri != null && r.status != 0
    val block: Array[Byte] =
      if (isResponse) {
        // a null mime omits the Content-Type line (the capture had none)
        // rather than writing the literal string "null" into the head
        val head = s"HTTP/1.1 ${r.status} OK\r\n" +
          Option(r.mime).map(m => s"Content-Type: $m\r\n").getOrElse("") +
          s"Content-Length: ${r.payload.length}\r\n\r\n"
        head.getBytes(UTF_8) ++ r.payload
      } else if (isRevisitHttp) {
        (s"HTTP/1.1 ${r.status} OK\r\n" +
          Option(r.mime).map(m => s"Content-Type: $m\r\n").getOrElse("") +
          "\r\n").getBytes(UTF_8)
      } else r.payload
    val contentType =
      if (isResponse || isRevisitHttp) "application/http; msgtype=response"
      else if (r.recordType == "conversion") "text/plain" // WET convention
      else Option(r.mime).getOrElse("application/octet-stream")
    (block, contentType)
  }

  /** WARC-Record-ID is MANDATORY on every record (ISO 28500 §5.2);
    * name-based UUID over ALL identifying fields (status/mime included)
    * keeps output deterministic — only byte-identical records share an
    * id. Refers-To fields join the seed ONLY when present, so every
    * record written before the revisit profile existed keeps its id. */
  private def recordIdOf(r: FixtureRecord): String =
    java.util.UUID.nameUUIDFromBytes(
      (s"${r.recordType}|${r.url}|${r.isoDate}|${r.digest}|${r.status}|${r.mime}" +
        (if (r.refersToUri != null) s"|${r.refersToUri}|${r.refersToDate}" else ""))
        .getBytes(UTF_8)).toString

  private[graft] def renderRecord(r: FixtureRecord): Array[Byte] = {
    val (block, contentType) = blockAndType(r)
    val rid = recordIdOf(r)
    val headerLines = Seq("WARC/1.0", s"WARC-Type: ${r.recordType}",
      s"WARC-Record-ID: <urn:uuid:$rid>") ++
      Option(r.url).map(u => s"WARC-Target-URI: $u") ++
      Seq(
        s"WARC-Date: ${r.isoDate}",
        s"WARC-Payload-Digest: sha1:${r.digest}") ++
      (if (r.recordType == "revisit" && r.refersToUri != null) Seq(
        "WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
        s"WARC-Refers-To-Target-URI: ${r.refersToUri}",
        s"WARC-Refers-To-Date: ${r.refersToDate}")
      else Seq.empty) ++
      Seq(
        s"Content-Type: $contentType",
        s"Content-Length: ${block.length}")
    val headers = headerLines.mkString("", "\r\n", "\r\n\r\n")
    headers.getBytes(UTF_8) ++ block
  }

  /** Render a record as ISO 28500 §5 SEGMENTS when its block exceeds
    * `maxSegment` bytes (one WARC record per returned element, each its
    * own compressed member): the first segment keeps the original type +
    * identity headers and adds `WARC-Segment-Number: 1`; continuations
    * carry `WARC-Segment-Origin-ID` and the last seals the group with
    * `WARC-Segment-Total-Length` — exactly what [[reassembleSegments]]
    * validates before stitching. A block within the budget renders as
    * the plain single record, byte-identical to [[renderRecord]].
    * Deterministic throughout: continuation ids are name-UUIDs of
    * (origin id, segment number). */
  private[graft] def renderSegments(
      r: FixtureRecord, maxSegment: Int): Seq[Array[Byte]] = {
    require(maxSegment > 0, s"maxSegment must be positive, got $maxSegment")
    val (block, contentType) = blockAndType(r)
    if (block.length <= maxSegment) return Seq(renderRecord(r))
    val originId = recordIdOf(r)
    val parts = block.grouped(maxSegment).toSeq
    def rec(headerLines: Seq[String], part: Array[Byte]): Array[Byte] =
      (headerLines ++ Seq(s"Content-Length: ${part.length}"))
        .mkString("", "\r\n", "\r\n\r\n").getBytes(UTF_8) ++ part
    val first = rec(Seq("WARC/1.0", s"WARC-Type: ${r.recordType}",
      s"WARC-Record-ID: <urn:uuid:$originId>") ++
      Option(r.url).map(u => s"WARC-Target-URI: $u") ++
      Seq(
        s"WARC-Date: ${r.isoDate}",
        s"WARC-Payload-Digest: sha1:${r.digest}") ++
      // the identity headers follow renderRecord EXACTLY — a segmented
      // revisit must not shed its dedup linkage (profile + refers-to)
      (if (r.recordType == "revisit" && r.refersToUri != null) Seq(
        "WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
        s"WARC-Refers-To-Target-URI: ${r.refersToUri}",
        s"WARC-Refers-To-Date: ${r.refersToDate}")
      else Seq.empty) ++
      Seq(
        "WARC-Segment-Number: 1",
        s"Content-Type: $contentType"), parts.head)
    val conts = parts.tail.zipWithIndex.map { case (part, i) =>
      val n = i + 2
      val cid = java.util.UUID.nameUUIDFromBytes(
        s"$originId|segment|$n".getBytes(UTF_8))
      rec(Seq("WARC/1.0", "WARC-Type: continuation",
        s"WARC-Record-ID: <urn:uuid:$cid>") ++
        Option(r.url).map(u => s"WARC-Target-URI: $u") ++
        Seq(
          s"WARC-Date: ${r.isoDate}",
          s"WARC-Segment-Origin-ID: <urn:uuid:$originId>",
          s"WARC-Segment-Number: $n") ++
        (if (n == parts.length) Seq(s"WARC-Segment-Total-Length: ${block.length}")
        else Seq.empty) ++
        Seq("Content-Type: application/octet-stream"), part)
    }
    first +: conts
  }

  /** Receives one parsed record's own fields (record_type, url, ts14,
    * digest, status (nullable), mime, payload, segment); the member it
    * came from supplies (offset, length, filename). `segment` is null
    * unless the walk is segment-aware and the record is WARC. The one
    * row builder sits behind it: [[graft.sources.WarcRows]], shared by
    * the V2 scan and [[replay]]. */
  private[graft] type Emit =
    (String, String, String, String, Integer, String, Array[Byte], Segment) => Unit

  /** A WARC record's identity and ISO 28500 §5 segmentation headers —
    * the (record_id, seg_num, seg_origin, seg_total) columns of
    * [[segMetaSchema]]; `num` is null on an unsegmented record. */
  private[graft] final case class Segment(
      recordId: String, num: Integer, origin: String, total: java.lang.Long)

  /** byte index of the first CRLF CRLF in [from, until), or -1 — the
    * header/body split MUST be found on bytes: non-ASCII header values
    * (UTF-8 URLs are common in real crawls) make char indexes diverge
    * from byte offsets. */
  private def crlfCrlf(bytes: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i + 3 < until) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
        bytes(i + 2) == '\r' && bytes(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  private def slice(bytes: Array[Byte], from: Int, until: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, from, until)

  /** Parse the HTTP response embedded in bytes[from, until): (status,
    * mime, payload). The payload is copied out only `withPayload`; a
    * scan that never reads it (the CDX derive) gets null. */
  private def parseHttp(
      b: Array[Byte], from: Int, until: Int, withPayload: Boolean)
      : (Integer, String, Array[Byte]) = {
    val httpEnd = crlfCrlf(b, from, until)
    if (httpEnd < 0) return (null, null, if (withPayload) slice(b, from, until) else null)
    val httpHead = new String(b, from, httpEnd - from, UTF_8).split("\r\n")
    val statusLine = httpHead.headOption.getOrElse("")
    val parts = statusLine.split(" ")
    // length cap: an all-digit token can still overflow Int (a hostile
    // 'HTTP/1.1 99999999999 OK' line) and a NumberFormatException here
    // would kill the task — real statuses are 3 digits; ≤ 5 stays
    // permissive about junk without risking the parse
    val status: Integer =
      if (parts.length >= 2 && parts(1).nonEmpty && parts(1).length <= 5 &&
        parts(1).forall(_.isDigit)) parts(1).toInt
      else null
    def header(name: String): Option[String] = httpHead.drop(1).flatMap { line =>
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).equalsIgnoreCase(name))
        Some(line.substring(i + 1).trim)
      else None
    }.headOption
    val mime = header("Content-Type").orNull
    // chunked-transfer-encoded payloads (capture-time proxies record the
    // wire form; warcio/pywb de-chunk on read, so the indexed payload —
    // and any digest recomputation — must be the DECODED bytes): strip
    // the framing; a malformed framing keeps the raw bytes (a mis-labeled
    // Transfer-Encoding header must not destroy a payload)
    val payload =
      if (!withPayload) null
      else {
        val raw = slice(b, httpEnd + 4, until)
        if (header("Transfer-Encoding").exists(_.toLowerCase.contains("chunked"))) {
          val d = dechunk(raw)
          if (d != null) d else raw
        } else raw
      }
    (status, mime, payload)
  }

  /** Decode HTTP/1.1 chunked framing: `hexsize[;ext] CRLF data CRLF` …
    * `0 CRLF [trailers CRLF] CRLF`. Returns null when the framing is
    * malformed (caller falls back to the raw bytes). Trailers after the
    * terminal chunk are dropped, like every consuming client. */
  private def dechunk(b: Array[Byte]): Array[Byte] = {
    def crlfAt(i: Int): Boolean =
      i + 1 < b.length && b(i) == '\r' && b(i + 1) == '\n'
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < b.length) {
      var lineEnd = i
      while (lineEnd < b.length && !crlfAt(lineEnd)) lineEnd += 1
      if (lineEnd >= b.length) return null
      val hex = new String(b, i, lineEnd - i, UTF_8).takeWhile(_ != ';').trim
      if (hex.isEmpty || hex.length > 8 ||
        !hex.forall(c => Character.digit(c, 16) >= 0)) return null
      // size stays a Long: 8 hex digits reach 0xFFFFFFFF, whose .toInt is
      // NEGATIVE — a hostile 'FFFFFFF0' chunk line would turn the bounds
      // guard false and make out.write throw, killing the task instead of
      // falling back to raw bytes
      val n = java.lang.Long.parseLong(hex, 16)
      i = lineEnd + 2
      if (n == 0) return out.toByteArray // terminal chunk; trailers ignored
      if (i.toLong + n > b.length) return null
      out.write(b, i, n.toInt)
      i += n.toInt
      if (!crlfAt(i)) return null
      i += 2
    }
    null // ran out of bytes before the terminal 0-chunk
  }

  private def isWarc(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == 'W' && bytes(1) == 'A' &&
      bytes(2) == 'R' && bytes(3) == 'C' && bytes(4) == '/'

  /** One decompressed member -> ALL its records (see [[parseWarc]]; ARC
    * members are always single-record, and predate segmentation: their
    * segment is null); sniffs WARC vs legacy ARC. */
  private[graft] def parseMember(
      bytes: Array[Byte], withPayload: Boolean, segments: Boolean, emit: Emit): Unit =
    if (isWarc(bytes)) parseWarc(bytes, withPayload, segments, emit)
    else parseArc(bytes, withPayload, emit)

  /** ARC v1 (5-field) / v2 (10-field) URL-record:
    * `url ip date mime length` / `url ip date mime result checksum
    * location offset filename length`, LF, then the raw HTTP response
    * (filedesc:// members carry the version block instead). */
  private def parseArc(bytes: Array[Byte], withPayload: Boolean, emit: Emit): Unit = {
    var nl = 0
    while (nl < bytes.length && bytes(nl) != '\n') nl += 1
    val header = new String(bytes, 0, nl, UTF_8).trim
    val f = header.split(" ")
    val url = if (f.nonEmpty && f(0).nonEmpty) f(0) else null
    val ts = if (f.length >= 3) f(2).take(14) else null
    // a member that is neither WARC nor a well-formed ARC header line is
    // junk — emit an 'unknown' record (dropped by the pipeline's
    // response/revisit filter) instead of fabricating a response row
    val looksArc = f.length >= 5 && url != null && url.contains("://") &&
      ts != null && ts.length == 14 && ts.forall(_.isDigit)
    if (!looksArc) {
      emit("unknown", null, null, null, null, null, if (withPayload) bytes else null, null)
      return
    }
    val headerMime = if (f.length >= 4 && f(3) != "-") f(3) else null
    val digest = if (f.length >= 10 && f(5) != "-") f(5) else null
    val bodyFrom = math.min(nl + 1, bytes.length)
    if (url.startsWith("filedesc://"))
      // ARC file header record — the warcinfo analog
      emit("arcinfo", url, ts, digest, null, headerMime,
        if (withPayload) slice(bytes, bodyFrom, bytes.length) else null, null)
    else {
      val (httpStatus, httpMime, payload) = parseHttp(bytes, bodyFrom, bytes.length, withPayload)
      val status: Integer =
        if (httpStatus != null) httpStatus
        else if (f.length >= 10 && f(4).nonEmpty && f(4).length <= 5 &&
          f(4).forall(_.isDigit)) f(4).toInt
        else null
      // ARC has no revisit/request records: every URL record is a response
      emit("response", url, ts, digest, status,
        if (httpMime != null) httpMime else headerMime, payload, null)
    }
  }

  private def isWarcAt(bytes: Array[Byte], p: Int): Boolean =
    p + 4 < bytes.length && bytes(p) == 'W' && bytes(p + 1) == 'A' &&
      bytes(p + 2) == 'R' && bytes(p + 3) == 'C' && bytes(p + 4) == '/'

  /** Split one decompressed member into (headers, bodyFrom, bodyUntil)
    * record chunks — the walk under [[parseWarc]]. Conforming
    * writers put one record per gzip member, but warcio's permissive
    * reader — and therefore real Common Crawl-adjacent corpora — also
    * accepts members holding several concatenated records (wget- and
    * proxy-written files do this monthly); one member must then yield N
    * rows, not one row whose payload swallows the successors. The split
    * honors the record's own Content-Length ONLY when what follows the
    * block (after the record-terminating CRLFs) is another `WARC/` header
    * or end-of-member — a wrong Content-Length (e.g. a `WARC-Truncated`
    * record cut mid-payload by a crashed writer) keeps the
    * whole-remainder behavior instead of fabricating a phantom second
    * record. All rows in a member share its (offset, compressedLength):
    * that pair is the re-fetch unit for auditing, and sub-member byte
    * offsets don't survive gzip. */
  private def splitWarcChunks(
      bytes: Array[Byte]): Seq[(Map[String, String], Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Map[String, String], Int, Int)]
    var pos = 0
    while (pos < bytes.length) {
      val headerEnd = crlfCrlf(bytes, pos, bytes.length)
      val hEnd = if (headerEnd >= 0) headerEnd else bytes.length
      val headerBlock = new String(bytes, pos, hEnd - pos, UTF_8)
      val headers = headerBlock.split("\r\n").drop(1).flatMap { line =>
        val i = line.indexOf(':')
        if (i > 0) Some(line.substring(0, i).toLowerCase -> line.substring(i + 1).trim) else None
      }.toMap
      // no terminator -> header-only record, empty body
      val bodyStart = if (headerEnd >= 0) headerEnd + 4 else bytes.length
      var bodyEnd = bytes.length
      var nextPos = bytes.length
      headers.get("content-length")
        .filter(s => s.nonEmpty && s.length <= 18 && s.forall(_.isDigit))
        .map(_.toLong)
        .filter(n => bodyStart.toLong + n <= bytes.length)
        .foreach { n =>
          var p = bodyStart + n.toInt
          while (p + 1 < bytes.length && bytes(p) == '\r' && bytes(p + 1) == '\n') p += 2
          if (p >= bytes.length || isWarcAt(bytes, p)) {
            bodyEnd = bodyStart + n.toInt
            nextPos = p
          }
        }
      out += ((headers, math.min(bodyStart, bytes.length), bodyEnd))
      pos = nextPos
    }
    out.toSeq
  }

  /** Every record of one WARC member (see [[splitWarcChunks]]). With
    * `segments`, each record also reports its [[Segment]] headers, and a
    * SEGMENTED record (WARC-Segment-Number present) keeps its RAW block
    * as payload with null status and the WARC Content-Type as mime — a
    * first segment's HTTP head can only be parsed against the ASSEMBLED
    * body ([[reassembleSegments]] does it there). Every other record
    * parses the same either way. */
  private def parseWarc(
      bytes: Array[Byte], withPayload: Boolean, segments: Boolean, emit: Emit): Unit =
    splitWarcChunks(bytes).foreach { case (headers, from, until) =>
      val recordType = headers.getOrElse("warc-type", "")
      val url = headers.getOrElse("warc-target-uri", null)
      val ts = headers.get("warc-date").map(_.replaceAll("[^0-9]", "").take(14)).orNull
      val digest = headers.get("warc-payload-digest").map(_.stripPrefix("sha1:")).orNull
      val seg = if (segments) segmentOf(headers) else null
      // revisit records in the identical-payload-digest profile carry the
      // duplicate capture's HTTP head (and nothing else) as their block —
      // parse it the same way, so a deduplicated corpus surfaces each
      // revisit's own status/mime while the payload resolves via the
      // digest join (join_revisit_resolve / sink_warc_revisit_write)
      val isHttpResponse = (seg == null || seg.num == null) &&
        (recordType == "response" || recordType == "revisit") &&
        headers.getOrElse("content-type", "").startsWith("application/http")
      // non-HTTP records (resource/conversion/metadata) carry their
      // payload's mime in the WARC Content-Type header itself — surface
      // it (pywb indexes it this way) instead of a blanket null
      val (status, mime, payload) =
        if (isHttpResponse) parseHttp(bytes, from, until, withPayload)
        else (null: Integer, headers.get("content-type").orNull,
          if (withPayload) slice(bytes, from, until) else null)
      emit(recordType, url, ts, digest, status, mime, payload, seg)
    }

  /** the [[Segment]] headers of one record; a number or total length
    * that is not a short all-digit token is null, never a task failure */
  private def segmentOf(headers: Map[String, String]): Segment =
    Segment(
      headers.getOrElse("warc-record-id", null),
      headers.get("warc-segment-number")
        .filter(s => s.nonEmpty && s.length <= 9 && s.forall(_.isDigit))
        .map(s => Integer.valueOf(s.toInt)).orNull,
      headers.getOrElse("warc-segment-origin-id", null),
      headers.get("warc-segment-total-length")
        .filter(s => s.nonEmpty && s.length <= 18 && s.forall(_.isDigit))
        .map(s => java.lang.Long.valueOf(s.toLong)).orNull)

  /** [[Warc.schema]] + the ISO 28500 §5 segmentation metadata columns the
    * reassembly shuffle keys on — the reader's second column set
    * ([[scanMeta]]) */
  val segMetaSchema: StructType = StructType(schema.fields ++ Seq(
    StructField("record_id", StringType),
    StructField("seg_num", IntegerType),
    StructField("seg_origin", StringType),
    StructField("seg_total", LongType)))

  final case class ArcFixtureRecord(
      url: String,
      ip: String,
      ts14: String,
      mime: String,
      status: Int,
      payload: Array[Byte])

  /** Write records as a legacy `.arc.gz` (v1 5-field header lines, one gzip
    * member per record, filedesc:// first) — fixture/golden generation. */
  def writeArcFixture(path: String, records: Seq[ArcFixtureRecord]): Unit = {
    val out = Files.newOutputStream(Paths.get(path))
    try {
      val name = path.substring(path.lastIndexOf('/') + 1)
      val versionBlock = "1 0 graft-fixture\nURL IP-address Archive-date Content-type Archive-length\n"
      val descBody = versionBlock.getBytes(UTF_8)
      val desc = s"filedesc://$name 0.0.0.0 20150215010000 text/plain ${descBody.length}\n"
      Gzip.writeMember(out, desc.getBytes(UTF_8) ++ descBody)
      records.foreach { r =>
        val http = s"HTTP/1.1 ${r.status} OK\r\nContent-Type: ${r.mime}\r\n" +
          s"Content-Length: ${r.payload.length}\r\n\r\n"
        val body = http.getBytes(UTF_8) ++ r.payload
        val header = s"${r.url} ${r.ip} ${r.ts14} ${r.mime} ${body.length}\n"
        Gzip.writeMember(out, header.getBytes(UTF_8) ++ body)
      }
    } finally out.close()
  }

  /** Deterministic 3-record ARC fixture (plus the filedesc header). */
  def arcFixtureRecords: Seq[ArcFixtureRecord] = Seq(
    ArcFixtureRecord("http://www.example.com/path?b=2&a=1", "93.184.216.34",
      "20040215012345", "text/html", 200, "<html>arc-alpha</html>".getBytes(UTF_8)),
    ArcFixtureRecord("http://example.com/other", "93.184.216.34",
      "20040301120000", "text/plain", 404, "arc not here".getBytes(UTF_8)),
    ArcFixtureRecord("http://sub.iana.org/x", "192.0.2.1",
      "20040510235959", "text/html", 301, "<a>arc moved</a>".getBytes(UTF_8)))

  /** Distributed scan — the typed entry to the V2 `format("warc")`
    * source ([[graft.sources.WarcSource]]), the one WARC reader. The
    * member reader dispatches on the file extension: `.zst` files walk
    * zstd frames ([[ZstdMembers]] — the warcio `.warc.zst` convention),
    * all others walk gzip members; both feed the SAME record parser, so a
    * compression swap is invisible downstream. Each file is one task
    * unless it is larger than ⌈total bytes / default parallelism⌉; then
    * it is read as byte ranges of that size (the few-huge-files archive
    * shape — see the source for the ownership rule). Columns a query
    * never reads are never built: the CDX derive gets no payload bytes.
    * Permissive by default: crawl archives at 100 TB always carry some
    * damaged members, and one bad byte must cost one
    * `record_type='corrupt'` row (offset + skipped length preserved for
    * auditing), never the job — pipelines filter on record_type anyway.
    * Pass permissive=false to fail fast. A glob matching no archive fails
    * at planning. */
  def scan(spark: SparkSession, pathGlob: String, permissive: Boolean = true): DataFrame =
    spark.read.format("warc").option("permissive", permissive).load(pathGlob)

  /** [[scan]] widened with the ISO 28500 §5 segmentation columns
    * ([[segMetaSchema]]): the raw per-fragment view — segmented records
    * keep raw blocks. The same `format("warc")` source reads it (splits,
    * pruning, metrics and the empty-glob check included); the schema
    * alone makes the walk segment-aware. Most callers want
    * [[scanSegments]]. */
  def scanMeta(
      spark: SparkSession, pathGlob: String, permissive: Boolean = true): DataFrame =
    spark.read.format("warc").schema(segMetaSchema)
      .option("permissive", permissive).load(pathGlob)

  /** [[scan]] with CONTINUATION-RECORD REASSEMBLY (ISO 28500 §5): a
    * record too large for one WARC file is written as a first segment
    * (`WARC-Segment-Number: 1`, original type) plus `continuation`
    * records carrying `WARC-Segment-Origin-ID` — possibly in OTHER
    * files (the manifest convention). [[reassembleSegments]] stitches
    * each origin group back into one logical record. */
  def scanSegments(
      spark: SparkSession, pathGlob: String, permissive: Boolean = true): DataFrame =
    reassembleSegments(scanMeta(spark, pathGlob, permissive))

  /** Stitch segmented records ([[scanMeta]] rows) into logical records.
    *
    * Unsegmented rows pass through untouched (bit-identical to [[scan]]).
    * Segment rows shuffle ONCE on their origin id — `coalesce(
    * WARC-Segment-Origin-ID, WARC-Record-ID)`, which groups a first
    * segment with its continuations across members AND files; segment
    * payloads are fragment-sized, so the exchange moves exactly the
    * segmented bytes and nothing else. A group reassembles only when it
    * is PROVABLY complete: segment numbers form 1..n, and the last
    * fragment declares `WARC-Segment-Total-Length` equal to the
    * assembled block size (the ISO completeness seal). The assembled
    * block then gets the normal HTTP parse (status/mime/payload), and
    * the logical row carries the FIRST fragment's identity with
    * length = Σ over distinct (filename, offset) members — a shared
    * multi-record member counts once, and the triple is a pointer to
    * the first fragment, not a whole-record extent. Anything else — gaps, a missing tail
    * (no total-length marker), a length mismatch, an anonymous fragment
    * — degrades to one `record_type='corrupt'` row PER FRAGMENT with
    * that fragment's exact (offset, length, filename) extent, the
    * permissive-scan auditing contract. */
  def reassembleSegments(meta: DataFrame): DataFrame = {
    val spark = meta.sparkSession
    import spark.implicits._
    import functions._
    val plainCols = schema.fieldNames.map(col).toIndexedSeq
    val plain = meta.filter(col("seg_num").isNull).select(plainCols: _*)
    // an anonymous fragment (no origin AND no record id) can never find
    // its peers: give it a unique key so it degrades alone
    val okey = coalesce(col("seg_origin"), col("record_id"),
      concat(lit(" anon:"), col("filename"), lit(":"), col("offset")))
    val segs = meta.filter(col("seg_num").isNotNull)
      .select(okey.as("okey"), col("seg_num"), col("record_type"), col("url"),
        col("ts"), col("digest"), col("mime"), col("offset"), col("length"),
        col("filename"), col("payload"), col("seg_total"))
      .as[(String, Int, String, String, String, String, String, Long, Long,
        String, Array[Byte], Option[Long])]
    val stitched = segs.groupByKey(_._1).flatMapGroups { (_, it) =>
      val frags = it.toArray.sortBy(f => (f._2, f._10, f._8)) // (seg_num, filename, offset)
      val nums = frags.map(_._2).toSeq
      val total = frags.map(_._11.length.toLong).sum
      val sealed_ = frags.last._12.contains(total)
      // a block that cannot fit one BinaryType cell (2 GB) degrades to
      // per-fragment corrupt rows instead of an allocation failure
      val complete = nums == (1 to frags.length) && sealed_ && total <= Int.MaxValue
      if (complete) {
        val head = frags.head
        val block = new Array[Byte](total.toInt)
        var at = 0
        frags.foreach { f => System.arraycopy(f._11, 0, block, at, f._11.length); at += f._11.length }
        val isHttp = (head._3 == "response" || head._3 == "revisit") &&
          head._7 != null && head._7.startsWith("application/http")
        val (status, mime, payload) =
          if (isHttp) parseHttp(block, 0, block.length, withPayload = true)
          else (null: Integer, head._7, block)
        // length = Σ over DISTINCT (filename, offset) members: fragments
        // sharing one gzip member (a foreign multi-record member) must
        // count it once, or the sum stops being a byte quantity at all.
        // The (offset, length, filename) triple on a stitched row is a
        // POINTER to the first fragment's member, not a re-fetchable
        // extent of the whole logical record — fragments may span files.
        val memberLen = frags.iterator.map(f => (f._10, f._8) -> f._9)
          .toMap.values.sum
        Iterator.single((head._3, head._4, head._5, head._6,
          Option(status).map(_.intValue()), mime,
          head._8, memberLen, head._10, payload))
      } else
        frags.iterator.map(f =>
          ("corrupt", null: String, null: String, null: String,
            None: Option[Int], null: String, f._8, f._9, f._10, null: Array[Byte]))
    }
    stitched.toDF(schema.fieldNames.toIndexedSeq: _*)
      .unionByName(plain)
  }

  /** First TRUE member/frame boundary at offset in [from, end), or -1
    * (`end` = Long.MaxValue searches to EOF). Pattern scan (gzip member
    * magic `1f 8b 08` with the FLG reserved bits clear, or the zstd
    * frame/skippable magics) + strict one-member decode validation per
    * candidate (CRC32 + ISIZE checked by the gzip decoder); a false magic
    * inside deflate data fails the decode and the scan moves on. Residual
    * risk: a false candidate whose bytes decode as a valid member AND
    * pass CRC32+ISIZE (~2⁻³² on content that already looks like a gzip
    * header) — the same class as undetected bit rot. */
  private[graft] def syncToMemberBoundary(
      fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path,
      from: Long, end: Long, isZst: Boolean, presetDict: Array[Byte]): Long = {
    val probe = fs.open(path)
    // the second open sits inside probe's try: if it throws (transient
    // FS error, FD exhaustion — exactly when leaks hurt), probe closes
    val verify =
      try fs.open(path)
      catch { case t: Throwable =>
        try probe.close() catch { case _: Throwable => }
        throw t
      }
    def candidateAt(win: Array[Int]): Boolean =
      if (isZst) {
        // little-endian magics: frame 0xFD2FB528, skippable 0x184D2A5x
        val le = win(0) | win(1) << 8 | win(2) << 16 | win(3) << 24
        le == 0xFD2FB528 || (le & 0xFFFFFFF0) == 0x184D2A50
      } else
        win(0) == 0x1f && win(1) == 0x8b && win(2) == 0x08 && (win(3) & 0xe0) == 0
    def validAt(pos: Long): Boolean = {
      verify.seek(pos)
      try {
        if (isZst) {
          // strict: a frame that doesn't decode (or a skippable frame
          // followed by garbage) throws; entries consumes skippables
          // silently, so the first next() is a real member
          val it = ZstdMembers.entries(verify, permissive = false, presetDict)
          try it.hasNext && { it.next(); true }
          finally it.close() // frees the native ctx, not the stream
        } else {
          val it = Gzip.members(verify)
          it.hasNext && { it.next(); true }
        }
      } catch { case _: Exception => false }
    }
    try {
      probe.seek(from)
      val buf = new Array[Byte](64 << 10)
      // 4-byte sliding window across chunk edges
      val win = new Array[Int](4)
      var filled = 0
      var pos = from // absolute offset of win(0) once filled
      var bufLen = 0
      var bufAt = 0
      def nextByte(): Int = {
        if (bufAt >= bufLen) {
          bufLen = probe.read(buf); bufAt = 0
          if (bufLen <= 0) return -1
        }
        val b = buf(bufAt) & 0xff; bufAt += 1; b
      }
      while (pos < end) {
        while (filled < 4) {
          val b = nextByte()
          if (b < 0) return -1L
          win(filled) = b; filled += 1
        }
        if (candidateAt(win) && validAt(pos)) return pos
        win(0) = win(1); win(1) = win(2); win(2) = win(3)
        filled = 3
        pos += 1
      }
      -1L
    } finally {
      try probe.close() catch { case _: Throwable => }
      try verify.close() catch { case _: Throwable => }
    }
  }

  /** Deterministic many-record fixture (≈300 records, tens of KB) so a
    * byte-range read genuinely cuts mid-file. */
  def splitFixtureRecords: Seq[FixtureRecord] = (0 until 300).map { i =>
    FixtureRecord("response", s"http://www.example.com/split/$i",
      f"2016-02-01T${(i / 60) % 24}%02d:${i % 60}%02d:00Z",
      b32(s"split$i"), 200, "text/html",
      (s"<html>split payload $i " + ("x" * (i % 97)) + "</html>").getBytes(UTF_8))
  }

  /** The REPLAY primitive: fetch exactly the members that CDX
    * `(filename, offset, length)` pointers name — the range-request path
    * pywb serves captures through, and the whole reason the index stores
    * those two byte columns (SURVEY §1.2). The file is `dir/filename` and
    * offsets count from its start; [[replay]] does the reading. At
    * serving scale the request list is query-sized — the corpus is never
    * scanned. */
  def fetchRecords(spark: SparkSession, requests: DataFrame, dir: String): DataFrame = {
    val need = Seq("filename", "offset", "length")
    require(need.forall(requests.columns.contains),
      s"fetchRecords needs [${need.mkString(", ")}]; got [${requests.columns.mkString(", ")}]")
    replay(spark, requests.withColumn("container", functions.col("filename")), dir,
      "fetchRecords")((_, _, _) => _ => 0L)
  }

  /** Pointer replay, the one kernel behind [[fetchRecords]] and
    * [[Wacz.fetchRecords]]: `pointers` = (container, filename, offset,
    * length), where `dir/container` is the file read and `filename` the
    * archive inside it. `bases(fs, path, in)` runs once per opened
    * container and maps a filename to the container byte its offsets
    * count from.
    *
    * Pointers are deduped — a multi-record member's N records share ONE
    * re-fetch unit, so a scan/index over it emits N identical pointers —
    * then repartitioned by container and sorted by (container, filename,
    * offset), so each task opens a container ONCE and reads its ranges in
    * ascending order with positioned reads. The columns are cast, so an
    * INT-typed index works. Each range is decoded strictly (`.zst` as
    * zstd frames, with the dictionary that a dict-mode archive parks at
    * its base loaded once per archive; anything else as gzip members) and
    * every member becomes rows through the scan's own row builder
    * ([[graft.sources.WarcRows]]) with ITS OWN (offset, length), so
    * fetched rows are bit-identical to scanned ones (WarcSpec pins the
    * round trip). Wrong pointers fail loudly — an implausible length, two
    * pointers at one offset with different lengths, or a range that is
    * not whole members: a serving stack must know its index is stale, not
    * silently skip. Ranges are never re-synchronized on member boundaries
    * the way the scan's byte ranges are: that would quietly return the
    * record after a stale pointer. */
  private[graft] def replay(
      spark: SparkSession, pointers: DataFrame, dir: String, caller: String)(
      bases: (FileSystem, Path, FSDataInputStream) => String => Long): DataFrame = {
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val key = Seq("container", "filename", "offset")
    val rows = pointers.select(
        functions.col("container").cast("string"),
        functions.col("filename").cast("string"),
        functions.col("offset").cast("long"),
        functions.col("length").cast("long"))
      .dropDuplicates(key :+ "length")
      .repartition(functions.col("container"))
      .sortWithinPartitions(key.map(functions.col): _*)
      .rdd.mapPartitions { it =>
        val build = new WarcRows(schema.fieldNames, segments = false)
        var fs: FileSystem = null
        var in: FSDataInputStream = null
        var container: String = null
        var baseOf: String => Long = null
        var file: String = null
        var name: UTF8String = null
        var base = 0L
        var dict: Array[Byte] = null
        var prevOffset = -1L
        def close(): Unit = if (in != null) { try in.close() catch { case _: Throwable => }; in = null }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        val out = it.flatMap { r =>
          val (c, f, off, len) = (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
          def at = if (c == f) s"$f@$off" else s"$c!$f@$off"
          // MaxMemberBytes caps DECOMPRESSED size; this len is the
          // COMPRESSED member, which for incompressible data runs
          // ~0.03% + header bytes LARGER (deflate stored blocks), so a
          // legal near-cap member the scanner accepts must not be
          // rejected here — allow 1 MiB of framing slack (and stay
          // under Int.MaxValue for the buffer allocation)
          require(len > 0 && len <= Gzip.MaxMemberBytes.toLong + (1L << 20),
            s"$caller: implausible member length $len for $at")
          if (c != container) {
            close()
            val p = new Path(dir, c)
            if (fs == null) fs = p.getFileSystem(sconf.value)
            in = fs.open(p)
            baseOf = bases(fs, p, in)
            container = c
            file = null
          }
          if (f != file) {
            base = baseOf(f)
            dict =
              if (f.endsWith(".zst")) ZstdMembers.leadingDict((p, b) => in.readFully(base + p, b))
              else null
            file = f
            name = UTF8String.fromString(f)
            prevOffset = -1L
          }
          // sorted by offset and exact-pointer-deduped above: a repeated
          // offset here means two pointers disagree on length
          require(off != prevOffset,
            s"$caller: conflicting lengths for $at — the index is stale " +
              "(two pointers at one offset); refusing to guess")
          prevOffset = off
          val buf = new Array[Byte](len.toInt)
          in.readFully(base + off, buf)
          val bytes = new ByteArrayInputStream(buf)
          val got = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          if (f.endsWith(".zst")) {
            // strict decode can throw mid-iteration — es holds a native
            // context with no finalizer, so close on every path
            val es = ZstdMembers.entries(bytes, permissive = false, dict)
            try es.foreach(e => build.append(e, off + e.offset, e.compressedLength, name, got))
            finally es.close()
          } else Gzip.entries(bytes, permissive = false)
            .foreach(e => build.append(e, off + e.offset, e.compressedLength, name, got))
          got
        }
        new Iterator[InternalRow] {
          override def hasNext: Boolean = { val h = out.hasNext; if (!h) close(); h }
          override def next(): InternalRow = out.next()
        }
      }
    GraftDatasets.ofInternalRows(spark, rows, schema)
  }

  /** Deterministic WET-style fixture: `conversion` records carrying the
    * pre-extracted plain text of each page (the Common Crawl *.warc.wet.gz
    * convention — same WARC container, text/plain payloads) plus the
    * leading warcinfo. Used by scan_wet and Pipeline.wetToCorpus specs. */
  def wetFixtureRecords: Seq[FixtureRecord] = Seq(
    FixtureRecord("warcinfo", null, "2015-02-15T01:00:00Z",
      "WET2222222222222222222222222222".take(32), 0, null,
      "software: graft-wet-fixture".getBytes(UTF_8)),
    FixtureRecord("conversion", "http://www.example.com/path?b=2&a=1",
      "2015-02-15T01:23:45Z", "WETA222222222222222222222222222A", 0, null,
      "alpha page extracted text body".getBytes(UTF_8)),
    FixtureRecord("conversion", "http://example.com/other",
      "2015-03-01T12:00:00Z", "WETB222222222222222222222222222B", 0, null,
      "beta not here text".getBytes(UTF_8)),
    FixtureRecord("conversion", "http://sub.iana.org/x",
      "2015-05-10T23:59:59Z", "WETC222222222222222222222222222C", 0, null,
      "gamma möved päge text".getBytes(UTF_8))) // UTF-8 survives the cast

  /** Deterministic WAT-style fixture: `metadata` records carrying the
    * Common Crawl JSON envelope (per-capture response metadata: title +
    * outgoing links) — the *.warc.wat.gz convention. */
  def watFixtureRecords: Seq[FixtureRecord] = {
    def envelope(uri: String, date: String, title: String, links: Seq[String]): String = {
      val linksJson = links.map(l => s"""{"path":"A@/href","url":"$l"}""").mkString("[", ",", "]")
      s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"$uri","WARC-Date":"$date"},""" +
        s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":""" +
        s"""{"Head":{"Title":"$title"},"Links":$linksJson}}}}}"""
    }
    Seq(
      FixtureRecord("warcinfo", null, "2015-02-15T01:00:00Z",
        "WAT2222222222222222222222222222".take(32), 0, null,
        "software: graft-wat-fixture".getBytes(UTF_8)),
      FixtureRecord("metadata", "http://www.example.com/path?b=2&a=1",
        "2015-02-15T01:23:45Z", "WATA222222222222222222222222222A", 0, null,
        envelope("http://www.example.com/path?b=2&a=1", "2015-02-15T01:23:45Z",
          "Alpha Page", Seq("http://example.com/other", "http://sub.iana.org/x"))
          .getBytes(UTF_8)),
      FixtureRecord("metadata", "http://example.com/other",
        "2015-03-01T12:00:00Z", "WATB222222222222222222222222222B", 0, null,
        envelope("http://example.com/other", "2015-03-01T12:00:00Z",
          "Beta", Seq("http://www.example.com/path?b=2&a=1")).getBytes(UTF_8)))
  }

  /** deterministic fake digest for fixture records (one definition for
    * all three fixture sets, so the convention cannot diverge) */
  private def b32(seed: String): String =
    seed.flatMap(c => Integer.toString((c.toInt % 32), 32)).toUpperCase.padTo(32, '2').take(32)

  /** Deterministic 8-record fixture over 3 URLs — used by the scan_warc
    * demo query and the golden spec. */
  def fixtureRecords: Seq[FixtureRecord] = {
    Seq(
      FixtureRecord("warcinfo", null, "2015-02-15T01:00:00Z", b32("info"), 0, null,
        "software: graft-fixture".getBytes(UTF_8)),
      FixtureRecord("response", "http://www.example.com/path?b=2&a=1", "2015-02-15T01:23:45Z",
        b32("alpha"), 200, "text/html; charset=UTF-8", "<html>alpha</html>".getBytes(UTF_8)),
      FixtureRecord("request", "http://www.example.com/path?b=2&a=1", "2015-02-15T01:23:45Z",
        b32("alpha-req"), 0, null, "GET /path?b=2&a=1 HTTP/1.1\r\n\r\n".getBytes(UTF_8)),
      FixtureRecord("response", "http://example.com/other", "2015-03-01T12:00:00Z",
        b32("beta"), 404, "text/plain", "not here".getBytes(UTF_8)),
      FixtureRecord("revisit", "http://www.example.com/path?b=2&a=1", "2015-04-02T08:30:00Z",
        b32("alpha"), 0, null, Array.emptyByteArray),
      FixtureRecord("response", "https://sub.iana.org/x", "2015-05-10T23:59:59Z",
        b32("gamma"), 301, "text/html", "<a>moved</a>".getBytes(UTF_8)),
      FixtureRecord("metadata", "http://example.com/other", "2015-03-01T12:00:01Z",
        b32("meta"), 0, null, "outlink: http://example.com/next".getBytes(UTF_8)),
      FixtureRecord("response", "http://example.com/other", "2015-06-01T00:00:00Z",
        b32("beta"), 200, "text/plain", "now here".getBytes(UTF_8)))
  }

  /** HTML-bearing fixture for the payload→corpus extraction path
    * (ops/Html.scala): deterministic pages covering script/style/comment
    * stripping, entity decoding, UTF-8 AND ISO-8859-1 charsets (the é in
    * page two is the single byte 0xE9 — a UTF-8 misdecode corrupts it),
    * a titleless page, and rows the response/200/html filter must drop. */
  def htmlFixtureRecords: Seq[FixtureRecord] = {
    val utf8Page =
      ("<html><head><title> Alpha &amp; Beta </title>" +
        "<style>body { color: red }</style></head>" +
        "<body><!-- hidden comment --><h1>Café menu</h1>" +
        "<script type=\"text/javascript\">var x = '<p>not text</p>';</script>" +
        "<p>Tea &lt;hot&gt;&nbsp;&amp; biscuits&#39; price</p></body></html>").getBytes(UTF_8)
    val latinPage =
      // é as 0xE9: valid ISO-8859-1, malformed as UTF-8
      ("<html><title>Latin</title><body>r" + "é" + "sum" + "é" + "</body></html>")
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    Seq(
      FixtureRecord("warcinfo", null, "2016-01-01T00:00:00Z", b32("info"), 0, null,
        "software: graft-html-fixture".getBytes(UTF_8)),
      FixtureRecord("response", "http://www.example.com/menu", "2016-01-02T10:00:00Z",
        b32("menu"), 200, "text/html; charset=UTF-8", utf8Page),
      FixtureRecord("response", "http://www.example.com/latin", "2016-01-03T11:30:00Z",
        b32("latin"), 200, "text/html; charset=ISO-8859-1", latinPage),
      FixtureRecord("response", "http://www.example.com/bare", "2016-01-04T12:00:00Z",
        b32("bare"), 200, "text/html", "<div>no title here</div>".getBytes(UTF_8)),
      FixtureRecord("response", "http://www.example.com/gone", "2016-01-05T13:00:00Z",
        b32("gone"), 404, "text/html", "<html>not found</html>".getBytes(UTF_8)),
      FixtureRecord("response", "http://www.example.com/raw", "2016-01-06T14:00:00Z",
        b32("raw"), 200, "text/plain", "plain payload".getBytes(UTF_8)))
  }

  /** End-to-end corpus fixture (the pipeline_warc_corpus driver key):
    * [[htmlFixtureRecords]] plus the cases the WARC→corpus composition
    * must exercise — a LATER duplicate capture of the menu page (same
    * payload bytes, new timestamp: earliest-capture dedup must keep the
    * 2016-01-02 one), a one-word page the minTokens gate drops, and a
    * stopword-rich long page that clearly PASSES the quality gate the
    * short /latin and /bare pages fall under. */
  def corpusFixtureRecords: Seq[FixtureRecord] = {
    // the corpus pipeline extracts MAIN content (Html.extractMain), so
    // its menu page carries real chrome — nav links, a short heading, a
    // footer — around one content-classified paragraph: the pipeline key
    // demonstrates that tokens_kept counts ONLY the paragraph. The two
    // menu captures share this payload (earliest-capture dedup plant).
    val menuPayload =
      ("<html><head><title>Menu</title><style>body { color: red }</style></head>" +
        "<body><nav><a href=\"/\">Home</a> <a href=\"/menu\">Menu</a> " +
        "<a href=\"/contact\">Contact</a></nav><h1>Café menu</h1>" +
        "<p>Tea and biscuits are served with a pot of cream for the price " +
        "of a song in the morning.</p>" +
        "<footer>&copy; Example Café. All rights reserved.</footer>" +
        "</body></html>").getBytes(UTF_8)
    val longPage =
      ("<html><title>Guide</title><body>The quick brown fox jumps over the " +
        "lazy dog and runs to the river every morning for a drink of water" +
        "</body></html>").getBytes(UTF_8)
    htmlFixtureRecords.map { r =>
      if (r.url == "http://www.example.com/menu")
        r.copy(digest = b32("menu2"), payload = menuPayload)
      else r
    } ++ Seq(
      FixtureRecord("response", "http://www.example.com/menu", "2016-02-01T09:00:00Z",
        b32("menu2"), 200, "text/html; charset=UTF-8", menuPayload),
      FixtureRecord("response", "http://www.example.com/tiny", "2016-01-07T15:00:00Z",
        b32("tiny"), 200, "text/html", "<html><body>hi</body></html>".getBytes(UTF_8)),
      FixtureRecord("response", "http://www.example.com/long", "2016-01-08T16:00:00Z",
        b32("long"), 200, "text/html; charset=UTF-8", longPage))
  }
}
