package graftbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.{CRC32, Deflater}

/** Shape of one generated corpus. Sizes are compressed bytes. */
final case class CorpusSpec(
    files: Int,
    bytesPerFile: Long,
    hosts: Int,
    hostZipf: Double, // 0 = uniform
    pathsPerHost: Int,
    meanPayload: Int, // exponential payload size, bytes
    revisitShare: Double)

/** One capture as the index must report it: the expected CDX line plus
  * the parts the lookup oracle needs. */
final case class Capture(urlkey: String, host: String, ts: String, line: String)

final case class FileOut(
    name: String, bytes: Long, sha256: Array[Byte], records: Long,
    captures: Array[Capture], rawUrls: Array[String])

final case class Corpus(
    dir: Path, glob: String, files: Seq[FileOut], sha256: String) {
  def inputBytes: Long = files.map(_.bytes).sum
  def records: Long = files.map(_.records).sum
  lazy val captures: Array[Capture] = files.flatMap(_.captures).toArray
  /** the cluster's content: every expected CDX line, UTF-8 byte order
    * (all generated text is ASCII, so String order is byte order) */
  lazy val sortedLines: Array[String] = captures.map(_.line).sorted
  lazy val rawUrls: Array[String] = files.flatMap(_.rawUrls).toArray
}

/** Zipf(s) ranks 0..n-1 (s = 0: uniform) */
final class ZipfSampler(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => if (s == 0) 1.0 else 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded `.warc.gz` generator that does not use the program: it renders
  * WARC and HTTP headers itself, writes one JDK Deflater gzip member per
  * record, and derives every expected CDX line (SURT key, 14-digit ts,
  * pywb JSON, member offset/length) from the canonical URL parts it then
  * decorates (case, www/wwwN, default and non-default ports, shuffled
  * query parameters, fragments). Same seed, same bytes. */
object CorpusGen {

  private val Tlds = Array("com", "org", "net", "de", "io", "co.uk", "com.au", "fr")
  private val Subs = Array("", "", "", "blog.", "shop.", "m.", "news.")
  private val Exts = Array("", ".html", ".php", "/")
  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  // first epoch second of the capture window (2015-01-01T00:00:00Z)
  private val BaseEpoch = 1420070400L
  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMddHHmmss").withZone(java.time.ZoneOffset.UTC)
  private val IsoFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  def ts14(epoch: Long): String = TsFormat.format(java.time.Instant.ofEpochSecond(epoch))
  def epochOf(ts: String): Long =
    java.time.LocalDateTime.parse(ts, TsFormat).toEpochSecond(java.time.ZoneOffset.UTC)

  private def word(r: SplittableRandom, min: Int, max: Int): String = {
    val n = min + r.nextInt(max - min + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Letters.charAt(r.nextInt(26))); i += 1 }
    sb.toString
  }

  /** canonical host `i`: lowercase labels, never starting with `www` */
  final case class Host(labels: String, port: String) {
    /** SURT host part, e.g. `uk,co,example,blog:8080` */
    val surt: String = labels.split('.').reverse.mkString(",") + (if (port.isEmpty) "" else ":" + port)
  }

  def hostsOf(seed: Long, n: Int): Array[Host] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = new Array[Host](n)
    var i = 0
    while (i < n) {
      var name = word(r, 4, 10) + (if (r.nextInt(3) == 0) "-" + word(r, 2, 6) else "")
      if (name.startsWith("www")) name = "x" + name
      val labels = Subs(r.nextInt(Subs.length)) + name + "." + Tlds(r.nextInt(Tlds.length))
      if (seen.add(labels)) {
        // every 23rd host serves on a non-default port, which SURT keeps
        out(i) = Host(labels, if (i % 23 == 11) "8080" else "")
        i += 1
      }
    }
    out
  }

  /** canonical (path, sorted params) of page `p` on host `h` */
  private def page(seed: Long, h: Int, p: Int): (String, Array[String]) = {
    val r = new SplittableRandom((seed * 1000003L + h) * 1000033L + p)
    val path =
      if (p == 0) "/"
      else {
        val segs = 1 + r.nextInt(3)
        (0 until segs).map(_ => word(r, 2, 9)).mkString("/", "/", "") +
          Exts(r.nextInt(Exts.length)) + (if (r.nextInt(4) == 0) "-" + p else "")
      }
    val nParams = if (r.nextInt(3) == 0) 1 + r.nextInt(3) else 0
    val params = (0 until nParams).map(i => word(r, 1, 5) + i + "=" + word(r, 1, 7)).sorted.toArray
    (path, params)
  }

  private def surtKey(host: Host, path: String, params: Array[String]): String =
    host.surt + ")" + path + (if (params.isEmpty) "" else params.mkString("?", "&", ""))

  private def randomCase(r: SplittableRandom, s: String): String =
    if (r.nextInt(3) != 0) s
    else s.map(c => if (c.isLetter && r.nextInt(4) == 0) c.toUpper else c)

  /** a raw URL whose SURT key is the canonical one */
  private def decorate(
      r: SplittableRandom, host: Host, path: String, params: Array[String]): String = {
    val https = r.nextBoolean()
    val sb = new java.lang.StringBuilder(if (https) "https://" else "http://")
    r.nextInt(6) match {
      case 0 => sb.append("www.")
      case 1 => sb.append("WWW").append(1 + r.nextInt(3)).append('.')
      case _ =>
    }
    sb.append(randomCase(r, host.labels))
    if (host.port.nonEmpty) sb.append(':').append(host.port)
    else if (r.nextInt(5) == 0) sb.append(if (https) ":443" else ":80")
    val bare = path == "/" && r.nextInt(3) == 0 // `http://host` or `http://host?q`
    if (!bare) sb.append(randomCase(r, path))
    if (params.nonEmpty) {
      val shuffled = params.clone()
      var i = shuffled.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
        i -= 1
      }
      sb.append('?').append(randomCase(r, shuffled.mkString("&")))
    }
    if (r.nextInt(8) == 0) sb.append('#').append(word(r, 1, 6))
    sb.toString
  }

  private val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
  private def base32(bytes: Array[Byte]): String = {
    val out = new java.lang.StringBuilder
    var buffer = 0L
    var bits = 0
    bytes.foreach { b =>
      buffer = (buffer << 8) | (b & 0xff); bits += 8
      while (bits >= 5) { out.append(B32.charAt(((buffer >> (bits - 5)) & 31).toInt)); bits -= 5 }
    }
    if (bits > 0) out.append(B32.charAt(((buffer << (5 - bits)) & 31).toInt))
    out.toString
  }

  private def uuid(r: SplittableRandom): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  /** one gzip member: fixed 10-byte header, raw deflate, CRC32, ISIZE */
  private def gzipMember(d: Deflater, buf: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
    d.reset(); d.setInput(data); d.finish()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    val crc = new CRC32(); crc.update(data)
    def le32(v: Long): Unit = (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    le32(crc.getValue); le32(data.length.toLong)
    out.toByteArray
  }

  private def warcRecord(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(block.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(US_ASCII)
    val out = new Array[Byte](head.length + block.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(block, 0, out, head.length, block.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Spark's to_json output for the flat string struct the CDX derive
    * packs; generated values never need escaping (asserted) */
  private def cdxJson(url: String, mime: String, status: String, digest: String,
      length: Long, offset: Long, filename: String): String = {
    require(!url.exists(c => c == '"' || c == '\\' || c < 0x20 || c > 0x7e), url)
    s"""{"url":"$url","mime":"$mime","status":"$status","digest":"$digest",""" +
      s""""length":"$length","offset":"$offset","filename":"$filename"}"""
  }

  private val Statuses = Array(200, 200, 200, 200, 200, 200, 200, 200, 301, 404, 500)
  private def reason(s: Int): String = s match {
    case 200 => "OK"; case 301 => "Moved Permanently"; case 404 => "Not Found"; case _ => "Internal Server Error"
  }
  private val Mimes = Array("text/html; charset=utf-8", "text/html", "application/json", "text/plain")

  private final case class Seen(
      h: Int, path: String, params: Array[String],
      digest: String, status: Int, mime: String, epoch: Long, url: String)

  private def writeFile(
      seed: Long, spec: CorpusSpec, hosts: Array[Host], vocab: Array[String],
      idx: Int, dir: Path): FileOut = {
    val name = f"crawl-$idx%05d.warc.gz"
    val r = new SplittableRandom(seed * 7919L + idx * 104729L + 1)
    val hostPick = new ZipfSampler(hosts.length, spec.hostZipf)
    val pagePick = new ZipfSampler(spec.pathsPerHost, 1.0)
    val sha256 = MessageDigest.getInstance("SHA-256")
    val sha1 = MessageDigest.getInstance("SHA-1")
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    val buf = new Array[Byte](64 * 1024)
    val out = new BufferedOutputStream(new FileOutputStream(dir.resolve(name).toFile), 1 << 20)
    var offset = 0L
    var records = 0L
    val captures = Array.newBuilder[Capture]
    val urls = Array.newBuilder[String]
    // responses written so far in this file; a revisit re-captures one
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seen]
    def emit(record: Array[Byte]): (Long, Long) = {
      val m = gzipMember(deflater, buf, record)
      out.write(m); sha256.update(m)
      val at = offset
      offset += m.length
      records += 1
      (at, m.length.toLong)
    }
    try {
      emit(warcRecord(Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> s"<urn:uuid:${uuid(r)}>",
        "WARC-Date" -> IsoFormat.format(java.time.Instant.ofEpochSecond(BaseEpoch)),
        "WARC-Filename" -> name,
        "Content-Type" -> "application/warc-fields"),
        "software: graftbench-corpusgen\r\nformat: WARC File Format 1.0\r\n".getBytes(US_ASCII)))
      var local = 0L
      while (offset < spec.bytesPerFile) {
        val prior =
          if (seen.nonEmpty && r.nextDouble() < spec.revisitShare) seen(r.nextInt(seen.length))
          else null
        val h = if (prior != null) prior.h else hostPick.sample(r)
        val host = hosts(h)
        val (path, params) =
          if (prior != null) (prior.path, prior.params) else page(seed, h, pagePick.sample(r))
        val key = surtKey(host, path, params)
        val url = decorate(r, host, path, params)
        // globally unique capture second: no two captures share a ts
        val epoch = BaseEpoch + (local * spec.files + idx) * 7
        local += 1
        val ts = ts14(epoch)
        val date = IsoFormat.format(java.time.Instant.ofEpochSecond(epoch))
        if (r.nextInt(4) == 0) {
          val req = s"GET ${if (path == "/") "/" else path} HTTP/1.1\r\nHost: ${host.labels}\r\n\r\n"
          emit(warcRecord(Seq(
            "WARC-Type" -> "request",
            "WARC-Record-ID" -> s"<urn:uuid:${uuid(r)}>",
            "WARC-Date" -> date,
            "WARC-Target-URI" -> url,
            "Content-Type" -> "application/http; msgtype=request"), req.getBytes(US_ASCII)))
        }
        if (prior != null) {
          val head = s"HTTP/1.1 ${prior.status} ${reason(prior.status)}\r\nContent-Type: ${prior.mime}\r\n\r\n"
          val (at, len) = emit(warcRecord(Seq(
            "WARC-Type" -> "revisit",
            "WARC-Record-ID" -> s"<urn:uuid:${uuid(r)}>",
            "WARC-Date" -> date,
            "WARC-Target-URI" -> url,
            "WARC-Payload-Digest" -> s"sha1:${prior.digest}",
            "WARC-Profile" -> "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
            "WARC-Refers-To-Target-URI" -> prior.url,
            "WARC-Refers-To-Date" -> IsoFormat.format(java.time.Instant.ofEpochSecond(prior.epoch)),
            "Content-Type" -> "application/http; msgtype=response"), head.getBytes(US_ASCII)))
          captures += Capture(key, host.surt, ts, s"$key $ts " +
            cdxJson(url, "warc/revisit", prior.status.toString, prior.digest, len, at, name))
        } else {
          val status = Statuses(r.nextInt(Statuses.length))
          val mime = Mimes(r.nextInt(Mimes.length))
          val size = math.min(256 * 1024, 32 + (-math.log(1 - r.nextDouble()) * spec.meanPayload).toInt)
          val body = new java.lang.StringBuilder(size + 64)
          body.append("<html><head><title>").append(path).append("</title></head><body>\n")
          while (body.length < size) {
            body.append(vocab(r.nextInt(vocab.length)))
            body.append(if (r.nextInt(12) == 0) ".\n" else " ")
          }
          val payload = body.toString.getBytes(US_ASCII)
          val digest = base32(sha1.digest(payload))
          val location = if (status == 301) s"Location: ${host.labels}/moved\r\n" else ""
          val head = s"HTTP/1.1 $status ${reason(status)}\r\nContent-Type: $mime\r\n$location" +
            s"Content-Length: ${payload.length}\r\n\r\n"
          val block = head.getBytes(US_ASCII) ++ payload
          val (at, len) = emit(warcRecord(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:uuid:${uuid(r)}>",
            "WARC-Date" -> date,
            "WARC-Target-URI" -> url,
            "WARC-Payload-Digest" -> s"sha1:$digest",
            "Content-Type" -> "application/http; msgtype=response"), block))
          seen += Seen(h, path, params, digest, status, mime, epoch, url)
          captures += Capture(key, host.surt, ts, s"$key $ts " +
            cdxJson(url, mime, status.toString, digest, len, at, name))
        }
        urls += url
      }
    } finally { out.close(); deflater.end() }
    FileOut(name, offset, sha256.digest(), records, captures.result(), urls.result())
  }

  /** Write the corpus for `seed` under `dir` with `threads` writers. */
  def generate(seed: Long, spec: CorpusSpec, dir: Path, threads: Int): Corpus = {
    Files.createDirectories(dir)
    val hosts = hostsOf(seed, spec.hosts)
    val vr = new SplittableRandom(seed * 13 + 5)
    val vocab = Array.fill(4096)(word(vr, 1, 11))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val files = try {
      val futures = (0 until spec.files).map(i =>
        pool.submit(() => writeFile(seed, spec, hosts, vocab, i, dir)))
      futures.map(_.get())
    } finally pool.shutdown()
    val manifest = MessageDigest.getInstance("SHA-256")
    files.foreach { f =>
      manifest.update(s"${f.sha256.map("%02x".format(_)).mkString} ${f.name}\n".getBytes(US_ASCII))
    }
    Corpus(dir, dir.toString + "/*.warc.gz", files,
      manifest.digest().map("%02x".format(_)).mkString)
  }
}
