package graft.formats

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.util.zip.{CRC32, Deflater, Inflater}

/** Gzip *member* framing. WARC `.warc.gz` and ZipNum shard files are
  * concatenations of independent gzip members — one WARC record / one CDX
  * block per member — so a reader can seek to a member's byte offset and
  * decompress just that member (SURVEY.md §1.1, §1.4).
  *
  * The JDK's GZIPInputStream transparently reads across member boundaries
  * and hides compressed offsets, so member framing is done here directly:
  * parse the RFC 1952 header, inflate with nowrap, and account the 8-byte
  * CRC32/ISIZE trailer. Pure JDK, no extra dependencies.
  */
object Gzip {

  /** Item of the compressed stream: a decoded member, or (permissive mode
    * only) a span of bytes that could not be decoded. */
  sealed trait Entry {
    def offset: Long
    def compressedLength: Long
  }

  /** One decompressed member plus its position in the compressed stream. */
  final case class Member(offset: Long, compressedLength: Long, bytes: Array[Byte])
    extends Entry

  /** Bytes between a failed decode and the next plausible member header
    * (or EOF). Only emitted by [[entries]] in permissive mode. */
  final case class CorruptSpan(offset: Long, compressedLength: Long, reason: String)
    extends Entry

  private val FHCRC = 2
  private val FEXTRA = 4
  private val FNAME = 8
  private val FCOMMENT = 16

  /** Replay window for failed permissive parses: a decode attempt whose
    * net consumption fits this many bytes can be pushed back wholesale so
    * the resync scan restarts at attempt-start+1 — a FAKE magic in garbage
    * would otherwise start a doomed parse whose inflate consumes past a
    * real member header, silently losing that member (round-3 advice).
    * Attempts that outgrow the window (a multi-MB corrupt record) fall
    * back to resuming at the failure point, bounding memory at one window
    * per open reader. */
  private[graft] val MaxReplayBytes: Int = 1 << 20

  /** InputStream wrapper with a carry buffer for bytes the inflater
    * over-read past a member's end (they belong to the next member). */
  private final class CarryStream(in: InputStream) {
    private var carry: Array[Byte] = Array.emptyByteArray
    private var carryPos = 0

    /** absolute position of the next byte to be served (pushed-back bytes
      * rewind it) — the resync path derives span offsets from this */
    var consumed: Long = 0L

    // replay recording: every byte served while recording lands at its net
    // stream position (recStart-relative), so pushBack+re-read just
    // overwrites the same cells with identical bytes
    private var recArr: Array[Byte] = null
    private var recStart = 0L
    private var recOverflow = false

    def startRecording(): Unit = { recArr = new Array[Byte](4096); recStart = consumed; recOverflow = false }
    def stopRecording(): Unit = recArr = null

    /** Rewind a failed attempt to its start+1 byte: push every recorded
      * byte after the first back onto the carry. False when the attempt
      * outgrew [[MaxReplayBytes]] (stream stays at the failure point). */
    def rewindPastRecordStart(): Boolean = {
      if (recArr == null || recOverflow) return false
      val netLen = (consumed - recStart).toInt
      if (netLen > 1) pushBack(recArr, 1, netLen - 1)
      true
    }

    def pushBack(buf: Array[Byte], from: Int, len: Int): Unit = {
      val remaining = carry.length - carryPos
      val merged = new Array[Byte](len + remaining)
      System.arraycopy(buf, from, merged, 0, len)
      if (remaining > 0) System.arraycopy(carry, carryPos, merged, len, remaining)
      carry = merged
      carryPos = 0
      consumed -= len
    }

    /** read up to len bytes; -1 at EOF */
    def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val remaining = carry.length - carryPos
      val n = if (remaining > 0) {
        val k = math.min(remaining, len)
        System.arraycopy(carry, carryPos, buf, off, k)
        carryPos += k
        k
      } else in.read(buf, off, len)
      if (n > 0) {
        if (recArr != null && !recOverflow) {
          val pos = consumed - recStart // net position before this read
          if (pos + n > MaxReplayBytes) recOverflow = true
          else {
            if (pos + n > recArr.length) {
              var cap = recArr.length
              while (cap < pos + n) cap = math.min(cap * 2, MaxReplayBytes)
              recArr = java.util.Arrays.copyOf(recArr, cap)
            }
            System.arraycopy(buf, off, recArr, pos.toInt, n)
          }
        }
        consumed += n
      }
      n
    }

    def readByte(): Int = {
      val b = new Array[Byte](1)
      val n = read(b, 0, 1)
      if (n < 0) -1 else b(0) & 0xff
    }

    def readFully(buf: Array[Byte]): Boolean = {
      var got = 0
      while (got < buf.length) {
        val n = read(buf, got, buf.length - got)
        if (n < 0) return false
        got += n
      }
      true
    }
  }

  /** Decompressed-size ceiling per member (1 GiB). Without it a gzip
    * bomb — or flipped bits that happen to form a huge valid deflate
    * stream — inflates into the unbounded member buffer until the
    * executor dies with OutOfMemoryError, which escapes the permissive
    * catch and kills the job. With it, the member becomes an
    * IllegalStateException → CorruptSpan: one pathological member costs
    * one record, which is the whole permissive contract. Real WARC
    * members are tens of MB at the extreme. */
  private[graft] val MaxMemberBytes: Int = 1 << 30

  /** Iterate the gzip members of `in` (a full `.gz` stream). Strict: any
    * undecodable byte throws — right for ZipNum clusters, whose idx
    * promises exact member tiling. Crawl inputs want [[entries]]. */
  def members(in: InputStream): Iterator[Member] =
    entries(in, permissive = false).collect { case m: Member => m }

  /** Iterate members; in permissive mode undecodable bytes become
    * [[CorruptSpan]]s instead of exceptions — the reader scans forward
    * for the next plausible member header (`1f 8b 08` with the FLG
    * reserved bits clear, the warcio/crawl-tooling resync heuristic) and
    * resumes there. A false-positive resync inside deflate data just
    * fails again and extends into another span, so the scan always makes
    * progress. At 100 TB some corrupt members are a certainty; one bad
    * byte must cost one record, not a 1000-executor job. */
  def entries(in: InputStream, permissive: Boolean): Iterator[Entry] = new Iterator[Entry] {
    private val cs = new CarryStream(in)
    private var offset = 0L
    private var nextEntry: Entry = _
    private var done = false
    // one decoder per ITERATOR; its end() fires at EOF below, and an
    // abandoned iterator (limit/take) leaves it to the Inflater's Cleaner
    private val decoder = new MemberDecoder
    private val out = new ByteArrayOutputStream()

    private def decodeOne(): Unit = {
      out.reset()
      val compLen = decoder.decode(cs, offset, out)
      if (compLen < 0) { done = true; decoder.end(); return }
      nextEntry = Member(offset, compLen, out.toByteArray)
      offset += compLen
    }

    /** scan forward for `1f 8b 08` + sane FLG; position the stream on the
      * magic and return true, or false at EOF */
    private def resync(): Boolean = {
      val win = new Array[Int](4)
      var filled = 0
      while (true) {
        while (filled < 4) {
          val b = cs.readByte()
          if (b < 0) return false
          win(filled) = b
          filled += 1
        }
        if (win(0) == 0x1f && win(1) == 0x8b && win(2) == 0x08 && (win(3) & 0xe0) == 0) {
          cs.pushBack(win.map(_.toByte), 0, 4)
          return true
        }
        win(0) = win(1); win(1) = win(2); win(2) = win(3)
        filled = 3
      }
      false
    }

    private def advance(): Unit = {
      if (done || nextEntry != null) return
      if (permissive) cs.startRecording()
      try { decodeOne(); cs.stopRecording() }
      catch {
        case e @ (_: IllegalStateException | _: EOFException) if permissive =>
          val spanStart = offset
          // rescan from spanStart+1, not the failure point: a fake magic's
          // doomed parse may have consumed a REAL member header, which the
          // rewound scan can still find (resync only pattern-matches, so a
          // rediscovered fake just fails again one byte further along —
          // strictly increasing attempt starts guarantee progress)
          val rewound = cs.rewindPastRecordStart()
          cs.stopRecording()
          val found = resync()
          val spanEnd = cs.consumed
          offset = spanEnd
          if (!found) done = true
          // a zero-length span can't happen: the failed decode consumed at
          // least the byte that made it fail, and the rewind keeps one
          nextEntry = CorruptSpan(spanStart, spanEnd - spanStart,
            if (rewound) e.getMessage
            else e.getMessage + " (attempt exceeded the replay window; resumed at failure point)")
      }
    }

    override def hasNext: Boolean = { advance(); nextEntry != null }
    override def next(): Entry = {
      advance()
      if (nextEntry == null) throw new NoSuchElementException
      val m = nextEntry; nextEntry = null; m
    }
  }

  /** THE gzip member decoder: header parsing, the inflate loop, the
    * [[MaxMemberBytes]] ceiling, the truncation errors and the CRC32/ISIZE
    * trailer check, in one place. Inflated bytes go to a caller-supplied
    * sink chunk by chunk, so a caller that scans them (the ZipNum block
    * reader's line walk) never holds the member whole; [[entries]] passes
    * a `ByteArrayOutputStream`. The sink has seen every byte of a member
    * before its trailer is checked, so a caller that must not act on
    * unverified bytes acts only once [[decodeMember]] returns.
    *
    * ONE Inflater + one set of buffers per decoder, reset() per member
    * (the writeMember reused-Deflater twin): a per-member native
    * init+end pair is measurable on a 100k-member scan. [[end]] frees the
    * native state; a decoder abandoned without it is reclaimed by the JDK
    * Inflater's own Cleaner. */
  private[graft] final class MemberDecoder {
    private val inflater = new Inflater(true)
    private val inBuf = new Array[Byte](8192)
    private val outBuf = new Array[Byte](8192)

    def end(): Unit = inflater.end()

    /** Decode the one member that `in` holds from its first byte, whose
      * position is `offset` in the file (error messages name it), into
      * `sink`. Returns the member's compressed length; bytes of `in` after
      * it are consumed or left unread. Throws on an empty stream. */
    def decodeMember(in: InputStream, offset: Long, sink: OutputStream): Long = {
      val compLen = decode(new CarryStream(in), offset, sink)
      if (compLen < 0) throw new EOFException(s"no gzip member at offset $offset")
      compLen
    }

    /** one member of `cs` into `sink`: its compressed length, or -1 when
      * `cs` is at EOF */
    private[Gzip] def decode(cs: CarryStream, offset: Long, sink: OutputStream): Long = {
      val first = cs.readByte()
      if (first < 0) return -1L
      val magic2 = cs.readByte()
      if (first != 0x1f || magic2 != 0x8b) {
        // magic2 may itself open a real member (1 garbage byte before a
        // good header) — hand it back so the resync scan can see it
        if (magic2 >= 0) cs.pushBack(Array(magic2.toByte), 0, 1)
        throw new IllegalStateException(f"bad gzip magic at offset $offset: $first%02x")
      }
      val fixed = new Array[Byte](8) // CM, FLG, MTIME(4), XFL, OS
      if (!cs.readFully(fixed)) throw new EOFException("truncated gzip header")
      val flags = fixed(1) & 0xff
      var headerLen = 10L
      if ((flags & FEXTRA) != 0) {
        val lenBytes = new Array[Byte](2)
        if (!cs.readFully(lenBytes)) throw new EOFException("truncated FEXTRA")
        val xlen = (lenBytes(0) & 0xff) | ((lenBytes(1) & 0xff) << 8)
        if (!cs.readFully(new Array[Byte](xlen))) throw new EOFException("truncated FEXTRA body")
        headerLen += 2 + xlen
      }
      def skipZeroTerminated(): Unit = {
        var b = cs.readByte()
        headerLen += 1
        while (b > 0) { b = cs.readByte(); headerLen += 1 }
        if (b < 0) throw new EOFException("truncated zero-terminated field")
      }
      if ((flags & FNAME) != 0) skipZeroTerminated()
      if ((flags & FCOMMENT) != 0) skipZeroTerminated()
      if ((flags & FHCRC) != 0) {
        if (!cs.readFully(new Array[Byte](2))) throw new EOFException("truncated FHCRC")
        headerLen += 2
      }
      // inflate the deflate body, tracking compressed bytes consumed
      inflater.reset()
      val crc = new CRC32()
      var size = 0L
      var fedTotal = 0L
      var lastN = 0
      try {
        while (!inflater.finished()) {
          if (inflater.needsInput()) {
            val n = cs.read(inBuf, 0, inBuf.length)
            if (n < 0) throw new EOFException("truncated deflate body")
            inflater.setInput(inBuf, 0, n)
            fedTotal += n
            lastN = n
          }
          val n = inflater.inflate(outBuf)
          if (n > 0) {
            size += n
            if (size > MaxMemberBytes)
              throw new IllegalStateException(
                s"gzip member at offset $offset exceeds $MaxMemberBytes decompressed bytes")
            crc.update(outBuf, 0, n)
            sink.write(outBuf, 0, n)
          }
        }
        // leftover bytes sit at the tail of the last fed chunk; they are
        // the trailer plus (possibly) the start of the next member
        val leftover = inflater.getRemaining
        val deflateLen = fedTotal - leftover
        if (leftover > 0) cs.pushBack(inBuf, lastN - leftover, leftover)
        val trailer = new Array[Byte](8)
        if (!cs.readFully(trailer)) throw new EOFException("truncated gzip trailer")
        // verify CRC32 + ISIZE like GZIPInputStream: structurally-valid
        // deflate over flipped bits can still "succeed" with wrong bytes,
        // and silently indexing garbage is worse than skipping the member
        def le32(b: Array[Byte], at: Int): Long =
          (b(at) & 0xffL) | ((b(at + 1) & 0xffL) << 8) |
            ((b(at + 2) & 0xffL) << 16) | ((b(at + 3) & 0xffL) << 24)
        if (le32(trailer, 0) != crc.getValue || le32(trailer, 4) != (size & 0xffffffffL))
          throw new IllegalStateException(
            s"gzip CRC/ISIZE mismatch for member at offset $offset")
        headerLen + deflateLen + 8
      } catch {
        case e: java.util.zip.DataFormatException =>
          // rescue the unconsumed tail for the resync scan before rethrow
          val leftover = inflater.getRemaining
          if (leftover > 0) cs.pushBack(inBuf, lastN - leftover, leftover)
          throw new IllegalStateException(s"corrupt deflate body: ${e.getMessage}", e)
      }
    }
  }

  /** Compress `bytes` as one standalone gzip member. */
  /** the ONLY sanctioned constructor for a [[writeMember]] `reuse`
    * Deflater — raw-deflate (nowrap) at the default level, so a reused
    * instance produces byte-identical members to the one-shot path */
  def memberDeflater(): Deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)

  def compressMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeMember(out, bytes)
    out.toByteArray
  }

  /** Write one gzip member (fixed 10-byte header, no name/extra fields);
    * returns the member's compressed length. `reuse` lets a per-record
    * hot loop (WarcSink/Wacz write one member PER RECORD) hold ONE
    * native Deflater per task instead of paying a native init+end per
    * member — the same allocation class the zstd writer's reused
    * compress context fixed (measured 8.9 s → 2.0 s there). A reused
    * Deflater is reset() here before use; the caller owns its end(). */
  def writeMember(out: OutputStream, bytes: Array[Byte], reuse: Deflater = null): Long = {
    val header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0)
    out.write(header)
    val deflater =
      if (reuse != null) { reuse.reset(); reuse }
      else new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(bytes)
    deflater.finish()
    val buf = new Array[Byte](8192)
    var deflateLen = 0L
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      out.write(buf, 0, n)
      deflateLen += n
    }
    if (reuse == null) deflater.end()
    val crc = new CRC32()
    crc.update(bytes)
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    out.write(le32(crc.getValue))
    out.write(le32(bytes.length.toLong & 0xffffffffL))
    10L + deflateLen + 8
  }
}
