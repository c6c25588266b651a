package graft.formats

import java.io.InputStream

import com.github.luben.zstd.{Zstd => JZstd, ZstdInputStream}

/** zstd *frame* framing for `.warc.zst` members. warcio/pywb (the
  * reference's own dependency) read WARCs whose records are independent
  * zstd FRAMES — the seekable convention mirroring `.warc.gz`'s
  * one-gzip-member-per-record, so a CDX (offset, length) pointer names
  * one decompressable unit. This reader walks the frame sequence with
  * the same contract as [[Gzip.entries]]: data frames decode to
  * [[Gzip.Member]]s (offset + compressed length preserved), skippable
  * frames (RFC 8878 magic 0x184D2A5x — warcio parks its dictionary in
  * one) are consumed silently, and in permissive mode undecodable bytes
  * cost a [[Gzip.CorruptSpan]] and a resync scan, never the task.
  *
  * Dictionary mode (warcio's full convention) is wired: the FIRST
  * skippable frame's content — raw, or itself a zstd frame holding the
  * dictionary — is captured, and any data frame whose plain decode
  * fails retries against it before surfacing as corrupt. Plain
  * multi-frame `.warc.zst` (each record self-contained) never touches
  * the dict path.
  *
  * Memory bound: one frame is buffered at a time (frames are
  * record-sized by construction); decompressed size is capped at
  * [[Gzip.MaxMemberBytes]] exactly like the gzip path.
  */
object ZstdMembers {

  private val FrameMagic = 0xFD2FB528
  private val SkippableMask = 0xFFFFFFF0
  private val SkippableBase = 0x184D2A50
  private val Chunk = 1 << 16

  /** largest skippable-frame content treated as a dictionary candidate
    * (real warcio dicts are ~100 KiB; anything larger is skipped
    * unbuffered) */
  private val DictCap = 16 << 20

  /** warcio dictionary slot from `content` (the first skippable frame's
    * body): raw bytes, or — compressed-dict convention — a zstd frame
    * whose payload is the dictionary. An undecodable slot falls back to
    * the raw bytes (the dict is a guess either way — only ever used as a
    * decode retry). */
  private[formats] def dictFromSlot(content: Array[Byte]): Array[Byte] =
    if (content.length >= 4 &&
        ((content(0) & 0xff) | (content(1) & 0xff) << 8 |
          (content(2) & 0xff) << 16 | (content(3) & 0xff) << 24) == FrameMagic)
      try JZstd.decompress(content,
        math.min(Gzip.MaxMemberBytes.toLong, JZstd.getFrameContentSize(
          content, 0, content.length, false) max 1L).toInt)
      catch { case _: Exception => content }
    else content

  /** The warcio dictionary parked at FILE offset 0, via positioned reads
    * (`pread(absoluteOffset, intoBuffer)` must fill the buffer fully) —
    * a mid-file scan range and the pointer replay load it once per
    * archive, because their slices exclude the leading skippable frame
    * the dictionary lives in. Returns null when the file does not begin
    * with a dict-sized skippable frame (plain `.warc.zst`, or any read
    * failure — a frame that then fails to decode is the real
    * diagnosis). */
  def leadingDict(pread: (Long, Array[Byte]) => Unit): Array[Byte] = {
    val hdr = new Array[Byte](8)
    try pread(0L, hdr) catch { case _: Exception => return null }
    val magic = (hdr(0) & 0xff) | (hdr(1) & 0xff) << 8 |
      (hdr(2) & 0xff) << 16 | (hdr(3) & 0xff) << 24
    val clen = ((hdr(4) & 0xff) | (hdr(5) & 0xff) << 8 |
      (hdr(6) & 0xff) << 16 | (hdr(7) & 0xff) << 24).toLong & 0xffffffffL
    if ((magic & SkippableMask) != SkippableBase || clen <= 0 || clen > DictCap)
      return null
    val content = new Array[Byte](clen.toInt)
    try pread(8L, content) catch { case _: Exception => return null }
    dictFromSlot(content)
  }

  /** `presetDict` seeds the dictionary slot for streams that START
    * mid-file (a scan range past offset 0, the pointer replay's slices —
    * the in-file skippable frame is outside them); frames still try a
    * plain decode first, so a plain archive's frames never use it.
    * The returned iterator is [[java.io.Closeable]]: early termination
    * (limit/take, or a strict-mode decode error) must close it, or the
    * reused native decompress context leaks for the executor's lifetime —
    * zstd-jni has no finalizer. Exhausting the iterator closes it too. */
  def entries(
      in: InputStream,
      permissive: Boolean,
      presetDict: Array[Byte] = null): Iterator[Gzip.Entry] with java.io.Closeable =
    new Iterator[Gzip.Entry] with java.io.Closeable {
      // growable byte window [head, size) over the stream; bufStart is
      // the absolute offset of buf(0). Doubling growth + compaction on
      // refill keeps the amortized cost linear in stream length.
      private var buf = new Array[Byte](Chunk)
      private var bufSize = 0
      private var head = 0
      private var bufStart = 0L
      private var eof = false
      private var pending: Gzip.Entry = _
      // the FIRST skippable frame's content is warcio's dictionary slot:
      // captured (decompressed when itself a zstd frame) and offered to
      // any data frame whose plain decode fails. Seeded by presetDict for
      // mid-file streams; otherwise null until seen.
      private var dict: Array[Byte] = presetDict
      // ONE reused native decompress context for the known-content-size
      // fast path — a ZstdInputStream per frame costs a native context
      // alloc/init per record, the hot-loop overhead that dominated the
      // read-back at sf0.1. Closed on exhaustion AND by close() — callers
      // that may stop early (scan's task listener, the replay's strict
      // decode) must close(); there is no finalizer to fall back on.
      private var dctxRef: com.github.luben.zstd.ZstdDecompressCtx = _
      // SECOND reused context for dict-mode frames: the dictionary is
      // fixed for the stream once captured, so it loads ONCE here — the
      // plain-path ctx stays dict-free (dict state must never linger
      // into self-contained frames), and dict-mode archives don't pay a
      // native ctx alloc per record.
      private var dctxDictRef: com.github.luben.zstd.ZstdDecompressCtx = _
      private var dictLoadedRef: Array[Byte] = _

      override def close(): Unit = {
        if (dctxRef != null) {
          try dctxRef.close() catch { case _: Throwable => }
          dctxRef = null
        }
        if (dctxDictRef != null) {
          try dctxDictRef.close() catch { case _: Throwable => }
          dctxDictRef = null
          dictLoadedRef = null
        }
      }

      private def dctxDict(d: Array[Byte]) = {
        if (dctxDictRef == null) dctxDictRef = new com.github.luben.zstd.ZstdDecompressCtx()
        if (dictLoadedRef ne d) { dctxDictRef.loadDict(d); dictLoadedRef = d }
        dctxDictRef
      }
      private def dctx() = {
        if (dctxRef == null) dctxRef = new com.github.luben.zstd.ZstdDecompressCtx()
        dctxRef
      }

      private def avail = bufSize - head

      private def fill(min: Int): Unit = {
        if (head > 0 && head + min > buf.length) {
          System.arraycopy(buf, head, buf, 0, avail)
          bufStart += head
          bufSize -= head
          head = 0
        }
        var need = min - avail
        while (!eof && need > 0) {
          if (bufSize + Chunk > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, bufSize + Chunk))
          val n = in.read(buf, bufSize, buf.length - bufSize)
          if (n < 0) eof = true else { bufSize += n; need -= n }
        }
      }

      private def le32(at: Int): Int =
        (buf(at) & 0xff) | (buf(at + 1) & 0xff) << 8 |
          (buf(at + 2) & 0xff) << 16 | (buf(at + 3) & 0xff) << 24

      private def abs = bufStart + head

      private def fail(reason: String): Nothing =
        throw new IllegalStateException(s"bad zstd frame at offset $abs: $reason")

      /** permissive resync: scan forward (growing the window as needed)
        * for the next plausible frame magic; returns the corrupt span. */
      private def resync(spanStart: Long, reason: String): Gzip.Entry = {
        head += 1
        var found = false
        while (!found) {
          fill(4)
          while (!found && avail >= 4) {
            val m = le32(head)
            if (m == FrameMagic || (m & SkippableMask) == SkippableBase) found = true
            else head += 1
          }
          if (!found) {
            if (eof) { head = bufSize; return Gzip.CorruptSpan(spanStart, bufStart + bufSize - spanStart, reason) }
            fill(avail + Chunk)
          }
        }
        Gzip.CorruptSpan(spanStart, abs - spanStart, reason)
      }

      private def decodeFrame(): Gzip.Entry = {
        val start = abs
        // grow the window until the complete frame is buffered (zstd can
        // only report a frame's compressed size from the whole frame);
        // zstd-jni surfaces native error codes as thrown ZstdException
        // ("Src size is incorrect" = frame not fully buffered yet)
        var lastErr = "unknown"
        def tryFrameSize(): Long =
          try {
            val s = JZstd.findFrameCompressedSize(buf, head, avail)
            if (JZstd.isError(s)) { lastErr = JZstd.getErrorName(s); -1L }
            else if (s <= 0) { lastErr = s"frame size $s"; -1L }
            else s
          } catch {
            case e: com.github.luben.zstd.ZstdException =>
              lastErr = String.valueOf(e.getMessage); -1L
          }
        var sz = tryFrameSize()
        while (sz < 0 && !eof &&
            avail.toLong <= Gzip.MaxMemberBytes.toLong + (1L << 20)) {
          fill(avail + Chunk)
          sz = tryFrameSize()
        }
        if (sz < 0 || sz > avail) {
          val reason = if (sz < 0) lastErr else s"frame size $sz exceeds buffered bytes"
          if (!permissive) fail(reason)
          return resync(start, reason)
        }
        val flen = sz.toInt
        // streaming fallback (unknown content size, or oversize — the
        // stream enforces the cap and fails loudly); close on EVERY path,
        // a leaked ZstdInputStream holds a native context until
        // finalization and permissive scans hit failures repeatedly
        def inflateStream(withDict: Option[Array[Byte]]): Array[Byte] = {
          val zin = new ZstdInputStream(
            new java.io.ByteArrayInputStream(buf, head, flen))
          withDict.foreach(zin.setDict)
          val out = new java.io.ByteArrayOutputStream()
          try {
            val tmp = new Array[Byte](Chunk)
            var n = zin.read(tmp)
            while (n >= 0) {
              out.write(tmp, 0, n)
              if (out.size > Gzip.MaxMemberBytes)
                throw new IllegalStateException(
                  s"zstd frame at offset $start exceeds ${Gzip.MaxMemberBytes} decompressed bytes")
              n = zin.read(tmp)
            }
          } finally zin.close()
          out.toByteArray
        }
        // fast path: the frame header records its content size (warcio
        // writers set it) — one reused-context native call per frame
        def inflate(withDict: Option[Array[Byte]]): Array[Byte] = {
          val cs =
            try JZstd.getFrameContentSize(buf, head, flen, false)
            catch { case _: Exception => -1L }
          if (cs < 0 || cs > Gzip.MaxMemberBytes) inflateStream(withDict)
          else withDict match {
            case None => dctx().decompress(buf, head, flen, cs.toInt)
            case Some(d) => dctxDict(d).decompress(buf, head, flen, cs.toInt)
          }
        }
        try {
          // warcio dict mode: frames may be compressed against the
          // skippable-slot dictionary — plain decode first (self-contained
          // frames, the common case), dict retry on failure; the PLAIN
          // error is reported if both fail (the dict is a guess)
          val bytes =
            try inflate(None)
            catch {
              case e: Exception if dict != null =>
                try inflate(Some(dict)) catch { case _: Exception => throw e }
            }
          head += flen
          Gzip.Member(start, flen, bytes)
        } catch {
          // the frame's compressed extent IS known here (flen): consume
          // exactly it and emit one span — resyncing from start+1 would
          // re-parse compressed payload bytes, and any chance frame-magic
          // sequence inside them would yield spurious overlapping rows
          case e: Exception if permissive =>
            head += flen
            Gzip.CorruptSpan(start, flen.toLong, String.valueOf(e.getMessage))
          case e: Exception => fail(String.valueOf(e.getMessage))
        }
      }

      private def advance(): Gzip.Entry = {
        while (true) {
          fill(4)
          if (avail == 0 && eof) {
            close()
            return null
          }
          if (avail < 4) {
            val reason = "truncated frame magic"
            if (!permissive) fail(reason)
            val span = Gzip.CorruptSpan(abs, avail.toLong, reason)
            head = bufSize
            return span
          }
          val magic = le32(head)
          if ((magic & SkippableMask) == SkippableBase) {
            fill(8)
            if (avail < 8) {
              if (!permissive) fail("truncated skippable frame header")
              val span = Gzip.CorruptSpan(abs, avail.toLong, "truncated skippable frame header")
              head = bufSize
              return span
            }
            val contentLen = le32(head + 4).toLong & 0xffffffffL
            if (contentLen > Gzip.MaxMemberBytes) {
              if (!permissive) fail(s"implausible skippable frame length $contentLen")
              return resync(abs, s"implausible skippable frame length $contentLen")
            }
            // dictionary slot etc. — consumed, not emitted. The FIRST
            // dict-sized slot is CAPTURED (warcio parks its dictionary
            // there, raw or itself zstd-compressed); anything larger is
            // SKIPPED in O(Chunk) memory — the 8-byte header gives the
            // exact length, so a near-cap skippable frame never costs a
            // window fill. Skipped bytes bypass buf via in.skip and are
            // accounted in bufStart.
            val spanStart = abs
            if (dict == null && contentLen > 0 && contentLen <= DictCap) {
              val total = 8 + contentLen.toInt
              fill(total)
              if (avail < total) {
                if (!permissive) fail("truncated skippable frame")
                val span = Gzip.CorruptSpan(spanStart, avail.toLong, "truncated skippable frame")
                head = bufSize
                return span
              }
              val content = java.util.Arrays.copyOfRange(
                buf, head + 8, head + 8 + contentLen.toInt)
              dict = dictFromSlot(content)
              head += total
            } else {
              head += 8
              var remaining = contentLen - math.min(contentLen, avail.toLong)
              head += math.min(contentLen, avail.toLong).toInt
              while (remaining > 0 && !eof) {
                val skipped = in.skip(remaining)
                if (skipped > 0) { bufStart += skipped; remaining -= skipped }
                else if (in.read() < 0) eof = true
                else { bufStart += 1; remaining -= 1 }
              }
              if (remaining > 0) {
                if (!permissive) fail("truncated skippable frame")
                return Gzip.CorruptSpan(spanStart, abs - spanStart, "truncated skippable frame")
              }
            }
          } else if (magic == FrameMagic) {
            return decodeFrame()
          } else {
            if (!permissive) fail(f"bad frame magic 0x$magic%08x")
            return resync(abs, f"bad frame magic 0x$magic%08x")
          }
        }
        null // unreachable
      }

      override def hasNext: Boolean = {
        if (pending == null) pending = advance()
        pending != null
      }

      override def next(): Gzip.Entry = {
        if (!hasNext) throw new NoSuchElementException
        val e = pending
        pending = null
        e
      }
    }

  /** one self-contained zstd frame over `bytes` (content size recorded) */
  def compressFrame(bytes: Array[Byte]): Array[Byte] = JZstd.compress(bytes)

  /** one zstd frame compressed AGAINST `dict` (warcio dict mode — the
    * reader must pair it with the skippable-slot dictionary) */
  def compressFrameDict(bytes: Array[Byte], dict: Array[Byte]): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try ctx.loadDict(dict).compress(bytes)
    finally ctx.close()
  }

  /** RFC 8878 skippable frame (magic 0x184D2A50) around `content` — the
    * slot warcio uses for its dictionary; readers must consume silently */
  def skippableFrame(content: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + content.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(SkippableBase).putInt(content.length).put(content)
    bb.array()
  }
}
