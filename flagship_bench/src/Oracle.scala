package graftbench

import java.io.{ByteArrayInputStream, File, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.zip.GZIPInputStream

/** Correctness checks that do not use the program: a ZipNum cluster is
  * read back with the JDK's own gzip decoder and compared against the
  * generator's expected lines, and lookup results against a brute-force
  * filter over the same sorted lines. */
object Oracle {

  final case class IdxLine(firstKey: String, shard: String, offset: Long, length: Long, seq: Long)

  /** What a verified cluster holds, for the per-layer counts. */
  final case class ClusterFacts(
      shardBytes: Long, idxBytes: Long, blocks: Int, lineBytes: Long,
      blockPayloads: Seq[Array[Byte]])

  private def sha256Hex(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def fail(msg: String): Nothing = throw new IllegalStateException(msg)

  private def gunzip(member: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(member), 65536)
    try in.readAllBytes() finally in.close()
  }

  /** Verify `dir` against the sorted expected lines:
    *  - read-back of every block, in idx order, hash-equals `expected`;
    *  - FIXTURES A.3: idx sorted with seq 0..n-1, per-shard offsets tile the
    *    shard (strictly increasing, contiguous, Σlength == file size), each
    *    firstkey is its block's first `urlkey ts`, no unreferenced shards.
    * Returns the facts the per-layer report needs; throws on any mismatch. */
  def verifyCluster(dir: File, expected: Array[String], keepPayloads: Boolean): ClusterFacts = {
    val idxFile = new File(dir, "cluster.idx")
    if (!idxFile.isFile) fail(s"no cluster.idx in $dir")
    val idx = scala.io.Source.fromFile(idxFile, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      if (f.length != 5) fail(s"cluster.idx line has ${f.length} fields: $l")
      IdxLine(f(0), f(1), f(2).toLong, f(3).toLong, f(4).toLong)
    }.toVector
    if (idx.isEmpty) fail("cluster.idx is empty")
    idx.zipWithIndex.foreach { case (e, i) =>
      if (e.seq != i) fail(s"idx seq ${e.seq} at line $i")
      if (i > 0 && idx(i - 1).firstKey.compareTo(e.firstKey) > 0)
        fail(s"idx not sorted at line $i: ${idx(i - 1).firstKey} > ${e.firstKey}")
    }
    val shards = dir.listFiles().filter(f => f.getName.startsWith("cdx-") && f.getName.endsWith(".gz"))
    val referenced = idx.map(_.shard).toSet
    shards.foreach(f => if (!referenced(f.getName)) fail(s"shard ${f.getName} not in cluster.idx"))
    idx.groupBy(_.shard).foreach { case (shard, es) =>
      val f = new File(dir, shard)
      if (!f.isFile) fail(s"idx names missing shard $shard")
      var next = 0L
      es.sortBy(_.seq).foreach { e =>
        if (e.offset != next) fail(s"$shard: block seq ${e.seq} at offset ${e.offset}, expected $next")
        if (e.length <= 0) fail(s"$shard: block seq ${e.seq} has length ${e.length}")
        next = e.offset + e.length
      }
      if (next != f.length) fail(s"$shard: Σlength $next != file size ${f.length}")
    }
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0
    var lineBytes = 0L
    val payloads = Vector.newBuilder[Array[Byte]]
    val handles = scala.collection.mutable.HashMap.empty[String, RandomAccessFile]
    try {
      idx.foreach { e =>
        val raf = handles.getOrElseUpdate(e.shard, new RandomAccessFile(new File(dir, e.shard), "r"))
        val member = new Array[Byte](e.length.toInt)
        raf.seek(e.offset); raf.readFully(member)
        val payload = gunzip(member)
        if (keepPayloads) payloads += payload
        lineBytes += payload.length
        val lines = new String(payload, UTF_8).split("\n")
        if (lines.isEmpty || lines(0).isEmpty) fail(s"empty block seq ${e.seq}")
        val first = lines(0).split(" ", 3)
        if (first.length < 2 || s"${first(0)} ${first(1)}" != e.firstKey)
          fail(s"block seq ${e.seq}: firstkey '${e.firstKey}' is not its first line's key")
        lines.foreach { l =>
          if (n >= expected.length) fail(s"cluster holds more than the ${expected.length} expected lines")
          if (l != expected(n)) fail(s"line $n differs:\n  got      $l\n  expected ${expected(n)}")
          md.update(l.getBytes(UTF_8)); md.update('\n'.toByte)
          n += 1
        }
      }
    } finally handles.values.foreach(_.close())
    if (n != expected.length) fail(s"cluster holds $n lines, expected ${expected.length}")
    val got = md.digest().map("%02x".format(_)).mkString
    val want = sha256Hex(expected.iterator)
    if (got != want) fail(s"read-back sha256 $got != expected $want")
    ClusterFacts(shards.map(_.length).sum, idxFile.length, idx.size, lineBytes, payloads.result())
  }

  private def keyTs(line: String): (String, String) = {
    val f = line.split(" ", 3)
    (f(0), f(1))
  }

  /** brute-force answer to one lookup: a linear filter over every expected
    * line, in the order the cdx-server returns rows */
  def expectedFor(lines: Array[String], op: Lookup): IndexedSeq[String] = op.kind match {
    case Lookup.Exact | Lookup.Miss =>
      lines.filter(_.startsWith(op.arg + " ")).sortBy(keyTs(_)._2).toIndexedSeq
    case Lookup.Host =>
      lines.filter(_.startsWith(op.arg + ")")).sortBy(keyTs).toIndexedSeq
    case Lookup.Closest =>
      val t = CorpusGen.epochOf(op.target)
      lines.filter(_.startsWith(op.arg + " "))
        .sortBy { l => val ts = keyTs(l)._2; (math.abs(CorpusGen.epochOf(ts) - t), ts) }
        .take(Lookup.ClosestK).toIndexedSeq
  }
}
