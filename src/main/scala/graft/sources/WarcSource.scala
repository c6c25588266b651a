package graft.sources

import java.util

import scala.annotation.switch

import graft.formats.{Gzip, SerializableHadoopConf, Warc, ZstdMembers}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for WARC/ARC archives:
  * `spark.read.format("warc").load(glob)` — the one WARC scan
  * ([[graft.formats.Warc.scan]] is its typed entry). `.zst` files walk
  * zstd frames, everything else gzip members; both feed the same record
  * parser. Option `permissive` (default true): damaged bytes become
  * `record_type='corrupt'` rows; false fails on the first corrupt span.
  *
  * Partitioning is derived from the input, never set: with target =
  * ⌈total bytes / defaultParallelism⌉, a file larger than target is read
  * as byte ranges of that size, and consecutive smaller files are packed,
  * next-fit in listing order, into partitions of at most target bytes —
  * so 64 half-megabyte crawl files run as about defaultParallelism
  * core-sized tasks, while a few huge ones (a national-library 500 GB
  * WARC) still fill the cluster. Every partition is a [[WarcPartition]]
  * of whole-file or byte-range [[WarcFilePartition]]s, read in order;
  * packing keeps the scan's row order the listing order. Columns the
  * query never reads are pruned in the reader: without `payload` no
  * payload bytes are copied into a row.
  *
  * Two column sets: [[Warc.schema]] (the default) and, given as
  * `.schema(Warc.segMetaSchema)`, the ISO 28500 §5 segment view
  * ([[graft.formats.Warc.scanMeta]]). The TABLE schema makes the record
  * walk segment-aware, never the pruned columns, so a segment-view query
  * reading only `payload` still gets first segments' raw blocks.
  */
class WarcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Warc.schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(properties.getOrDefault("path", ""), WarcSource.columnSet(schema))
}

object WarcSource {

  /** The column set `schema` names: [[Warc.schema]] or
    * [[Warc.segMetaSchema]], compared by field names and types. Any other
    * schema fails, naming both. */
  private[sources] def columnSet(schema: StructType): StructType = {
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    Seq(Warc.schema, Warc.segMetaSchema).find(c => shape(c) == shape(schema)).getOrElse(
      throw new IllegalArgumentException(
        s"format(warc) reads Warc.schema ${Warc.schema.simpleString} or " +
          s"Warc.segMetaSchema ${Warc.segMetaSchema.simpleString}; got ${schema.simpleString}"))
  }
}

final class WarcTable(path: String, tableSchema: StructType = Warc.schema)
  extends Table with SupportsRead {
  override def name(): String = s"warc:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val p = Option(options.get("path")).filter(_.nonEmpty).getOrElse(path)
    // capture the session's Hadoop conf and parallelism HERE (analysis
    // time, session thread), exactly like ZipNumSource:
    // planInputPartitions can run on AQE threads where getActiveSession
    // is empty, and a bare `new Configuration()` fallback silently drops
    // every spark.hadoop.* setting (S3 credentials, custom FS)
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    new WarcScanBuilder(p, tableSchema, options.getBoolean("permissive", true),
      sc.defaultParallelism, new SerializableHadoopConf(sc.hadoopConfiguration))
  }
}

final class WarcScanBuilder(
    pathGlob: String, tableSchema: StructType, permissive: Boolean, parallelism: Int,
    conf: SerializableHadoopConf)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema

  // keep canonical field order: readSchema must agree with what the
  // reader emits positionally, independent of projection order
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(tableSchema.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new WarcScan(pathGlob, required,
    segments = tableSchema == Warc.segMetaSchema, permissive, parallelism, conf)
}

final class WarcScan(
    val pathGlob: String, required: StructType, segments: Boolean, permissive: Boolean,
    parallelism: Int, conf: SerializableHadoopConf)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"WarcScan[$pathGlob, cols=${required.fieldNames.mkString(",")}" +
      (if (segments) ", segments" else "") + (if (permissive) "" else ", strict") + "]"
  override def toBatch: Batch = this

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new MembersReadMetric, new CorruptSpansMetric, new BytesReadMetric)

  override def planInputPartitions(): Array[InputPartition] = {
    val files = WarcScan.archives(pathGlob, conf.value)
    val target = math.max(1L, (files.map(_.getLen).sum + parallelism - 1) / parallelism)
    // next-fit in listing order, as Spark's FilePartition.getFilePartitions
    // packs small files: the scan's row order stays the listing order
    val parts = Array.newBuilder[InputPartition]
    val bin = scala.collection.mutable.ArrayBuffer.empty[WarcFilePartition]
    var binBytes = 0L
    def closeBin(): Unit = if (bin.nonEmpty) {
      parts += WarcPartition(bin.toList)
      bin.clear()
      binBytes = 0L
    }
    files.foreach { st =>
      val file = st.getPath.toString
      val len = st.getLen
      if (len > target) {
        closeBin()
        (0L until len by target).foreach(s =>
          parts += WarcPartition(Seq(WarcFilePartition(file, s, math.min(s + target, len), len))))
      } else {
        if (binBytes + len > target) closeBin()
        bin += WarcFilePartition(file, 0L, len, len)
        binBytes += len
      }
    }
    closeBin()
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val sconf = conf
    val fields = required.fieldNames
    val segmentAware = segments
    val lenient = permissive
    (partition: InputPartition) => new WarcRangesReader(
      partition.asInstanceOf[WarcPartition].ranges,
      new WarcPartitionReader(_, fields, segmentAware, lenient, sconf))
  }
}

object WarcScan {

  /** The archive files `pathGlob` names. A glob match may be a directory
    * (load("/data/warcs") — the idiom every builtin file source
    * supports): directories expand RECURSIVELY (crawls ship as one
    * subdirectory of archives per segment), depth-capped so a filesystem loop can't
    * hang planning, to their `.gz`/`.zst` files, skipping hidden and
    * metadata names (_SUCCESS, .warc.open in-progress files) and
    * sidecars — one stray README would otherwise fail the scan on bad
    * magic. An EXPLICIT glob/file match is taken verbatim (the user asked
    * for that exact file). Matching nothing fails, naming the glob: a
    * mistyped crawl path must not build an empty index. */
  private[sources] def archives(pathGlob: String, conf: Configuration): Seq[FileStatus] = {
    val path = new Path(pathGlob)
    val fs = path.getFileSystem(conf)
    def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")
    def expand(s: FileStatus, depth: Int): Seq[FileStatus] =
      if (s.isFile) {
        val name = s.getPath.getName
        if (!hidden(name) && (name.endsWith(".gz") || name.endsWith(".zst"))) Seq(s)
        else Seq.empty
      } else if (depth >= 16) Seq.empty
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName))
        .flatMap(c => expand(c, depth + 1))
    val files = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap(s => if (s.isFile) Seq(s) else expand(s, 0))
    require(files.nonEmpty, s"format(warc): no WARC/ARC archive matches $pathGlob")
    files
  }
}

/** Bytes [start, end) of `file` (`fileLength` bytes at planning); a
  * range with end == fileLength reads to EOF. */
final case class WarcFilePartition(file: String, start: Long, end: Long, fileLength: Long)
  extends InputPartition

/** One planned scan task: one byte range of a large file, or several
  * whole small files, read in order. */
final case class WarcPartition(ranges: Seq[WarcFilePartition]) extends InputPartition

/** Reads `ranges` in order through one [[WarcPartitionReader]] at a time,
  * each closed before the next opens, and reports their task metrics
  * summed. */
final class WarcRangesReader(
    ranges: Seq[WarcFilePartition], open: WarcFilePartition => WarcPartitionReader)
  extends PartitionReader[InternalRow] {

  private val pending = ranges.iterator
  private var current: WarcPartitionReader = _
  private val closedTotals = new Array[Long](3)

  override def next(): Boolean = {
    while (current == null || !current.next()) {
      closeCurrent()
      if (!pending.hasNext) return false
      current = open(pending.next())
    }
    true
  }

  override def get(): InternalRow = current.get()

  override def currentMetricsValues(): Array[CustomTaskMetric] = WarcPartitionReader.metrics(
    if (current == null) closedTotals
    else closedTotals.zip(current.counts).map { case (a, b) => a + b })

  private def closeCurrent(): Unit = if (current != null) {
    val c = current.counts
    c.indices.foreach(i => closedTotals(i) += c(i))
    val r = current
    current = null
    r.close()
  }

  override def close(): Unit = closeCurrent()
}

/** Reads one [[WarcFilePartition]]. A range owns the members that START
  * inside it, with both edges moved to true member boundaries: it begins
  * at the first boundary at or after `start` (offset 0 for the first
  * range) and stops before the first boundary at or after `end`, where
  * the next range begins — so a straddling member is finished by the
  * range holding its start, and every byte, corrupt ones included, is
  * read by exactly one range: the ranges' rows are the whole-file rows.
  * (One exception: a corrupt span the decoder cannot end at the next
  * member magic — a failed gzip attempt past the 1 MiB replay window, a
  * zstd frame whose damaged header overstates its size — may cover a
  * boundary; the span's row and counters are then cut there.)
  * Boundaries are found by [[Warc.syncToMemberBoundary]] (magic scan +
  * strict one-member decode).
  * A dict-mode `.warc.zst` keeps its dictionary in the offset-0 skippable
  * frame, outside every mid-file range, so ranges load it once by
  * positioned read (the pointer replay, [[Warc.replay]], does the same).
  * Rows are built by [[WarcRows]] from `fields` and `segments`.
  *
  * Task metrics: `membersRead`, `corruptSpans`, and
  * `compressedBytesRead` = the file bytes from the range's first
  * boundary to the end of its last member or span. */
final class WarcPartitionReader(
    part: WarcFilePartition, fields: Array[String], segments: Boolean, permissive: Boolean,
    sconf: SerializableHadoopConf)
  extends PartitionReader[InternalRow] {

  private val path = new Path(part.file)
  private val fs = path.getFileSystem(sconf.value)
  private val shortName = part.file.substring(part.file.lastIndexOf('/') + 1)
  private val filename = UTF8String.fromString(shortName)
  private val isZst = shortName.endsWith(".zst")
  private val toEof = part.end >= part.fileLength

  private val presetDict: Array[Byte] =
    if (isZst && !(part.start == 0L && toEof)) {
      val din = fs.open(path)
      try ZstdMembers.leadingDict((pos, buf) => din.readFully(pos, buf))
      finally din.close()
    } else null

  private def boundary(from: Long, until: Long): Long =
    Warc.syncToMemberBoundary(fs, path, from, until, isZst, presetDict)

  /** absolute offset of the range's first member; the range is empty
    * when no boundary lies inside it */
  private val start: Long = if (part.start == 0L) 0L else boundary(part.start, part.end)
  private val empty = start < 0 || start >= part.end
  /** first offset the NEXT range owns */
  private val stop: Long =
    if (empty || toEof) Long.MaxValue
    else { val n = boundary(part.end, Long.MaxValue); if (n < 0) Long.MaxValue else n }

  private var done = empty
  private val in = if (empty) null else fs.open(path)
  private val entries: Iterator[Gzip.Entry] =
    if (empty) Iterator.empty
    else {
      in.seek(start)
      if (isZst) ZstdMembers.entries(in, permissive, if (start > 0L) presetDict else null)
      else Gzip.entries(in, permissive)
    }

  private var membersRead = 0L
  private var corruptSpans = 0L
  private var bytesRead = 0L
  private[sources] def counts: Array[Long] = Array(membersRead, corruptSpans, bytesRead)
  override def currentMetricsValues(): Array[CustomTaskMetric] = WarcPartitionReader.metrics(counts)

  private val rows = new WarcRows(fields, segments)

  // a (non-conforming but real) multi-record member yields several rows
  // from one entry — buffered between next()s
  private val pending = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
  private var pendingAt = 0
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (pendingAt >= pending.length) {
      pending.clear()
      pendingAt = 0
      if (done || !entries.hasNext) return false
      val e = entries.next()
      val memberOffset = start + e.offset
      if (memberOffset >= stop) { done = true; return false }
      val memberLength = e match {
        case _: Gzip.Member => membersRead += 1; e.compressedLength
        case _: Gzip.CorruptSpan =>
          corruptSpans += 1
          math.min(e.compressedLength, stop - memberOffset)
      }
      rows.append(e, memberOffset, memberLength, filename, pending)
      bytesRead = memberOffset + memberLength - start
    }
    row = pending(pendingAt)
    pendingAt += 1
    true
  }

  override def get(): InternalRow = row

  // the zstd iterator holds a reused native decompress context with no
  // finalizer: close it too, not only the stream
  override def close(): Unit = {
    entries match {
      case c: java.io.Closeable => try c.close() catch { case _: Throwable => }
      case _ =>
    }
    if (in != null) in.close()
  }
}

/** One archive entry → its [[InternalRow]]s: the row builder of the V2
  * scan ([[WarcPartitionReader]]) and of the pointer replay
  * ([[Warc.replay]]). `fields` are column names of [[Warc.segMetaSchema]]
  * (whose first ten are [[Warc.schema]]) in output order; `segments`
  * makes the record walk read the §5 segment headers (the table's column
  * set decides it, not `fields`). A member yields its records (several
  * for a non-conforming multi-record member), a corrupt span one
  * `corrupt` row; every row carries the (offset, length, filename) it is
  * given. */
private[graft] final class WarcRows(fields: Array[String], segments: Boolean) {
  // positions in Warc.segMetaSchema of the columns to emit, in output order
  private val cols: Array[Int] = fields.map(Warc.segMetaSchema.fieldIndex)
  private val withPayload = cols.contains(Warc.schema.fieldIndex("payload"))

  private var offset = 0L
  private var length = 0L
  private var filename: UTF8String = _
  private var out: scala.collection.mutable.Growable[InternalRow] = _

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private val emit: Warc.Emit = (recordType, url, ts, digest, status, mime, payload, seg) => {
    val v = new Array[Any](cols.length)
    var i = 0
    while (i < cols.length) {
      v(i) = (cols(i): @switch) match {
        case 0 => utf8(recordType)
        case 1 => utf8(url)
        case 2 => utf8(ts)
        case 3 => utf8(digest)
        case 4 => status
        case 5 => utf8(mime)
        case 6 => offset
        case 7 => length
        case 8 => filename
        case 9 => payload
        case 10 => if (seg == null) null else utf8(seg.recordId)
        case 11 => if (seg == null) null else seg.num
        case 12 => if (seg == null) null else utf8(seg.origin)
        case 13 => if (seg == null) null else seg.total
      }
      i += 1
    }
    out += new GenericInternalRow(v)
  }

  /** Appends `e`'s rows to `to`. */
  def append(
      e: Gzip.Entry, offset: Long, length: Long, filename: UTF8String,
      to: scala.collection.mutable.Growable[InternalRow]): Unit = {
    this.offset = offset
    this.length = length
    this.filename = filename
    out = to
    e match {
      case m: Gzip.Member => Warc.parseMember(m.bytes, withPayload, segments, emit)
      case _: Gzip.CorruptSpan => emit("corrupt", null, null, null, null, null, null, null)
    }
  }
}

object WarcPartitionReader {
  private[sources] def metrics(counts: Array[Long]): Array[CustomTaskMetric] =
    Array[CustomTaskMetric](new TaskMetric("membersRead", counts(0)),
      new TaskMetric("corruptSpans", counts(1)), new TaskMetric("compressedBytesRead", counts(2)))
}

final class MembersReadMetric extends CustomSumMetric {
  override def name(): String = "membersRead"
  override def description(): String = "archive members decoded"
}
final class CorruptSpansMetric extends CustomSumMetric {
  override def name(): String = "corruptSpans"
  override def description(): String = "undecodable byte spans skipped"
}

/** Names each WARC scan's input RDD after its glob, as SparkContext's
  * own file RDDs are named after their path: the Spark UI's stage DAG
  * and any `SparkListener` (StageInfo.rddInfos) then show which archives
  * a stage reads instead of a bare `DataSourceRDD`. Runs as a
  * pre-columnar physical rule ([[graft.functions.GraftExtensions]]),
  * which Spark applies to every plan and to every adaptive query stage
  * before it executes. */
object NameWarcScanRdds extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    plan.foreach {
      case b: BatchScanExec => b.scan match {
        case w: WarcScan => b.inputRDD.setName(w.pathGlob)
        case _ =>
      }
      case _ =>
    }
    plan
  }
}
