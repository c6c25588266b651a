package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util

import graft.formats.{SerializableHadoopConf, ZipNum}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{SortDirection, Transform, SortOrder => connectorSortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for ZipNum clusters:
  * `spark.read.format("zipnum").load(dir)` with columns
  * (urlkey, ts, json, blockseq). `SupportsPushDownFilters` translates
  * urlkey predicates (=, startsWith, range) into cluster.idx block
  * selection — the batch mirror of pywb's binary search, same shape as
  * Parquet row-group pruning (SURVEY §4 "custom" table, idx-pruning row).
  * Filters are kept as residuals (Spark re-applies them row-level), so
  * pushdown is purely an I/O reduction and can never change results.
  */
class ZipNumSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zipnum"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ZipNumSource.schema
  // writes carry the incoming frame's schema (a 'line' column) rather
  // than the read schema — accept it instead of failing validation
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // external metadata exists only for the write shape (a 'line' frame);
    // a read-side user schema would be silently ignored by the scan
    // (which always emits the fixed schema) — reject it instead
    require(
      schema == null || schema.isEmpty || schema == ZipNumSource.schema ||
        schema.fieldNames.contains("line"),
      "zipnum does not support user-specified read schemas; " +
        s"columns are ${ZipNumSource.schema.fieldNames.mkString(", ")}")
    new ZipNumTable(properties.getOrDefault("path", ""), schema)
  }
}

object ZipNumSource {
  val schema: StructType = StructType(Seq(
    StructField("urlkey", StringType),
    StructField("ts", StringType),
    StructField("json", StringType),
    StructField("blockseq", org.apache.spark.sql.types.LongType)))

  /** key range [lo, hi) implied by the pushed urlkey filters; None =
    * unbounded. Blocks are selected by [[ZipNum.selectBlocks]]. */
  final case class KeyRange(lo: Option[String], hi: Option[String])

  def rangeFromFilters(filters: Seq[Filter]): KeyRange = {
    var lo: Option[String] = None
    var hi: Option[String] = None
    // tighten in UTF-8 byte order — the order the cluster is sorted in
    def tightenLo(v: String): Unit =
      if (lo.forall(ZipNum.utf8Compare(_, v) < 0)) lo = Some(v)
    def tightenHi(v: String): Unit =
      if (hi.forall(ZipNum.utf8Compare(_, v) > 0)) hi = Some(v)
    val max = ZipNum.MaxCodePoint
    filters.foreach {
      case EqualTo("urlkey", v: String) => tightenLo(v); tightenHi(v + max)
      case StringStartsWith("urlkey", p) => tightenLo(p); tightenHi(p + max)
      case GreaterThanOrEqual("urlkey", v: String) => tightenLo(v)
      case GreaterThan("urlkey", v: String) => tightenLo(v)
      case LessThanOrEqual("urlkey", v: String) => tightenHi(v + max)
      case LessThan("urlkey", v: String) => tightenHi(v)
      case _ =>
    }
    // ts bounds tighten the range ONLY under an exact urlkey: idx keys
    // are the block's first "urlkey ts" pair, so for a single urlkey the
    // ts interval maps to a contiguous key range — the cdx-server
    // exact-url + from=/to= shape stops reading every block of a hot URL.
    // (Under a prefix/range urlkey, ts is a secondary sort and cannot
    // tighten the global block range.) Strict ts bounds keep their
    // boundary block — pruning stays conservative; residuals re-filter.
    filters.collectFirst { case EqualTo("urlkey", v: String) => v }.foreach { v =>
      filters.foreach {
        case EqualTo("ts", t: String) => tightenLo(s"$v $t"); tightenHi(s"$v $t$max")
        case GreaterThanOrEqual("ts", t: String) => tightenLo(s"$v $t")
        case GreaterThan("ts", t: String) => tightenLo(s"$v $t")
        case LessThanOrEqual("ts", t: String) => tightenHi(s"$v $t$max")
        case LessThan("ts", t: String) => tightenHi(s"$v $t")
        case _ =>
      }
    }
    KeyRange(lo, hi)
  }
}

final class ZipNumTable(path: String, providedSchema: StructType)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"zipnum:$path"
  override def schema(): StructType =
    if (providedSchema != null && providedSchema.nonEmpty) providedSchema
    else ZipNumSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the 'line'-shaped external metadata exists for the WRITE frame
    // only; a READ with that schema would survive getTable's guard and
    // then fail deep in column resolution — reject it here with the
    // clear message instead
    require(providedSchema == null || providedSchema.isEmpty ||
        providedSchema == ZipNumSource.schema,
      "zipnum does not support user-specified read schemas; " +
        s"columns are ${ZipNumSource.schema.fieldNames.mkString(", ")}")
    val p = Option(options.get("path")).filter(_.nonEmpty).getOrElse(path)
    // capture the session's Hadoop conf HERE (analysis time, session
    // thread) and thread it through the scan: estimateStatistics /
    // planInputPartitions may run on AQE threads where getActiveSession
    // is empty, and a bare `new Configuration()` fallback would silently
    // drop custom FS settings (round-3 advice)
    val conf = new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    new ZipNumScanBuilder(p, conf)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val p = Option(info.options.get("path")).filter(_.nonEmpty).getOrElse(path)
    val conf = new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    new ZipNumWriteBuilder(p, info, conf)
  }
}

final class ZipNumScanBuilder(dir: String, conf: SerializableHadoopConf)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownLimit
  with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ZipNumSource.schema
  private var limit: Option[Int] = None
  private var topDesc: Boolean = false

  /** partial limit pushdown: every idx block holds >= 1 line, so reading
    * `limit` blocks always yields >= `limit` rows — a `limit 10` over a
    * million-block cluster plans 10 blocks, not the pruned range. Returns
    * false (limit NOT fully consumed): Spark keeps its own Limit above,
    * which re-cuts to exactly n rows. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false
  }

  /** ORDER BY urlkey [DESC] LIMIT n: the cluster IS urlkey-ordered, so
    * the top-n multiset lives in the first (asc) or last (desc) n
    * surviving blocks — line order refines urlkey order, so the first n
    * lines carry the n smallest urlkeys. Partially pushed: partitions
    * aren't globally ordered at the row level, Spark's own
    * TakeOrderedAndProject does the final sort+cut over n blocks of
    * candidates instead of the whole cluster. */
  override def pushTopN(orders: Array[connectorSortOrder], n: Int): Boolean =
    orders match {
      case Array(o) => o.expression match {
        case ref: org.apache.spark.sql.connector.expressions.NamedReference
            if ref.fieldNames.toSeq == Seq("urlkey") =>
          // no null urlkeys in a cluster (the key is the line prefix), so
          // either null ordering is equivalent
          limit = Some(n)
          topDesc = o.direction == SortDirection.DESCENDING
          true
        case _ => false
      }
      case _ => false
    }

  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // ts predicates are accepted too: they prune blocks only when an
    // exact urlkey is ALSO pushed (see rangeFromFilters), and are inert
    // advisory otherwise — always residual either way
    pushed = filters.filter {
      case EqualTo("urlkey", _: String) => true
      case StringStartsWith("urlkey", _) => true
      case GreaterThanOrEqual("urlkey", _: String) => true
      case GreaterThan("urlkey", _: String) => true
      case LessThanOrEqual("urlkey", _: String) => true
      case LessThan("urlkey", _: String) => true
      case EqualTo("ts", _: String) => true
      case GreaterThanOrEqual("ts", _: String) => true
      case GreaterThan("ts", _: String) => true
      case LessThanOrEqual("ts", _: String) => true
      case LessThan("ts", _: String) => true
      case _ => false
    }
    filters // everything stays residual: pruning is I/O-only
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** column pruning: Catalyst hands us the columns the query actually
    * touches; the reader then skips splitting/materializing ts+json for
    * index-only shapes (`select("urlkey")` — the common cdx-server
    * projection). I/O is unchanged (lines are row-major), the win is
    * parse + row-width. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep canonical field order: readSchema must agree with what the
    // reader emits positionally, independent of projection order
    required = StructType(
      ZipNumSource.schema.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan =
    new ZipNumScan(
      dir, ZipNumSource.rangeFromFilters(pushed.toIndexedSeq), required, limit, topDesc, conf)
}

final class ZipNumScan(
    dir: String, range: ZipNumSource.KeyRange, required: StructType,
    limit: Option[Int], limitFromEnd: Boolean,
    // the session's conf, captured by the builder at analysis time
    conf: SerializableHadoopConf)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering {

  /** DPP-style runtime pruning: when this scan sits under a join on
    * urlkey, Spark hands over the build side's key set after it
    * materializes, and only blocks whose range can hold one of those
    * keys are read — the V2 analog of dynamic partition pruning, riding
    * the same per-key idx binary search as everything else. Purely an
    * I/O reduction: unmatched filters just skip the extra pruning, and
    * Spark re-applies the join on whatever rows come back. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("urlkey"))

  @volatile private var runtimeKeys: Option[Array[String]] = None

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case org.apache.spark.sql.sources.In("urlkey", vs) =>
      runtimeKeys = Some(vs.collect { case s: String => s })
    case _ => // unmatched shapes: keep every block (pruning is optional)
  }
  override def readSchema(): StructType = required
  override def description(): String =
    s"ZipNumScan[$dir, lo=${range.lo.getOrElse("-inf")}, hi=${range.hi.getOrElse("+inf")}, " +
      s"cols=${required.fieldNames.mkString(",")}" +
      limit.map(n => s", limit=$n").getOrElse("") + "]"
  override def toBatch: Batch = this

  /** the session Hadoop conf captured at newScanBuilder time — NOT
    * re-resolved from getActiveSession, which is a thread-local that AQE
    * planning threads may not carry (SourceV2Spec pins a custom key
    * surviving to here) */
  private[graft] def hadoopConf: Configuration = conf.value

  /** idx entries surviving block pruning (and the pushed limit cap).
    * Bounded ranges go through [[ZipNum.scanIdxRange]]'s seek-based
    * binary search — planning a pushed-down lookup reads O(result) idx
    * bytes, not the whole file (GBs at 100 TB); an unbounded scan needs
    * every entry anyway and takes the plain parse. Both paths implement
    * the same pruning rule (property-tested equal). */
  private lazy val staticBlocks: Seq[ZipNum.IdxEntry] = {
    val selected =
      if (range.lo.isEmpty && range.hi.isEmpty)
        ZipNum.readIdx(dir, hadoopConf)
      else ZipNum.scanIdxRange(dir, hadoopConf, range.lo, range.hi)
    limit match {
      case Some(n) if limitFromEnd => selected.takeRight(n)
      case Some(n) => selected.take(n)
      case None => selected
    }
  }

  /** static selection ∩ runtime-key blocks. Each runtime key costs
    * O(log idx) seeks; past [[ZipNumScan.MaxRuntimeKeys]] the per-key
    * lookups would cost more than they save, so pruning degrades to the
    * static selection (always correct — runtime filtering only ever
    * removes provably-unmatchable I/O).
    *
    * Memoized per runtime-filter state (a lazy val would freeze the
    * PRE-filter selection — `runtimeKeys` arrives later through the
    * filter() callback): Catalyst may call estimateStatistics and
    * planInputPartitions several times each, and recomputing meant up to
    * MaxRuntimeKeys binary searches re-opening cluster.idx per call —
    * thousands of redundant driver round trips on remote storage. */
  @volatile private var selectedCache: (Option[Array[String]], Seq[ZipNum.IdxEntry]) = _
  private def selectedBlocks: Seq[ZipNum.IdxEntry] = {
    val keys = runtimeKeys
    val cached = selectedCache
    if (cached != null && (cached._1 eq keys)) return cached._2
    val computed = keys match {
      case Some(ks) if ks.length <= ZipNumScan.MaxRuntimeKeys =>
        val conf = hadoopConf
        val wanted = ks.iterator.flatMap { k =>
          ZipNum.scanIdxRange(dir, conf, Some(k), Some(k + ZipNum.MaxCodePoint))
        }.map(_.seq).toSet
        staticBlocks.filter(e => wanted.contains(e.seq))
      case _ => staticBlocks
    }
    selectedCache = (keys, computed)
    computed
  }

  /** exact compressed size from the idx lengths, scaled by a nominal 4×
    * gzip text ratio — enough signal for Catalyst to broadcast a small
    * pruned lookup joined against a big table. Row count stays empty
    * (the idx doesn't record per-block line counts). */
  override def estimateStatistics(): Statistics = {
    val bytes = selectedBlocks.map(_.length).sum * 4
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new BlocksReadMetric, new BytesReadMetric)

  /** one partition per [[ZipNumScan.taskGroups]] run, so a huge cluster
    * doesn't explode the task count */
  override def planInputPartitions(): Array[InputPartition] =
    ZipNumScan.taskGroups(dir, selectedBlocks).map(ZipNumBlockPartition(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val sconf = conf
    val fields = required.fieldNames
    (partition: InputPartition) =>
      new ZipNumPartitionReader(
        partition.asInstanceOf[ZipNumBlockPartition].blocks, fields, sconf, None)
  }
}

object ZipNumScan {
  /** runtime-filter key budget: each key costs O(log idx) driver seeks */
  val MaxRuntimeKeys = 1024

  /** the most blocks one task reads ([[taskGroups]]). A selection of at
    * most this many blocks is one task: `CdxServer` reads such a
    * selection on the driver ([[readRows]]) instead of planning this
    * scan, and `ZipNum.readBlockLines` reads it in one task ordered
    * within it. Larger selections run one task per group. */
  val BlocksPerPartition = 64

  /** the reader's (file, offset, length, seq) tuple for an idx entry */
  def blockOf(dir: String, e: ZipNum.IdxEntry): (String, Long, Long, Long) =
    (dir + "/" + e.shard, e.offset, e.length, e.seq)

  /** THE task split of a block selection (in idx order): contiguous runs
    * of at most [[BlocksPerPartition]] blocks, as reader tuples. The scan
    * plans one input partition per run and `ZipNum.readBlockLines` one
    * task per run. */
  def taskGroups(
      dir: String, blocks: Seq[ZipNum.IdxEntry]): Seq[Array[(String, Long, Long, Long)]] =
    blocks.grouped(BlocksPerPartition).map(_.map(blockOf(dir, _)).toArray).toSeq

  /** Reads `blocks` on the calling thread through the reader a scan task
    * uses, so the rows equal one partition of this scan over the same
    * blocks, in the same order, filtered to the urlkeys under `prefix`
    * when one is given, or equal to it when `exact` is set. The other
    * lines never become rows: `CdxServer`'s driver-local leaf holds only
    * its lookup's lines. */
  def readRows(
      dir: String, blocks: Seq[ZipNum.IdxEntry], fields: Array[String],
      conf: Configuration, prefix: Option[String], exact: Boolean = false): Vector[InternalRow] = {
    val reader = new ZipNumPartitionReader(
      blocks.map(blockOf(dir, _)).toArray, fields, new SerializableHadoopConf(conf), prefix, exact)
    // next() hands out each row once, so the rows need no copy
    try Iterator.continually(reader).takeWhile(_.next()).map(_.get()).toVector
    finally reader.close()
  }
}

/** UI-visible scan metrics: with `numOutputRows` these make pruning
  * effectiveness observable per query — a prefix lookup that reads 3
  * blocks out of a million-block cluster shows exactly that in the SQL
  * tab. Sum-aggregated across tasks. */
final class BlocksReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "blocksRead"
  override def description(): String = "gzip blocks read (post idx pruning)"
}
final class BytesReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "compressedBytesRead"
  override def description(): String = "compressed bytes read"
}
private final class TaskMetric(metricName: String, v: Long)
  extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

final case class ZipNumBlockPartition(blocks: Array[(String, Long, Long, Long)])
  extends InputPartition

/** The scan's rows from blocks read through one [[ZipNum.BlockReader]]:
  * each line becomes (urlkey, ts, json, blockseq) as `line.split(" ", 3)`
  * splits it (no space: ts and json null; one space: json null), built
  * from the line's bytes with one copy per field. A line that is not
  * well-formed UTF-8 is decoded as a `String` first, so its replacement
  * characters are the JDK decoder's. With a `prefix`, only lines whose
  * urlkey starts with it become rows, or, when `exact` is set, only lines
  * whose urlkey is the prefix itself: the line `prefix` alone or a line
  * starting with `prefix + " "`. The test compares UTF-8 bytes. The rows
  * of a block are handed out only after its trailer has verified. */
final class ZipNumPartitionReader(
    blocks: Array[(String, Long, Long, Long)], fields: Array[String],
    sconf: SerializableHadoopConf, prefix: Option[String], exact: Boolean = false)
  extends PartitionReader[InternalRow] with ZipNum.LineSink {

  // parse only what the projection needs: ts/json need the second
  // space, a urlkey-only (or blockseq-only, or empty) scan stops at the
  // first one
  private val needKey = fields.contains("urlkey")
  private val needSplit = fields.contains("ts") || fields.contains("json")
  // each output field's position in the source schema (urlkey, ts, json,
  // blockseq), resolved once rather than per row
  private val sources: Array[Int] = fields.map(ZipNumSource.schema.fieldIndex)
  // The prefix's UTF-8 bytes, tested against a line's first bytes before
  // anything else, so most lines outside the prefix cost a few byte
  // compares. The test is exact for a prefix that has a UTF-8 form and no
  // U+FFFD: a urlkey decodes to text starting with such a prefix only if
  // its bytes start with the prefix's bytes. Any other prefix (one with an
  // unpaired surrogate, or U+FFFD, which a malformed urlkey decodes to)
  // leaves this null, and every line takes the String test.
  private val prefixBytes: Array[Byte] = prefix
    .filter(p => !p.contains('\uFFFD'))
    .map(_.getBytes(UTF_8)).filter(b => new String(b, UTF_8) == prefix.get).orNull
  private val byteTest = prefix.isEmpty || prefixBytes != null

  private val reader = new ZipNum.BlockReader(sconf.value)
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new TaskMetric("blocksRead", reader.blocksRead),
      new TaskMetric("compressedBytesRead", reader.compressedBytesRead))

  private var blockIdx = 0
  // the current block's rows and the next one to hand out
  private val rows = new scala.collection.mutable.ArrayBuffer[InternalRow]
  private var rowIdx = 0
  private var seq = 0L

  override def next(): Boolean = {
    while (rowIdx >= rows.length) {
      if (blockIdx >= blocks.length) return false
      val (file, offset, length, blockSeq) = blocks(blockIdx)
      blockIdx += 1
      rows.clear()
      rowIdx = 0
      seq = blockSeq
      reader.read(file, offset, length, this)
    }
    rowIdx += 1
    true
  }

  override def get(): InternalRow = rows(rowIdx - 1)
  override def close(): Unit = reader.close()

  /** one line of the block being read: a row, unless the prefix drops it */
  override def line(b: Array[Byte], from: Int, until: Int): Unit =
    if (prefixBytes == null || startsWith(b, from, until, prefixBytes) &&
        (!exact || keyEndsAt(b, from + prefixBytes.length, until))) {
      // Spark's validity test accepts exactly what the JDK decoder
      // decodes without a replacement
      if (byteTest && UTF8String.fromBytes(b, from, until - from).isValid) {
        val sp = indexOfSpace(b, from, until)
        val keyEnd = if (sp < 0) until else sp
        // the prefix lies within the urlkey, not across its space
        if (prefixBytes == null || keyEnd - from >= prefixBytes.length) {
          var ts: UTF8String = null
          var json: UTF8String = null
          if (needSplit && sp >= 0) {
            val sp2 = indexOfSpace(b, sp + 1, until)
            ts = slice(b, sp + 1, if (sp2 < 0) until else sp2)
            if (sp2 >= 0) json = slice(b, sp2 + 1, until)
          }
          rows += row(if (needKey) slice(b, from, keyEnd) else null, ts, json)
        }
      } else {
        val parts = new String(b, from, until - from, UTF_8).split(" ", 3)
        if (prefix.forall(p => if (exact) parts(0) == p else parts(0).startsWith(p)))
          rows += row(UTF8String.fromString(parts(0)),
            if (parts.length > 1) UTF8String.fromString(parts(1)) else null,
            if (parts.length > 2) UTF8String.fromString(parts(2)) else null)
      }
    }

  private def row(urlkey: UTF8String, ts: UTF8String, json: UTF8String): InternalRow = {
    val values = new Array[Any](sources.length)
    var i = 0
    while (i < sources.length) {
      values(i) = sources(i) match {
        case 0 => urlkey
        case 1 => ts
        case 2 => json
        case _ => seq
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  /** a copy, so no row pins the reader's buffer */
  private def slice(b: Array[Byte], from: Int, until: Int): UTF8String =
    UTF8String.fromBytes(util.Arrays.copyOfRange(b, from, until))

  private def indexOfSpace(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && b(i) != ' ') i += 1
    if (i < until) i else -1
  }

  /** the line ends at `at` or has a space there */
  private def keyEndsAt(b: Array[Byte], at: Int, until: Int): Boolean =
    at == until || b(at) == ' '

  private def startsWith(b: Array[Byte], from: Int, until: Int, p: Array[Byte]): Boolean =
    until - from >= p.length && util.Arrays.equals(b, from, from + p.length, p, 0, p.length)
}
