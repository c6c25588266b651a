package graft.sources

import java.util

import graft.formats.{SerializableHadoopConf, Wacz, ZipNum}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for WACZ archives: `spark.read.format("wacz").load(glob)`
  * exposes the parsed CDXJ index — the query surface a packaged archive
  * serves — WITHOUT extracting anything: per archive the reader pays one
  * bounded tail read for the ZIP central directory plus the index it
  * needs, never O(archive) bytes. It is the only reader of an archive's
  * index: the full scan and the prefix lookup are both this source.
  *
  * Completes the format family next to [[WarcSource]] ("warc") and
  * [[ZipNumSource]] ("zipnum"). Pushdown surface:
  *  - `SupportsPushDownRequiredColumns`: index lines are row-major so
  *    I/O is fixed, but a pruned schema skips the JSON field extraction
  *    entirely for index-only shapes (`select("urlkey")`), the same win
  *    as the zipnum reader's.
  *  - `SupportsPushDownFilters`: urlkey string predicates are applied to
  *    the line PREFIX before any JSON parse — a prefix lookup touches
  *    the JSON of matching lines only. When they bound the key range
  *    ([[ZipNumSource.rangeFromFilters]]) and the archive has the
  *    big-archive index (`indexes/index.idx`), only the idx and the
  *    blocks it selects are read ([[Wacz.indexBlocks]], each block
  *    through one [[graft.formats.ZipNum.BlockReader]]); otherwise every
  *    index line is read ([[Wacz.indexLines]]). Always residual (Spark
  *    re-checks), so neither the skip nor the pruning can change rows.
  */
class WaczSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wacz"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WaczSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WaczTable(properties.getOrDefault("path", ""))
}

object WaczSource {
  /** one row per CDXJ index line; JSON-derived fields follow the pywb
    * dialect (numbers carried as strings in the envelope, typed here) */
  val schema: StructType = StructType(Seq(
    StructField("wacz", StringType),
    StructField("urlkey", StringType),
    StructField("ts", StringType),
    StructField("url", StringType),
    StructField("mime", StringType),
    StructField("status", IntegerType),
    StructField("digest", StringType),
    StructField("length", LongType),
    StructField("offset", LongType),
    StructField("filename", StringType)))

  /** fields that require parsing the JSON tail of the line */
  private[sources] val jsonFields =
    Set("url", "mime", "status", "digest", "length", "offset", "filename")

  /** compile the pushed urlkey predicates into one String => Boolean
    * (conjunction). Range comparisons use UNSIGNED UTF-8 BYTE order
    * ([[graft.formats.ZipNum.utf8Compare]]) — the order Spark's
    * UTF8String comparison uses — NOT Java's UTF-16 `String` order,
    * which inverts supplementary characters vs [U+E000, U+FFFF].
    * Because this skip happens BELOW the scan, an under-selection here
    * would drop rows Spark's residual re-check can never restore; byte
    * order makes the reader keep exactly what Spark's predicate keeps. */
  private[graft] def urlkeyPredicate(pushed: Seq[Filter]): String => Boolean = {
    import graft.formats.ZipNum.utf8Compare
    val tests = pushed.collect {
      case EqualTo("urlkey", v: String) => (k: String) => k == v
      case StringStartsWith("urlkey", v) => (k: String) => k.startsWith(v)
      case GreaterThanOrEqual("urlkey", v: String) => (k: String) => utf8Compare(k, v) >= 0
      case GreaterThan("urlkey", v: String) => (k: String) => utf8Compare(k, v) > 0
      case LessThanOrEqual("urlkey", v: String) => (k: String) => utf8Compare(k, v) <= 0
      case LessThan("urlkey", v: String) => (k: String) => utf8Compare(k, v) < 0
    }
    k => tests.forall(_(k))
  }
}

final class WaczTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"wacz:$path"
  override def schema(): StructType = WaczSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val p = Option(options.get("path")).filter(_.nonEmpty).getOrElse(path)
    // analysis-time conf capture (the WarcSource/ZipNumSource rule):
    // AQE threads may plan partitions with no active session
    val conf = new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    new WaczScanBuilder(p, conf)
  }
}

final class WaczScanBuilder(pathGlob: String, conf: SerializableHadoopConf)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WaczSource.schema

  // No ts predicate is pushed: index.idx first keys are urlkeys only,
  // so a ts bound would prune blocks that still hold matching lines.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("urlkey", _: String) => true
      case StringStartsWith("urlkey", _) => true
      case GreaterThanOrEqual("urlkey", _: String) => true
      case GreaterThan("urlkey", _: String) => true
      case LessThanOrEqual("urlkey", _: String) => true
      case LessThan("urlkey", _: String) => true
      case _ => false
    }
    filters // residual: the reader's skip is parse-cost-only
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // canonical field order (readSchema must match reader emission)
    required = StructType(
      WaczSource.schema.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new WaczScan(pathGlob, pushed.toIndexedSeq, required, conf)
}

final class WaczScan(
    pathGlob: String, pushed: Seq[Filter], required: StructType,
    sconf0: SerializableHadoopConf)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"WaczScan[$pathGlob] pushed=${pushed.mkString(",")} cols=${required.fieldNames.mkString(",")}"
  override def toBatch: Batch = this

  private def sessionConf: Configuration = sconf0.value

  override def planInputPartitions(): Array[InputPartition] = {
    val path = new Path(pathGlob)
    Wacz.archiveFiles(path.getFileSystem(sessionConf), path, "format(wacz)")
      .map { case (file, len) => WaczFilePartition(file, len): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val sconf = new SerializableHadoopConf(sessionConf)
    val p = pushed
    val r = required
    (partition: InputPartition) => {
      val fp = partition.asInstanceOf[WaczFilePartition]
      new WaczPartitionReader(fp.file, fp.len, p, r, sconf)
    }
  }
}

final case class WaczFilePartition(file: String, len: Long) extends InputPartition

final class WaczPartitionReader(
    file: String, fileLen: Long, pushed: Seq[Filter], required: StructType,
    sconf: SerializableHadoopConf)
  extends PartitionReader[InternalRow] {

  private val shortName = file.substring(file.lastIndexOf('/') + 1)
  private val keep = WaczSource.urlkeyPredicate(pushed)
  private val needsJson =
    required.fieldNames.exists(WaczSource.jsonFields.contains)
  private val mapper =
    if (needsJson) new com.fasterxml.jackson.databind.ObjectMapper() else null
  private val blockReader = new ZipNum.BlockReader(sconf.value)

  // Central directory, then either the idx-selected blocks of the
  // big-archive index (a urlkey-bounded scan of an archive that has
  // indexes/index.idx) or every index line. A block's lines are handed
  // out only once its gzip trailer has verified: BlockReader.lines
  // returns after the whole member is read.
  private val lines: Iterator[String] = {
    val range = ZipNumSource.rangeFromFilters(pushed)
    val p = new Path(file)
    val in = p.getFileSystem(sconf.value).open(p)
    val index = try {
      val read: (Long, Array[Byte]) => Unit = (pos, buf) => in.readFully(pos, buf)
      val dir = Wacz.centralDirectory(read, fileLen)
      val blocks =
        if (range.lo.isEmpty && range.hi.isEmpty) None
        else Wacz.indexBlocks(read, dir, shortName, range.lo, range.hi)
      blocks.toRight(Wacz.indexLines(read, dir, shortName))
    } finally in.close()
    index match {
      case Left(all) => all.iterator
      case Right(blocks) => blocks.iterator.flatMap { case (offset, length) =>
        blockReader.lines(file, offset, length)
      }
    }
  }

  private var row: InternalRow = _

  override def next(): Boolean = {
    while (lines.hasNext) {
      val line = lines.next()
      // CDXJ: urlkey SP ts SP {json}
      val sp1 = line.indexOf(' ')
      if (sp1 > 0) {
        val urlkey = line.substring(0, sp1)
        if (keep(urlkey)) {
          val sp2 = line.indexOf(' ', sp1 + 1)
          val ts = if (sp2 > sp1) line.substring(sp1 + 1, sp2) else null
          val json =
            if (needsJson && sp2 > sp1 && sp2 + 1 < line.length) {
              try mapper.readTree(line.substring(sp2 + 1))
              catch { case _: Exception => null }
            } else null
          def jStr(f: String): UTF8String = {
            if (json == null) return null
            val n = json.get(f)
            if (n == null || n.isNull) null else UTF8String.fromString(n.asText())
          }
          def jInt(f: String): Any = {
            if (json == null) return null
            val n = json.get(f)
            if (n == null || n.isNull) null
            else try Integer.valueOf(n.asText().toInt) catch { case _: Exception => null }
          }
          def jLong(f: String): Any = {
            if (json == null) return null
            val n = json.get(f)
            if (n == null || n.isNull) null
            else try java.lang.Long.valueOf(n.asText().toLong) catch { case _: Exception => null }
          }
          val values = required.fieldNames.map {
            case "wacz" => UTF8String.fromString(shortName)
            case "urlkey" => UTF8String.fromString(urlkey)
            case "ts" => if (ts == null) null else UTF8String.fromString(ts)
            case "url" => jStr("url")
            case "mime" => jStr("mime")
            case "status" => jInt("status")
            case "digest" => jStr("digest")
            case "length" => jLong("length")
            case "offset" => jLong("offset")
            case "filename" => jStr("filename")
          }
          row = new GenericInternalRow(values.asInstanceOf[Array[Any]])
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = blockReader.close()
}
