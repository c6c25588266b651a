package graft.sources

import graft.formats.{SerializableHadoopConf, ZipNum}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._

/** THE ZipNum cluster writer (SURVEY §4 custom-work item 3):
  *
  * `df.write.format("zipnum").option("shards", 8)
  *    .option("linesPerBlock", 3000).mode("overwrite").save(dir)`
  *
  * [[graft.formats.ZipNum.write]] is the typed entry to this path, and
  * [[graft.formats.ZipNum.mergeSorted]] drives the same task writer and
  * job commit/abort by hand (it has no exchange to plan).
  *
  * [[ZipNumWrite]] declares `RequiresDistributionAndOrdering` — an
  * ordered distribution on `line` with `shards` partitions — so CATALYST
  * plans the range exchange + per-partition sort; the writer never
  * repartitions by hand. Each task streams its sorted partition into one
  * `cdx-NNNNN.gz` of gzip-member blocks plus a per-shard `.idx-NNNNN`
  * side file; the commit message carries ONLY the pid — the driver-side
  * commit streams the side files together into `cluster.idx` in shard
  * order (O(shards) driver state; the entries themselves — tens of
  * millions of lines at 100 TB — never ride through the driver, matching
  * the reference, whose reducer emits idx lines as job output:
  * zipnumclusterjob.py §reducer, recon ~L90–170). A failed job never
  * publishes an idx, so readers (which always start from cluster.idx)
  * cannot observe partial output, and its abort deletes the shards the
  * already-committed tasks published.
  *
  * The input is evaluated TWICE: the range exchange's sampling job runs
  * the whole child plan, then the map stage runs it again. A DSv2
  * `Write` cannot persist its own input, so a caller with an expensive
  * derive persists it first ([[graft.Pipeline.warcToZipNum]] does);
  * cheap inputs (the streaming batches) are read twice.
  */
final case class ZipNumCommit(pid: Int, blocks: Long) extends WriterCommitMessage

final class ZipNumWriteBuilder(
    dir: String, info: LogicalWriteInfo, sconf: SerializableHadoopConf)
  extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val lineIdx = info.schema().fieldNames.indexOf("line")
    require(lineIdx >= 0,
      s"zipnum write needs a 'line' STRING column; got [${info.schema().fieldNames.mkString(", ")}]")
    require(info.schema()(lineIdx).dataType == org.apache.spark.sql.types.StringType,
      s"'line' must be STRING, got ${info.schema()(lineIdx).dataType.simpleString} — " +
        "failing here beats a per-task ClassCastException after the exchange has run")
    val shards = Option(info.options.get("shards")).map(_.toInt).getOrElse(8)
    val linesPerBlock = Option(info.options.get("linesPerBlock")).map(_.toInt).getOrElse(3000)
    require(shards > 0 && linesPerBlock > 0, "shards and linesPerBlock must be positive")
    new ZipNumWrite(dir, lineIdx, shards, linesPerBlock, doTruncate, sconf)
  }
}

final class ZipNumWrite(
    dir: String, lineIdx: Int, shards: Int, linesPerBlock: Int,
    doTruncate: Boolean, sconf: SerializableHadoopConf)
  extends Write with RequiresDistributionAndOrdering {

  private def sortOrders: Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("line"), SortDirection.ASCENDING))

  /** ordered distribution == range partitioning on the sort key: the
    * planner inserts the exchange (reservoir-sampling bounds) for us */
  override def requiredDistribution(): Distribution = Distributions.ordered(sortOrders)
  override def requiredOrdering(): Array[SortOrder] = sortOrders
  override def requiredNumPartitions(): Int = shards

  override def toBatch: BatchWrite = {
    val p = new Path(dir)
    val fs = p.getFileSystem(sconf.value)
    if (doTruncate && fs.exists(p)) fs.delete(p, true)
    require(!fs.exists(new Path(p, "cluster.idx")),
      s"zipnum cluster already exists at $dir — appending would break the " +
        "global sort order; use mode(\"overwrite\") to replace it, or " +
        "ZipNum.mergeSorted(spark, Seq(old, new), out, ...) to combine clusters")
    fs.mkdirs(p)
    new ZipNumBatchWrite(dir, lineIdx, linesPerBlock, sconf)
  }
}

final class ZipNumBatchWrite(
    dir: String, lineIdx: Int, linesPerBlock: Int, sconf: SerializableHadoopConf)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ZipNumWriterFactory(dir, lineIdx, linesPerBlock, sconf)

  /** driver-side: stream the committed tasks' side idx files into
    * cluster.idx in NUMERIC pid order (which the range exchange made
    * equal to global key order) — O(shards) driver state, never the
    * entries themselves */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val pids = messages.collect { case c: ZipNumCommit if c.blocks > 0 => c.pid }
    val dirPath = new Path(dir)
    ZipNum.assembleIdx(dirPath.getFileSystem(sconf.value), dirPath, pids.toSeq)
  }

  /** driver-side, after a failed job: delete the shard and side idx
    * file of EVERY pid of the job (`messages` has one slot per partition),
    * not only those whose message arrived — the scheduler drops the
    * result of a task that finishes after the job failed, so its slot is
    * null although its files were published. Uncommitted attempts removed
    * their own temps in [[ZipNumDataWriter.abort]]. toBatch left no
    * cluster.idx behind, so one present now was published by this job's
    * commit (which then failed while removing side files): the shards
    * are served and must stay. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(sconf.value)
    if (!fs.exists(new Path(dirPath, "cluster.idx"))) messages.indices.foreach { pid =>
      fs.delete(new Path(dirPath, ZipNum.shardName(pid)), false)
      fs.delete(new Path(dirPath, ZipNum.sideIdxName(pid)), false)
    }
  }
}

final class ZipNumWriterFactory(
    dir: String, lineIdx: Int, linesPerBlock: Int, sconf: SerializableHadoopConf)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZipNumDataWriter(dir, partitionId, taskId, lineIdx, linesPerBlock, sconf)
}

/** One sorted shard per task, driven through the
  * [[graft.formats.ZipNum.BlockStreamWriter]] kernel (this is its only
  * caller): lines buffered into `linesPerBlock` groups, each flushed as
  * an independent gzip member (compressed on a small task-local pool,
  * written in block order) with streaming offset accounting — memory is
  * O(threads × block), never O(partition). Idx lines stream to a per-shard side file; only the pid
  * rides in the commit message.
  *
  * Attempt isolation: both the shard bytes and the idx lines stream into
  * temp files keyed by `taskId` and are renamed to their final names only
  * in [[commit]] — a speculative or zombie attempt writing the final path
  * directly would truncate/interleave the winner's bytes mid-stream. The
  * renames are atomic per attempt, the content is deterministic (the
  * partition is sorted), and Spark delivers exactly one attempt's commit
  * message to BatchWrite.commit. */
final class ZipNumDataWriter(
    dir: String, pid: Int, taskId: Long, lineIdx: Int, linesPerBlock: Int,
    sconf: SerializableHadoopConf)
  extends DataWriter[InternalRow] {

  private val shardName = ZipNum.shardName(pid)
  private val tempShard = s".$shardName.attempt-$taskId"
  private val tempIdx = ZipNum.sideIdxName(pid) + s".attempt-$taskId"

  private def fs = new Path(dir).getFileSystem(sconf.value)

  private val w = new ZipNum.BlockStreamWriter(
    () => fs.create(new Path(dir, tempShard), true),
    () => fs.create(new Path(dir, tempIdx), true),
    shardName, linesPerBlock)

  override def write(row: InternalRow): Unit = add(row.getUTF8String(lineIdx).toString)

  /** one already-decoded line (the [[graft.formats.ZipNum.mergeSorted]]
    * entry; rows go through [[write]]) */
  def add(line: String): Unit = w.add(line)

  private def publish(temp: String, fin: String): Unit = {
    val from = new Path(dir, temp)
    val to = new Path(dir, fin)
    if (fs.exists(to)) fs.delete(to, false) // losing attempt's rename target
    // rename signals failure by RETURNING false, not throwing — ignoring
    // it would let commit() succeed and publish a cluster.idx that
    // references a shard file which never arrived
    require(fs.rename(from, to), s"could not publish $fin from $temp")
  }

  override def commit(): WriterCommitMessage = {
    w.finish()
    if (w.blockCount > 0) {
      publish(tempShard, shardName)
      publish(tempIdx, ZipNum.sideIdxName(pid))
    }
    ZipNumCommit(pid, w.blockCount)
  }

  override def abort(): Unit = {
    close()
    try {
      fs.delete(new Path(dir, tempShard), false)
      fs.delete(new Path(dir, tempIdx), false)
    } catch { case _: java.io.IOException => }
  }
  override def close(): Unit = w.abort()
}
