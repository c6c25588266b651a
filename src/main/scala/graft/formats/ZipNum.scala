package graft.formats

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._

/** ZipNum cluster format (SURVEY.md §1.4): shards `cdx-NNNNN.gz` of
  * concatenated gzip members ("blocks") of `linesPerBlock` CDX lines each,
  * globally sorted by key across shards, plus a secondary index
  * `cluster.idx` — one line per block:
  * `firstkey<TAB>shard<TAB>offset<TAB>length<TAB>seq`.
  *
  * Mirrors zipnumclusterjob.py §reducer (recon ~L90–170) + the
  * TotalOrderPartitioner jobconf (recon ~L30–55); the sample/split-point
  * job disappears into `repartitionByRange`, whose RangePartitioner
  * reservoir-samples internally (SURVEY §2.7 `sort_global`).
  *
  * Scale notes: the writer is one range exchange + local sort (exactly the
  * reference's shuffle), writing each shard from its partition with
  * streaming block accounting; `cluster.idx` is ~1/linesPerBlock of the
  * data and is the only thing collected to the driver. The reader prunes
  * at block granularity through the idx (the batch analog of pywb's
  * binary search; same spirit as Parquet row-group pruning), so a prefix
  * query touches O(matching blocks) bytes, not O(dataset).
  */
object ZipNum {

  final case class IdxEntry(firstKey: String, shard: String, offset: Long, length: Long, seq: Long)

  /** side-file name for one shard's idx lines (hidden: leading dot keeps
    * readers — which glob nothing, they start from cluster.idx — and
    * FileSystem listings from seeing half-written state) */
  private[graft] def sideIdxName(pid: Int): String = f".idx-$pid%05d"

  /** shard file name for range partition `pid` */
  private[graft] def shardName(pid: Int): String = f"cdx-$pid%05d.gz"

  /** gzip-member compression threads per shard writer. Blocks are
    * independent members, so deflating them concurrently while writing
    * strictly in block order is free parallelism whenever the job runs
    * fewer shard tasks than it has cores (the 8-shard local bench); when
    * tasks alone saturate the cores the extra threads only queue. The
    * in-flight window keeps memory O(threads × block), never
    * O(partition). */
  private val DefaultCompressThreads = 4

  /** Streams `linesPerBlock`-line gzip members to a shard file while
    * appending one `firstKey\tshard\toffset\tlength` line per block to a
    * side idx stream. THE shard-writing kernel, driven only by the V2
    * task writer ([[graft.sources.ZipNumDataWriter]]) — every cluster
    * write ([[write]], [[mergeSorted]], `format("zipnum")`) goes through
    * that one writer, so block framing, idx accounting, and the
    * compression pipeline have a single implementation.
    *
    * Global `seq` is NOT assigned here: tasks know only their own blocks.
    * The committer concatenates side files in numeric shard order and
    * numbers lines as it streams ([[assembleIdx]]) — the driver holds
    * O(shards) names, never the entries (at 100 TB / 3000-line blocks the
    * entries are tens of millions of lines; the old collect()-them-all
    * assembly was the write path's only scale cliff).
    */
  private[graft] final class BlockStreamWriter(
      openOut: () => java.io.OutputStream,
      openIdx: () => java.io.OutputStream,
      shardName: String, linesPerBlock: Int) {
    require(linesPerBlock > 0)

    private var out: java.io.OutputStream = _
    private var idxOut: java.io.OutputStream = _
    private val pending = new scala.collection.mutable.ArrayBuffer[String](linesPerBlock)
    private var offset = 0L
    private var blocks = 0L
    private var pool: java.util.concurrent.ExecutorService = _
    // (compressed-member future, firstKey) in block order; size ≤ 2×threads
    private val inFlight =
      new java.util.ArrayDeque[(java.util.concurrent.Future[Array[Byte]], String)]()

    /** blocks written so far (all flushed once [[finish]] returns) */
    def blockCount: Long = blocks

    def add(line: String): Unit = {
      pending += line
      if (pending.size >= linesPerBlock) submitBlock()
    }

    private def submitBlock(): Unit = if (pending.nonEmpty) {
      val payload = new ByteArrayOutputStream()
      pending.foreach { l => payload.write(l.getBytes(UTF_8)); payload.write('\n') }
      val bytes = payload.toByteArray
      val firstKey = pending.head.split(" ", 3).take(2).mkString(" ")
      pending.clear()
      if (pool == null)
        pool = java.util.concurrent.Executors.newFixedThreadPool(DefaultCompressThreads)
      inFlight.add((pool.submit(() => Gzip.compressMember(bytes)), firstKey))
      // bounded pipeline: drain the oldest once the window is full
      if (inFlight.size >= DefaultCompressThreads * 2) drainOne()
    }

    private def drainOne(): Unit = {
      val (fut, firstKey) = inFlight.poll()
      val member = fut.get()
      if (out == null) { out = openOut(); idxOut = openIdx() }
      out.write(member)
      idxOut.write(s"$firstKey\t$shardName\t$offset\t${member.length}\n".getBytes(UTF_8))
      offset += member.length
      blocks += 1
    }

    /** flush the tail block and drain the pipeline; safe to call once */
    def finish(): Unit = {
      submitBlock()
      while (!inFlight.isEmpty) drainOne()
      if (pool != null) { pool.shutdown(); pool = null }
      if (out != null) { out.close(); out = null }
      if (idxOut != null) { idxOut.close(); idxOut = null }
    }

    /** abandon without publishing (error path) */
    def abort(): Unit = {
      inFlight.forEach(_._1.cancel(true))
      inFlight.clear()
      if (pool != null) { pool.shutdownNow(); pool = null }
      if (out != null) { try out.close() catch { case _: java.io.IOException => }; out = null }
      if (idxOut != null) { try idxOut.close() catch { case _: java.io.IOException => }; idxOut = null }
    }
  }

  /** Driver-side cluster.idx assembly from per-shard side files: stream
    * each side file in NUMERIC pid order (lexicographic name order
    * diverges once names outgrow the %05d padding), append the global
    * seq as lines pass through. O(1) memory per line, O(shards) driver
    * state.
    *
    * Publish is ATOMIC: validate every side file first, stream into a
    * temp name, rename over cluster.idx, and only then delete the side
    * files. The old create(overwrite=true)-then-stream form truncated the
    * SERVING index up front, so a mid-assembly failure (missing side
    * file, FS error) left a valid-looking idx holding a prefix of the
    * shards — readers would silently serve an index with whole shards
    * unreachable, and the already-deleted side files made a retry
    * impossible. */
  private[graft] def assembleIdx(
      fs: FileSystem, dirPath: Path, pids: Seq[Int]): Unit = {
    val ordered = pids.sorted
    // every pid passed here wrote >=1 block, so its side file MUST exist —
    // skipping silently would publish an idx missing a whole shard's
    // entries (blocks unreachable, no error at read time). Check ALL
    // before touching the serving path.
    val sides = ordered.map { pid =>
      val side = new Path(dirPath, sideIdxName(pid))
      require(fs.exists(side),
        s"idx side file missing for shard $pid at $side — refusing to publish a partial cluster.idx")
      side
    }
    val tmp = new Path(dirPath, s".cluster.idx.assembling")
    val idxOut = new java.io.BufferedOutputStream(fs.create(tmp, true))
    var seq = 0L
    var ok = false
    try {
      sides.foreach { side =>
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(side), UTF_8))
        try {
          var line = reader.readLine()
          while (line != null) {
            idxOut.write(s"$line\t$seq\n".getBytes(UTF_8))
            seq += 1
            line = reader.readLine()
          }
        } finally reader.close()
      }
      ok = true
    } finally {
      idxOut.close()
      if (!ok) fs.delete(tmp, false) // never leave a half-written temp
    }
    // swap via backup, not delete: rename won't overwrite, but a plain
    // delete-then-rename leaves NO index if the rename fails or the
    // process dies in between. With the backup the old index either
    // still serves (restored on rename failure) or survives at .previous
    // for manual recovery after a crash in the window. KNOWN RESIDUAL
    // WINDOW: a crash between the two renames leaves only
    // .cluster.idx.previous (no serving index until it is restored by
    // hand). Hadoop's public FileSystem API has no portable atomic
    // overwrite-rename (FileContext.rename(OVERWRITE) exists but not all
    // FileSystems honor it atomically; S3A "rename" is a copy either
    // way), so the backup scheme is the deliberate portable fallback —
    // on a POSIX or HDFS deployment, a custom committer can swap this
    // for the native atomic replace.
    val finalIdx = new Path(dirPath, "cluster.idx")
    val backup = new Path(dirPath, ".cluster.idx.previous")
    fs.delete(backup, false)
    val hadPrevious = fs.exists(finalIdx)
    if (hadPrevious) require(fs.rename(finalIdx, backup),
      s"could not move the previous $finalIdx aside")
    if (!fs.rename(tmp, finalIdx)) {
      if (hadPrevious) fs.rename(backup, finalIdx) // restore the old index
      fs.delete(tmp, false)
      throw new IllegalStateException(s"rename $tmp -> $finalIdx failed")
    }
    if (hadPrevious) fs.delete(backup, false)
    sides.foreach(fs.delete(_, false)) // only after the publish succeeded
  }

  /** Write `df` (must have a `line` STRING column whose prefix is the sort
    * key) as a ZipNum cluster under `dir`: the typed entry to the V2
    * writer (`df.write.format("zipnum")`, [[graft.sources.ZipNumWrite]]).
    * Catalyst plans the range exchange + per-partition sort; each task
    * streams one shard into attempt-keyed temps and renames them on
    * commit; `cluster.idx` is assembled only after every task committed.
    * Only `line` is selected, so extra columns never ride the exchange.
    *
    * Overwrite deletes the previous cluster at `dir` BEFORE the job runs
    * (`ZipNumWrite.toBatch`), so a failed write leaves NO cluster there:
    * not the old one, and not a partial new one (the job abort removes
    * the shards its committed tasks published). Staging the new cluster
    * beside the old one is not implemented. */
  def write(df: DataFrame, dir: String, shards: Int, linesPerBlock: Int): Unit = {
    require(df.columns.contains("line"),
      s"ZipNum.write needs a 'line' STRING column; got [${df.columns.mkString(", ")}]")
    require(shards > 0 && linesPerBlock > 0, "shards and linesPerBlock must be positive")
    df.select(col("line")).write.format("zipnum")
      .option("shards", shards).option("linesPerBlock", linesPerBlock)
      .mode("overwrite").save(dir)
  }

  /** Merge clusters into one (the reference's operational loop: last
    * month's index + this month's captures → next index;
    * zipnumclusterjob.py is re-run over unioned inputs the same way,
    * recon ~L20–40). Inputs are read WITHOUT their per-cluster order
    * (`ordered=false` — no wasted sort), unioned, and rewritten through
    * [[write]], whose single range exchange re-establishes the total
    * order; Catalyst sees one plan, so there is exactly one shuffle for
    * any number of input clusters. */
  def merge(
      spark: SparkSession, dirs: Seq[String], outDir: String,
      shards: Int, linesPerBlock: Int): Unit = {
    require(dirs.nonEmpty, "merge needs at least one input cluster")
    val all = dirs.map(readLines(spark, _, ordered = false)).reduce(_.union(_))
    write(all.toDF("line"), outDir, shards, linesPerBlock)
  }

  /** Exchange-free merge of ALREADY-SORTED clusters — LSM-style
    * compaction. [[merge]] re-range-exchanges the full union per
    * generation: correct, and the right tool when inputs are unsorted,
    * but at 100 TB an incremental index merge that reshuffles 100% of
    * the data to fold in 1% new captures pays the whole cluster's
    * shuffle every month. This form never shuffles:
    *
    *  - the driver picks output shard boundaries from the INPUT idx
    *    entries (equal-block splits over the union of firstKeys —
    *    blocks hold ~linesPerBlock lines each, so this balances lines
    *    the way the RangePartitioner's reservoir sample would, without
    *    touching data; O(blocks) driver work, the same scale the
    *    serving path already reads);
    *  - one task per output shard streams ONLY the input blocks
    *    overlapping its range (idx-pruned via [[selectBlocks]], the
    *    same pruning the serving path uses), k-way-merges the
    *    per-input sorted line streams, and feeds the shard writer.
    *
    * Data moves exactly once: input block bytes → task → output shard.
    * Each output shard goes through the V2 task writer
    * ([[graft.sources.ZipNumDataWriter]]: attempt-keyed temps, rename on
    * commit, abort on failure) and the job commits or aborts through
    * [[graft.sources.ZipNumBatchWrite]] — the same protocol as [[write]],
    * driven by hand because there is no exchange for Catalyst to plan.
    * Boundary blocks straddle ranges, so lines are re-filtered by FULL
    * line against the bounds — every line lands in exactly one shard
    * because the bounds partition the line space under the same UTF-8
    * order the writer sorts by. ZipNumSpec pins byte-equality of the
    * read-back against [[merge]]'s output on the same inputs.
    *
    * `excludePrefixes`: lines whose urlkey starts with any of these are
    * DROPPED during the merge — tombstone application at compaction
    * time, the LSM discipline and the web archive's takedown operation
    * (a legal exclusion must leave the serving index, not just be
    * ACL-masked at query time). CDX lines BEGIN with the urlkey, so the
    * match is a plain line-prefix test inside the streaming merge; the
    * list rides the task closure — takedown lists are legal documents
    * (tens to thousands of entries), never data-sized. */
  def mergeSorted(
      spark: SparkSession, dirs: Seq[String], outDir: String,
      shards: Int, linesPerBlock: Int,
      excludePrefixes: Seq[String] = Nil): Unit = {
    require(dirs.nonEmpty, "mergeSorted needs at least one input cluster")
    require(shards > 0 && linesPerBlock > 0, "shards and linesPerBlock must be positive")
    require(excludePrefixes.size <= 100000,
      s"mergeSorted: ${excludePrefixes.size} exclusion prefixes — the list rides " +
        "task closures and is meant for takedown-scale inputs; shard a larger " +
        "purge into multiple compactions")
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new Path(outDir)
    val fs = outPath.getFileSystem(conf)
    if (fs.exists(outPath)) fs.delete(outPath, true)
    fs.mkdirs(outPath)
    val idxs: Seq[(String, Seq[IdxEntry])] = dirs.map(d => d -> readIdx(d, conf))
    val allKeys = idxs.flatMap(_._2.map(_.firstKey)).sorted(utf8Ordering)
    if (allKeys.isEmpty) { assembleIdx(fs, outPath, Seq.empty); return }
    val bounds = (1 until shards)
      .map(i => allKeys((i.toLong * allKeys.size / shards).toInt))
      .distinct
    // shard pid covers [ranges(pid)._1, ranges(pid)._2); ends open
    val ranges = (None +: bounds.map(Option(_))).zip(bounds.map(Option(_)) :+ None)
    // work item per shard: its bounds + each input's overlapping blocks
    // (idx entries ride the closure — O(blocks) total across all tasks,
    // what the driver already held)
    val work = ranges.zipWithIndex.map { case ((lo, hi), pid) =>
      (pid, lo, hi, idxs.map { case (d, idx) => (d, selectBlocks(idx, lo, hi)) })
    }
    val sconf = new SerializableHadoopConf(conf)
    val job = new graft.sources.ZipNumBatchWrite(outDir, 0, linesPerBlock, sconf)
    // what Spark's V2 write exec does for format("zipnum"): collect each
    // committed task's message as it lands, so a failed job can abort
    // (delete) exactly the shards that were published
    val messages = new Array[WriterCommitMessage](work.size)
    try {
      spark.sparkContext.runJob(
        spark.sparkContext.parallelize(work, work.size),
        (ctx: TaskContext, it: Iterator[MergeWork]) => {
          val (pid, lo, hi, inputs) = it.next()
          val taskConf = sconf.value
          def inRange(line: String): Boolean =
            lo.forall(l => utf8Compare(line, l) >= 0) &&
              hi.forall(h => utf8Compare(line, h) < 0)
          // takedown tombstones apply inside the same streaming pass
          def kept(line: String): Boolean =
            excludePrefixes.isEmpty || !excludePrefixes.exists(line.startsWith)
          // one sorted, range-filtered line stream per input cluster
          val live = scala.collection.mutable.ArrayBuffer.from(inputs.map { case (d, entries) =>
            blockLineIterator(d, entries, taskConf)
              .filter(l => inRange(l) && kept(l)).buffered
          }.filter(_.hasNext))
          val w = new graft.sources.ZipNumDataWriter(
            outDir, pid, ctx.taskAttemptId(), 0, linesPerBlock, sconf)
          try {
            // k-way merge: smallest head first; ties by input order (ties
            // are identical key prefixes — any stable choice is correct,
            // fixed order keeps reruns byte-identical)
            while (live.nonEmpty) {
              var best = 0
              var i = 1
              while (i < live.size) {
                if (utf8Compare(live(i).head, live(best).head) < 0) best = i
                i += 1
              }
              w.add(live(best).next())
              if (!live(best).hasNext) live.remove(best)
            }
            // no commit coordinator guards this job: once it has failed
            // (its tasks are killed), a shard not yet published must not be
            if (ctx.isInterrupted()) throw new TaskKilledException("mergeSorted job failed")
            w.commit()
          } catch { case e: Throwable => w.abort(); throw e }
        },
        (i: Int, m: WriterCommitMessage) => messages(i) = m)
      job.commit(messages)
    } catch { case e: Throwable => job.abort(messages); throw e }
  }

  /** one [[mergeSorted]] task: output pid, its [lo, hi) bounds, and each
    * input cluster's overlapping idx blocks */
  private type MergeWork =
    (Int, Option[String], Option[String], Seq[(String, Seq[IdxEntry])])

  /** Sorted line stream over the given idx blocks of one cluster (task
    * side; entries must be in idx order). Forward-only: one open handle
    * per shard file, sequential seeks — the mergeSorted read kernel. */
  private def blockLineIterator(
      dir: String, entries: Seq[IdxEntry],
      conf: Configuration): Iterator[String] = {
    var in: org.apache.hadoop.fs.FSDataInputStream = null
    var openShard: String = null
    val it = entries.iterator
    // close on abnormal task exit too (same hygiene as readBlockLines)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ =>
        try { if (in != null) in.close() } catch { case _: Throwable => }))
    new Iterator[String] {
      private var current: Iterator[String] = Iterator.empty
      override def hasNext: Boolean = {
        while (!current.hasNext && it.hasNext) {
          val e = it.next()
          if (e.shard != openShard) {
            if (in != null) in.close()
            val p = new Path(dir, e.shard)
            in = p.getFileSystem(conf).open(p)
            openShard = e.shard
          }
          val buf = new Array[Byte](e.length.toInt)
          in.seek(e.offset); in.readFully(buf)
          val member = Gzip.members(new java.io.ByteArrayInputStream(buf)).next()
          current = new String(member.bytes, UTF_8).split("\n").iterator.filter(_.nonEmpty)
        }
        val has = current.hasNext
        if (!has && in != null) { in.close(); in = null }
        has
      }
      override def next(): String = current.next()
    }
  }

  /** UTF-8 byte order as a string Ordering (the writer's sort order) */
  private[graft] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => utf8Compare(a, b)

  /** Parse cluster.idx (driver-side — it is the small binary-searchable
    * secondary index by construction). THE one idx parser: the V2 source
    * delegates here too, so the line format has a single reader. */
  def readIdx(spark: SparkSession, dir: String): Seq[IdxEntry] =
    readIdx(dir, spark.sparkContext.hadoopConfiguration)

  def readIdx(dir: String, conf: Configuration): Seq[IdxEntry] = {
    val path = new Path(dir, "cluster.idx")
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    val content = try new String(in.readAllBytes(), UTF_8) finally in.close()
    content.split("\n").filter(_.nonEmpty).toSeq.map { l =>
      val f = l.split("\t")
      IdxEntry(f(0), f(1), f(2).toLong, f(3).toLong, f(4).toLong)
    }
  }

  /** Bounded-range idx read WITHOUT loading the file: seek-based binary
    * search for the first entry with firstKey >= lo (UTF-8 byte order),
    * step back one line (the straddling predecessor [[selectBlocks]]
    * keeps), then stream entries forward until firstKey >= hi. Driver
    * memory and I/O are O(result + log(file) seeks), not O(idx) — at
    * 100 TB cluster.idx is tens of millions of lines (~GBs), and a
    * cdx-server-shaped query needs a handful of them. pywb's idx binary
    * search, re-expressed over Hadoop seekable streams. Returns exactly
    * `selectBlocks(readIdx(dir), lo, hi)` (property-tested equal).
    */
  def scanIdxRange(
      dir: String, conf: Configuration,
      lo: Option[String], hi: Option[String]): Seq[IdxEntry] = {
    val path = new Path(dir, "cluster.idx")
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    if (len == 0) return Nil
    val in = fs.open(path)
    try {
      // read one line starting at `off` (must be a line start); returns
      // (line, nextLineStart) or null at EOF
      def lineAt(off: Long): (String, Long) = {
        if (off >= len) return null
        in.seek(off)
        // accumulate BYTES and decode once — per-chunk decoding would
        // corrupt a multibyte UTF-8 char straddling a chunk boundary
        // (long urlkeys overrun any fixed chunk size)
        val bytes = new ByteArrayOutputStream(256)
        val buf = new Array[Byte](256)
        var pos = off
        var done = false
        while (!done) {
          val n = in.read(buf)
          if (n < 0) done = true
          else {
            var i = 0
            while (i < n && !done) {
              if (buf(i) == '\n') done = true else i += 1
            }
            bytes.write(buf, 0, i)
            pos += i + (if (done) 1 else 0)
          }
        }
        (new String(bytes.toByteArray, UTF_8), pos)
      }
      def keyOf(line: String): String = {
        val t = line.indexOf('\t')
        if (t < 0) line else line.substring(0, t)
      }
      // first line start strictly after `off`
      def nextLineStart(off: Long): Long = {
        if (off >= len) return len
        in.seek(off)
        val buf = new Array[Byte](4096)
        var pos = off
        while (true) {
          val n = in.read(buf)
          if (n < 0) return len
          var i = 0
          while (i < n) {
            if (buf(i) == '\n') return pos + i + 1
            i += 1
          }
          pos += n
        }
        len // unreachable
      }

      // offset of the first LINE START whose key >= lo (len when none),
      // plus the line start immediately before it (the straddle candidate)
      var start = 0L
      var prevStart = -1L
      lo.foreach { target =>
        // bisect byte offsets down to a small window, then scan linearly.
        // invariant: the answer line starts at or after `a`-as-a-line-
        // start; every line starting at/after `b` has key >= target OR
        // b == len
        var a = 0L
        var b = len
        while (b - a > 8192) {
          val mid = a + (b - a) / 2
          val ls = nextLineStart(mid)
          if (ls >= b) b = mid
          else {
            val (line, _) = lineAt(ls)
            if (utf8Compare(keyOf(line), target) < 0) a = ls else b = ls
          }
        }
        // linear: `a` is 0 or a line start with key < target
        var off = a
        var found = false
        while (!found && off < len) {
          val cur = lineAt(off)
          if (cur == null) { found = true; start = len }
          else if (utf8Compare(keyOf(cur._1), target) >= 0) { found = true; start = off }
          else { prevStart = off; off = cur._2 }
        }
        if (!found) start = len
      }
      val from = if (prevStart >= 0) prevStart else start
      if (from >= len) return Nil

      // stream entries from `from` until firstKey >= hi
      val out = Vector.newBuilder[IdxEntry]
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader({ in.seek(from); in }, UTF_8))
      var line = reader.readLine()
      var stop = false
      while (line != null && !stop) {
        if (line.nonEmpty) {
          val f = line.split("\t")
          if (hi.exists(h => utf8Compare(f(0), h) >= 0)) stop = true
          else out += IdxEntry(f(0), f(1), f(2).toLong, f(3).toLong, f(4).toLong)
        }
        if (!stop) line = reader.readLine()
      }
      out.result()
    } finally in.close()
  }

  /** Spark (and DuckDB) order strings by unsigned UTF-8 bytes; Java's
    * String.compareTo orders by UTF-16 code units, which INVERTS the
    * relative order of supplementary characters (U+10000+, surrogate
    * pairs) versus [U+E000, U+FFFF]. The cluster is sorted by Spark, so
    * every driver-side pruning comparison must use the byte order or a
    * prefix/range query over such keys silently drops blocks. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8)
    val y = b.getBytes(UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** THE block-pruning rule, shared by every reader (library, V2 source,
    * CdxServer pagination): keep block i when its key range
    * [firstKey_i, firstKey_i+1) can intersect [lo, hi) — conservatively
    * keeping the straddling predecessor, like pywb's idx binary search.
    * Comparisons are UTF-8 byte order (see [[utf8Compare]]). */
  def selectBlocks(
      idx: Seq[IdxEntry], lo: Option[String], hi: Option[String]): Seq[IdxEntry] =
    idx.zipAll(idx.drop(1).map(e => Some(e.firstKey)), null, None)
      .collect { case (e, nextKey) if e != null => (e, nextKey) }
      .filter { case (e, next) =>
        hi.forall(h => utf8Compare(e.firstKey, h) < 0) &&
          lo.forall(l => next.forall(nk => utf8Compare(nk, l) >= 0))
      }.map(_._1)

  /** U+10FFFF, built from the code point (no raw literal in source) */
  private[graft] val MaxCodePoint: String = new String(Character.toChars(0x10FFFF))

  /** [lo, hi) bounds for a key prefix. The upper sentinel is U+10FFFF
    * (max code point, 4-byte F4 8F BF BF): in UTF-8 byte order every
    * continuation of `prefix` sorts below it — unlike the old U+FFFF
    * sentinel (3-byte), which supplementary characters sort ABOVE.
    * (Only a key containing U+10FFFF itself at the boundary could
    * escape; U+10FFFF never appears in URLs/SURT keys.) */
  def prefixBounds(prefix: String): (Option[String], Option[String]) =
    (Some(prefix), Some(prefix + MaxCodePoint))

  /** Read lines back, pruning blocks through cluster.idx when a key prefix
    * is given. `ordered=false` skips the final global sort when the caller
    * re-orders anyway (one less range exchange). */
  def readLines(
      spark: SparkSession, dir: String, prefix: Option[String] = None,
      ordered: Boolean = true): DataFrame = {
    val selected = prefix match {
      case None => readIdx(spark, dir)
      case Some(p) =>
        // bounded lookup: binary-search the idx file, never load it
        val (lo, hi) = prefixBounds(p)
        scanIdxRange(dir, spark.sparkContext.hadoopConfiguration, lo, hi)
    }
    readBlockLines(spark, dir, selected, prefix, ordered)
  }

  /** Read exactly the given idx blocks (the pagination path — pywb zipnum
    * §pagination: a page is a run of idx blocks), filtering lines to
    * `prefix` when given. */
  def readBlockLines(
      spark: SparkSession, dir: String, selected: Seq[IdxEntry],
      prefix: Option[String], ordered: Boolean = true): DataFrame = {
    import spark.implicits._
    // sort work by (file, offset) so a partition reads each shard file
    // with ONE open handle and forward-only seeks — at object-store scale
    // this turns per-block GETs into a few ranged sequential reads
    val work = selected.map(e => (dir + "/" + e.shard, e.offset, e.length, e.seq))
      .sortBy(w => (w._1, w._2))
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1,
      math.min(work.size, math.max(32, spark.sparkContext.defaultParallelism)))
    val lines = spark.sparkContext
      .parallelize(work, slices)
      .mapPartitions { it =>
        val conf = sconf.value
        var openFile: String = null
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        val closer = () => if (in != null) in.close()
        // close on early termination (limit/exception), not just on drain
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ =>
            try closer() catch { case _: Throwable => }))
        new Iterator[(Long, Int, String)] {
          private var current: Iterator[(Long, Int, String)] = Iterator.empty
          override def hasNext: Boolean = {
            while (!current.hasNext && it.hasNext) {
              val (file, offset, length, seq) = it.next()
              if (file != openFile) {
                closer()
                val path = new Path(file)
                in = path.getFileSystem(conf).open(path)
                openFile = file
              }
              val buf = new Array[Byte](length.toInt)
              in.seek(offset); in.readFully(buf)
              val member = Gzip.members(new java.io.ByteArrayInputStream(buf)).next()
              current = new String(member.bytes, UTF_8).split("\n").iterator
                .filter(_.nonEmpty).zipWithIndex.map { case (l, i) => (seq, i, l) }
            }
            val has = current.hasNext
            if (!has) closer()
            has
          }
          override def next(): (Long, Int, String) = current.next()
        }
      }
    // stable global order: block sequence, then line position in block
    val pruned = lines.toDF("blockseq", "lineno", "line")
    val filtered = prefix match {
      case Some(p) => pruned.filter(col("line").startsWith(p))
      case None => pruned
    }
    if (ordered) filtered.orderBy("blockseq", "lineno").select("line")
    else filtered.select("line")
  }
}
