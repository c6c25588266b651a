package graft

import java.nio.file.{Files, Paths}

import graft.formats.{Gzip, ZipNum}

/** ZipNum cluster properties (SURVEY §5.2–5.3, FIXTURES §A.3):
  * gunzip(concat(blocks)) == globally sorted input; idx offsets strictly
  * increasing and length-tiling per shard; idx firstkeys are a
  * subsequence of the data; prefix reads equal a filtered full read. */
class ZipNumSpec extends SparkSpec {

  test("V2 write: Catalyst plans the exchange; cluster matches the library writer") {
    import spark.implicits._
    val dir = "/tmp/graft_test/zipnum_v2w"
    // deliberately UNSORTED input — only RequiresDistributionAndOrdering's
    // planner-inserted range exchange + sort can make the cluster valid
    val lines = (0 until 500).map(i => f"key-${(i * 131) % 500}%05d 2015 x$i")
    lines.toDF("line").repartition(7)
      .write.format("zipnum")
      .option("shards", "4").option("linesPerBlock", "50")
      .mode("overwrite").save(dir)
    val back = ZipNum.readLines(spark, dir).as[String].collect().toSeq
    assert(back == lines.sorted, "cluster must come back globally sorted")
    val idx = ZipNum.readIdx(spark, dir)
    assert(idx.map(_.firstKey) == idx.map(_.firstKey).sorted, "idx firstkeys sorted")
    assert(idx.map(_.shard).distinct.size <= 4)
    // offsets tile each shard exactly
    idx.groupBy(_.shard).foreach { case (shard, es) =>
      val sorted = es.sortBy(_.offset)
      assert(sorted.head.offset == 0)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b.offset == a.offset + a.length)
        case _ =>
      }
      val fileLen = Files.size(Paths.get(s"$dir/$shard"))
      assert(sorted.last.offset + sorted.last.length == fileLen)
    }
    // append onto an existing cluster refuses (the toBatch guard — the
    // default ErrorIfExists mode is rejected earlier by Spark itself)
    val e = intercept[Exception] {
      lines.toDF("line").write.format("zipnum")
        .option("shards", "4").option("linesPerBlock", "50")
        .mode("append").save(dir)
    }
    assert(messages(e).exists(_.contains("already exists")), messages(e).mkString(" | "))
  }

  /** the message of `e` and of every cause below it */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  private def freshDir(d: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.mkdirs(p)
  }

  private def listing(d: String): Seq[String] =
    Option(new java.io.File(d).list()).toSeq.flatten.sorted

  private lazy val sconf =
    new graft.formats.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)

  test("a non-STRING 'line' fails at planning with the V2 builder's message") {
    import spark.implicits._
    val e = intercept[Exception](
      ZipNum.write(Seq(1, 2).toDF("line"), "/tmp/graft_test/zipnum_int", 1, 10))
    assert(messages(e).exists(_.contains("'line' must be STRING")), messages(e).mkString(" | "))
  }

  test("a failed write leaves no cluster.idx, side idx or attempt temp; a rerun == a fresh write") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val dir = "/tmp/graft_test/zipnum_failed"
    val fresh = "/tmp/graft_test/zipnum_failed_fresh"
    val lines = (0 until 400).map(i => f"k${(i * 131) % 400}%04d 2015 x$i")
    ZipNum.write(lines.toDF("line"), dir, shards = 4, linesPerBlock = 10) // a previous cluster
    val poisoned = lines(237) // record k, in exactly one input partition
    val boom = udf { (l: String) =>
      if (l == poisoned) throw new IllegalStateException("injected failure") else l
    }
    val e = intercept[Exception](ZipNum.write(
      lines.toDF("raw").repartition(4).select(boom(col("raw")).as("line")),
      dir, shards = 4, linesPerBlock = 10))
    assert(messages(e).exists(_.contains("injected failure")), messages(e).mkString(" | "))
    val left = listing(dir)
    assert(!left.exists(n => n == "cluster.idx" || n.startsWith(".idx-") || n.contains(".attempt-")),
      s"failed write left: $left")
    ZipNum.write(lines.toDF("line"), dir, shards = 4, linesPerBlock = 10)
    ZipNum.write(lines.toDF("line"), fresh, shards = 4, linesPerBlock = 10)
    // lines, not bytes: the RangePartitioner seeds its sample from the RDD
    // id, so shard bounds may differ between two writes in one session
    assert(ZipNum.readLines(spark, dir).as[String].collect().toSeq ==
      ZipNum.readLines(spark, fresh).as[String].collect().toSeq)
  }

  test("job abort deletes every shard and side idx the committed tasks published") {
    import graft.sources.{ZipNumBatchWrite, ZipNumDataWriter}
    val d = "/tmp/graft_test/zipnum_abort"
    freshDir(d)
    val committed = (0 until 3).map { pid =>
      val w = new ZipNumDataWriter(d, pid, taskId = 10L + pid, 0, 10, sconf)
      (0 until 35).foreach(i => w.add(f"k$pid$i%03d 2015 x"))
      w.commit()
    }
    assert(listing(d).count(_.matches("cdx-\\d+\\.gz")) == 3, listing(d))
    // pid 2 published after the job failed, so the scheduler dropped its
    // message; pid 3's attempt failed. Both slots reach the abort as null.
    new ZipNumBatchWrite(d, 0, 10, sconf).abort(Array(committed(0), committed(1), null, null))
    assert(listing(d).isEmpty, s"abort left: ${listing(d)}")
  }

  test("duplicate attempts of one shard publish one byte-identical shard, in either commit order") {
    import graft.sources.ZipNumDataWriter
    val lines = (0 until 250).map(i => f"k$i%04d 2015 x$i")
    // 25 blocks: both attempts hold open temps while the other writes
    def attempt(d: String, taskId: Long): ZipNumDataWriter = {
      val w = new ZipNumDataWriter(d, 0, taskId, 0, 10, sconf)
      lines.foreach(w.add)
      w
    }
    def bytes(d: String, name: String): Seq[Byte] =
      Files.readAllBytes(Paths.get(d, name)).toSeq
    val single = "/tmp/graft_test/zipnum_dup_single"
    freshDir(single)
    attempt(single, 1L).commit()
    for ((order, i) <- Seq(Seq(1L, 2L), Seq(2L, 1L)).zipWithIndex) {
      val d = s"/tmp/graft_test/zipnum_dup_$i"
      freshDir(d)
      order.map(attempt(d, _)).foreach(_.commit())
      val names = listing(d)
      assert(!names.exists(_.contains(".attempt-")), s"order $order left temps: $names")
      assert(names.filterNot(_.endsWith(".crc")) == Seq(".idx-00000", "cdx-00000.gz"), names)
      for (n <- Seq(".idx-00000", "cdx-00000.gz"))
        assert(bytes(d, n) == bytes(single, n), s"order $order: $n differs from one attempt")
    }
  }

  test("block pruning compares keys in UTF-8 byte order, not UTF-16") {
    import graft.formats.ZipNum
    import graft.formats.ZipNum.IdxEntry
    // Java String order puts the surrogate-pair emoji BEFORE U+E000;
    // UTF-8 byte order — the order Spark sorted the cluster in — puts it
    // after. Pruning with String comparisons dropped the matching block.
    val k1 = "com,a)\uE000x"       // U+E000, 3-byte EE 80 80
    val k2 = "com,a)\uD83D\uDE00y" // U+1F600, 4-byte F0 9F 98 80
    assert(k2 < k1, "precondition: UTF-16 order inverts these keys")
    assert(ZipNum.utf8Compare(k1, k2) < 0, "byte order is the real sort order")
    val idx = Seq(IdxEntry(k1, "s", 0, 10, 0), IdxEntry(k2, "s", 10, 10, 1))
    val (lo, hi) = ZipNum.prefixBounds("com,a)\uE000")
    assert(ZipNum.selectBlocks(idx, lo, hi).map(_.seq) == Seq(0L),
      "the block physically holding the matching key must survive pruning")
    // emoji prefix: block 1 plus the conservative straddling predecessor
    val (lo2, hi2) = ZipNum.prefixBounds("com,a)\uD83D\uDE00")
    assert(ZipNum.selectBlocks(idx, lo2, hi2).map(_.seq) == Seq(0L, 1L))
  }
  import spark.implicits._

  private val dir = "/tmp/graft_test/zipnum"

  private lazy val inputLines: Seq[String] = {
    val rnd = new scala.util.Random(7)
    (1 to 2357).map { i =>
      val host = s"host${rnd.nextInt(20)}"
      f"org,$host)/p/${rnd.nextInt(100)}%03d 2015${rnd.nextInt(12) + 1}%02d01000000 " +
        s"""{"url": "http://$host.org/", "n": "$i"}"""
    }
  }

  private lazy val written: Unit = {
    val df = inputLines.toDF("line")
    ZipNum.write(df, dir, shards = 5, linesPerBlock = 37)
  }

  test("gunzip(concat(shards in order)) == sorted(input)") {
    written
    val idx = ZipNum.readIdx(spark, dir)
    val shardFiles = idx.map(_.shard).distinct.sorted
    val all = shardFiles.flatMap { sh =>
      val bytes = Files.readAllBytes(Paths.get(dir, sh))
      Gzip.members(new java.io.ByteArrayInputStream(bytes))
        .flatMap(m => new String(m.bytes, "UTF-8").split("\n").filter(_.nonEmpty))
        .toSeq
    }
    assert(all == inputLines.sorted)
  }

  test("mergeSorted == merge: exchange-free compaction is lossless and ordered") {
    // two disjoint sorted generations (odd/even split), merged both ways:
    // the shuffle-free k-way merge must read back EXACTLY what the
    // re-range-exchange merge produces — same lines, same global order —
    // and its output must satisfy the same idx invariants
    val (a, b) = inputLines.partition(_.hashCode % 2 == 0)
    val dirA = "/tmp/graft_test/zipnum_msrt_a"
    val dirB = "/tmp/graft_test/zipnum_msrt_b"
    val viaShuffle = "/tmp/graft_test/zipnum_msrt_shuffle"
    val viaMerge = "/tmp/graft_test/zipnum_msrt_kway"
    ZipNum.write(a.toDF("line"), dirA, shards = 3, linesPerBlock = 37)
    ZipNum.write(b.toDF("line"), dirB, shards = 4, linesPerBlock = 41)
    ZipNum.merge(spark, Seq(dirA, dirB), viaShuffle, shards = 5, linesPerBlock = 29)
    ZipNum.mergeSorted(spark, Seq(dirA, dirB), viaMerge, shards = 5, linesPerBlock = 29)
    val expect = ZipNum.readLines(spark, viaShuffle).as[String].collect().toSeq
    val got = ZipNum.readLines(spark, viaMerge).as[String].collect().toSeq
    assert(got == expect, s"k-way merge diverged: ${got.size} vs ${expect.size} lines")
    // idx invariants hold on the merged output: seq dense, keys sorted,
    // offsets tile each shard
    val idx = ZipNum.readIdx(spark, viaMerge)
    assert(idx.map(_.seq) == idx.indices.map(_.toLong))
    assert(idx.map(_.firstKey) == idx.map(_.firstKey).sorted)
    idx.groupBy(_.shard).foreach { case (sh, entries) =>
      val sorted = entries.sortBy(_.offset)
      assert(sorted.head.offset == 0)
      sorted.sliding(2).foreach {
        case Seq(x, y) => assert(y.offset == x.offset + x.length)
        case _ =>
      }
    }
    // a single-input "merge" is a pure re-shard of a sorted cluster
    val reshard = "/tmp/graft_test/zipnum_msrt_reshard"
    ZipNum.mergeSorted(spark, Seq(dirA), reshard, shards = 2, linesPerBlock = 100)
    val re = ZipNum.readLines(spark, reshard).as[String].collect().toSeq
    assert(re == a.sorted(ZipNum.utf8Ordering), "re-shard must preserve content and order")
  }

  test("mergeSorted takedown: excluded prefixes leave the index; output == filtered write") {
    val (a, b) = inputLines.partition(_.hashCode % 2 == 0)
    val dirA = "/tmp/graft_test/zipnum_td_a"
    val dirB = "/tmp/graft_test/zipnum_td_b"
    val taken = "/tmp/graft_test/zipnum_td_out"
    val direct = "/tmp/graft_test/zipnum_td_direct"
    ZipNum.write(a.toDF("line"), dirA, shards = 3, linesPerBlock = 37)
    ZipNum.write(b.toDF("line"), dirB, shards = 4, linesPerBlock = 41)
    // tombstone a real urlkey prefix present in the fixture lines
    val prefix = inputLines.head.takeWhile(_ != '/') // e.g. "com,example..." up to the path
    val excl = Seq(prefix)
    ZipNum.mergeSorted(spark, Seq(dirA, dirB), taken,
      shards = 5, linesPerBlock = 29, excludePrefixes = excl)
    val kept = inputLines.filterNot(l => excl.exists(l.startsWith))
    assert(kept.size < inputLines.size, "the tombstone must hit something")
    // byte-equal to building the index from the retained lines directly
    ZipNum.write(kept.toDF("line"), direct, shards = 5, linesPerBlock = 29)
    val got = ZipNum.readLines(spark, taken).as[String].collect().toSeq
    val expect = ZipNum.readLines(spark, direct).as[String].collect().toSeq
    assert(got == expect, s"takedown merge diverged: ${got.size} vs ${expect.size} lines")
    // the purged prefix is GONE from the serving surface
    assert(!got.exists(_.startsWith(prefix)))
  }

  test("idx: offsets tile each shard; blocks <= linesPerBlock; firstkeys sorted") {
    written
    val idx = ZipNum.readIdx(spark, dir)
    // global seq strictly increasing and firstkeys non-decreasing in seq order
    assert(idx.map(_.seq) == idx.indices.map(_.toLong))
    assert(idx.map(_.firstKey) == idx.map(_.firstKey).sorted)
    idx.groupBy(_.shard).foreach { case (sh, entries) =>
      val sorted = entries.sortBy(_.offset)
      assert(sorted.head.offset == 0)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b.offset == a.offset + a.length)
        case _ =>
      }
      val fileLen = Files.size(Paths.get(dir, sh))
      assert(sorted.last.offset + sorted.last.length == fileLen)
    }
    // every block holds <= linesPerBlock lines, and firstkey comes from data
    val keys = inputLines.map(_.split(" ", 3).take(2).mkString(" ")).toSet
    idx.foreach(e => assert(keys.contains(e.firstKey)))
  }

  test("scanIdxRange == selectBlocks(readIdx) for every bound shape") {
    import spark.implicits._
    val dir = "/tmp/graft_test/zipnum_idxscan"
    // keys engineered so bounds land before, on, between, and after
    // entry firstkeys; small blocks -> many idx lines
    val lines = (0 until 900).map(i => f"k${(i * 389) % 900}%04d 2015 payload$i")
    ZipNum.write(lines.toDF("line"), dir, shards = 5, linesPerBlock = 7)
    val conf = spark.sparkContext.hadoopConfiguration
    val full = ZipNum.readIdx(spark, dir)
    assert(full.size > 100, s"want a dense idx, got ${full.size}")
    val keys = full.map(_.firstKey)
    val probes: Seq[Option[String]] =
      Seq(None, Some(""), Some("a"), Some("zzzz"), // below-all / above-all
        Some(keys(keys.size / 3)), // exact firstkey hit
        Some(keys(keys.size / 2) + "0"), // between firstkeys
        Some("k0500"), Some("k0500 2015"), Some("k089")) // prefix shapes
    for (lo <- probes; hi <- probes) {
      val expect = ZipNum.selectBlocks(full, lo, hi)
      val got = ZipNum.scanIdxRange(dir, conf, lo, hi)
      assert(got == expect, s"lo=$lo hi=$hi: got ${got.size}, want ${expect.size}")
    }
  }

  test("scanIdxRange survives idx lines longer than its read chunk (multibyte keys)") {
    import spark.implicits._
    val dir = "/tmp/graft_test/zipnum_longkeys"
    // keys ~320 chars with an astral char planted EVERY position in the
    // tail, so some 4-byte UTF-8 sequence straddles any fixed chunk
    // boundary a byte-chunked line reader could pick
    val astral = new String(Character.toChars(0x1F600))
    val lines = (0 until 120).map { i =>
      val pad = ("p" + astral).*(60) // ~300 bytes of alternating multibyte
      f"key$i%03d/$pad 2015 x$i"
    }
    ZipNum.write(lines.toDF("line"), dir, shards = 2, linesPerBlock = 3)
    val conf = spark.sparkContext.hadoopConfiguration
    val full = ZipNum.readIdx(spark, dir)
    for (probe <- Seq(Some("key040"), Some("key0"), Some("key119"), None)) {
      val hi = probe.map(_ + ZipNum.MaxCodePoint)
      assert(ZipNum.scanIdxRange(dir, conf, probe, hi)
        == ZipNum.selectBlocks(full, probe, hi), s"probe=$probe")
    }
  }

  test("scanIdxRange at scale: 100k-entry idx, point lookups stay O(result)") {
    val dir = "/tmp/graft_test/zipnum_bigidx"
    Files.createDirectories(Paths.get(dir))
    val n = 100000
    val sb = new java.lang.StringBuilder(n * 40)
    (0 until n).foreach { i =>
      sb.append(f"k$i%07d 2015\tcdx-00000.gz\t${i * 1000L}%d\t1000\t$i%d\n")
    }
    Files.writeString(Paths.get(s"$dir/cluster.idx"), sb.toString)
    Files.deleteIfExists(Paths.get(s"$dir/.cluster.idx.crc"))
    val conf = spark.sparkContext.hadoopConfiguration
    val full = ZipNum.readIdx(spark, dir)
    assert(full.size == n)
    // probes at the ends, middle, and out of range agree with the
    // in-memory rule on a file two orders bigger than the bisect window
    for (probe <- Seq("k0000000", "k0049999", "k0050000", "k0099999", "a", "z")) {
      val (lo, hi) = ZipNum.prefixBounds(probe)
      assert(ZipNum.scanIdxRange(dir, conf, lo, hi)
        == ZipNum.selectBlocks(full, lo, hi), s"probe=$probe")
    }
    // a point lookup materializes a couple of entries, not the idx
    val one = ZipNum.scanIdxRange(
      dir, conf, Some("k0050000"), Some("k0050000" + ZipNum.MaxCodePoint))
    assert(one.size <= 2 && one.exists(_.firstKey.startsWith("k0050000")))
  }

  test("idx without a trailing newline parses identically in both paths") {
    import spark.implicits._
    val dir = "/tmp/graft_test/zipnum_notrail"
    val lines = (0 until 60).map(i => f"k$i%03d 2015 x$i")
    ZipNum.write(lines.toDF("line"), dir, shards = 2, linesPerBlock = 5)
    // strip the trailing newline, as a foreign writer might
    val p = Paths.get(s"$dir/cluster.idx")
    val bytes = Files.readAllBytes(p)
    assert(bytes.last == '\n')
    Files.write(p, bytes.dropRight(1))
    // drop the local-FS checksum sidecar invalidated by the NIO rewrite
    Files.deleteIfExists(Paths.get(s"$dir/.cluster.idx.crc"))
    val conf = spark.sparkContext.hadoopConfiguration
    val full = ZipNum.readIdx(spark, dir)
    assert(full.size == lines.size / 5)
    for (lo <- Seq(None, Some("k045"), Some("k058"))) {
      val hi = lo.map(_ + ZipNum.MaxCodePoint)
      assert(ZipNum.scanIdxRange(dir, conf, lo, hi)
        == ZipNum.selectBlocks(full, lo, hi), s"lo=$lo")
    }
  }

  test("no idx side files or attempt temps survive a write (library or V2)") {
    import spark.implicits._
    val d1 = "/tmp/graft_test/zipnum_clean1"
    val d2 = "/tmp/graft_test/zipnum_clean2"
    val d3 = "/tmp/graft_test/zipnum_clean3"
    val lines = (0 until 100).map(i => f"k$i%03d 2015 x$i")
    ZipNum.write(lines.toDF("line"), d1, shards = 3, linesPerBlock = 10)
    lines.toDF("line").write.format("zipnum")
      .option("shards", "3").option("linesPerBlock", "10")
      .mode("overwrite").save(d2)
    ZipNum.mergeSorted(spark, Seq(d1, d2), d3, shards = 2, linesPerBlock = 10)
    for (d <- Seq(d1, d2, d3)) {
      val names = new java.io.File(d).list().toSeq
      assert(names.contains("cluster.idx"), s"$d: $names")
      assert(!names.exists(n => n.startsWith(".idx-") || n.contains(".attempt-")),
        s"uncommitted side/temp files left in $d: $names")
    }
  }

  test("assembleIdx is atomic: a failed assembly never touches the serving idx") {
    import spark.implicits._
    val d = "/tmp/graft_test/zipnum_atomic"
    val lines = (0 until 60).map(i => f"k$i%03d 2015 x$i")
    ZipNum.write(lines.toDF("line"), d, shards = 2, linesPerBlock = 10)
    val idxFile = new java.io.File(d, "cluster.idx")
    val goodIdx = java.nio.file.Files.readAllBytes(idxFile.toPath)
    // fabricate one side file, then ask for an assembly that also needs a
    // MISSING one: must throw and leave the good idx byte-identical
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, ZipNum.sideIdxName(0)),
      "k000 2015\tcdx-00000.gz\t0\t10\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      ZipNum.assembleIdx(fs, new org.apache.hadoop.fs.Path(d), Seq(0, 1)))
    assert(java.nio.file.Files.readAllBytes(idxFile.toPath).sameElements(goodIdx),
      "failed assembly must not modify the serving cluster.idx")
    // the present side file survives for a retry; no temp remains
    val names = new java.io.File(d).list().toSeq
    assert(names.contains(ZipNum.sideIdxName(0)), names.toString)
    assert(!names.exists(_.contains(".assembling")), names.toString)
    fs.delete(new org.apache.hadoop.fs.Path(d, ZipNum.sideIdxName(0)), false)
  }

  test("full read returns sorted input; prefix read == filtered full read") {
    written
    val full = ZipNum.readLines(spark, dir).as[String].collect().toSeq
    assert(full == inputLines.sorted)
    val p = "org,host1)"
    val pruned = ZipNum.readLines(spark, dir, Some(p)).as[String].collect().toSeq
    assert(pruned == inputLines.sorted.filter(_.startsWith(p)))
    assert(pruned.nonEmpty)
  }

  test("prefix pruning touches fewer blocks than a full read") {
    written
    val idx = ZipNum.readIdx(spark, dir)
    val p = "org,host1)"
    // mirror of readLines' selection logic
    val hi = p + "￿"
    val selected = idx.zipAll(idx.drop(1).map(e => Some(e.firstKey)), null, None)
      .collect { case (e, next) if e != null => (e, next) }
      .count { case (e, next) => e.firstKey < hi && next.forall(_ >= p) }
    assert(selected > 0 && selected < idx.size)
  }
}
