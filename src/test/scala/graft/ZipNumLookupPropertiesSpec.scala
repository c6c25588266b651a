package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.formats.{Gzip, ZipNum}
import graft.sources.ZipNumScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Lookup properties of the one ZipNum block reader, over seeded random
  * clusters (plain ScalaCheck generators at fixed seeds, no shrinking).
  * Keys mix SURT punctuation with characters in [U+E000, U+FFFF] and in
  * the supplementary planes, the two ranges whose relative order UTF-16
  * inverts. For random `linesPerBlock`, shard counts and prefixes, each
  * read path must equal a brute-force filter of the input sorted in
  * UTF-8 byte order (the cluster's order):
  *  - `ZipNum.readLines(prefix)`, lines and order
  *  - `format("zipnum")` filtered by `urlkey startsWith`, as a multiset
  *  - the pages of `CdxServer.page`, concatenated in page order
  *  - `mergeSorted` of two halves, read back whole
  *
  * The rows the block reader builds from line bytes must be the rows of
  * the `String` path (decode the block, split it on `\n`, split each line
  * with `split(" ", 3)`), byte for byte, for lines of every shape that
  * split treats specially and for lines that are not well-formed UTF-8;
  * and a read with a urlkey prefix must equal the full read filtered by
  * `urlkey startsWith` (by `urlkey ==` for an exact-key read).
  *
  * Every sort-shaped `CdxServer` lookup must equal a brute-force filter
  * and stable sort of the cluster's lines, both over a cluster of few
  * blocks, where it is evaluated on the driver, and over the same lines at
  * one line per block, where its selection takes the parallel scan.
  */
class ZipNumLookupPropertiesSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import ZipNumLookupPropertiesSpec.Trial

  private val base = "/tmp/graft_test/zipnum_props"

  // one key character per element, so a prefix never splits a surrogate pair
  private val keyChar: Gen[String] = Gen.oneOf(
    "a", "b", ",", ")", "/", "\uE000", "\uFF61", "\uFFFF",
    new String(Character.toChars(0x10000)), new String(Character.toChars(0x1F600)))
  private val keyChars: Gen[List[String]] =
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, keyChar))

  private val trial: Gen[Trial] = for {
    n <- Gen.choose(100, 400)
    keys <- Gen.listOfN(n, keyChars)
    tss <- Gen.listOfN(n, Gen.choose(0L, 9999999999L))
    shards <- Gen.choose(1, 4)
    linesPerBlock <- Gen.choose(1, 12)
    mergedShards <- Gen.choose(1, 4)
    mergedLinesPerBlock <- Gen.choose(1, 12)
    // prefixes of input keys (hits) and fresh keys (mostly misses)
    hits <- Gen.listOfN(3, Gen.oneOf(keys).flatMap(k => Gen.choose(1, k.size).map(k.take(_).mkString)))
    fresh <- Gen.listOfN(2, keyChars.map(_.mkString))
    blocksPerPage <- Gen.choose(1, 70)
  } yield {
    val lines = keys.zip(tss).zipWithIndex.map { case ((k, ts), i) =>
      f"${k.mkString} 2000$ts%010d {\"i\":$i}"
    }
    Trial(lines, shards, linesPerBlock, mergedShards, mergedLinesPerBlock,
      "" +: (hits ++ fresh), blocksPerPage)
  }

  private def triple(u: String, ts: String, json: String): String = s"$u $ts $json"

  /** `got == expect`, failing with the first difference, not both seqs */
  private def same(got: Seq[String], expect: Seq[String], what: String): Unit =
    if (got != expect) {
      val i = got.zip(expect).indexWhere { case (g, e) => g != e }
      val at = if (i >= 0) i else math.min(got.size, expect.size)
      fail(s"$what: ${got.size} lines, expected ${expect.size}; first difference at $at: " +
        s"${got.lift(at)} vs ${expect.lift(at)}")
    }

  test("readLines, format(zipnum), CdxServer.page and mergeSorted equal a brute-force filter") {
    val conf = spark.sparkContext.hadoopConfiguration
    // clusters with more blocks than one task reads: their "" prefix
    // takes the multi-task split of every read path
    var wide = 0
    (0 until 4).foreach { i =>
      val seed = 20261019L + i
      val t = trial.pureApply(Gen.Parameters.default, Seed(seed))
      val ctx = s"seed=$seed linesPerBlock=${t.linesPerBlock} shards=${t.shards}"
      val sorted = t.lines.sorted(ZipNum.utf8Ordering)
      val dir = s"$base/t$i/direct"
      ZipNum.write(t.lines.toDF("line"), dir, t.shards, t.linesPerBlock)
      if (ZipNum.readIdx(dir, conf).size > graft.sources.ZipNumScan.BlocksPerPartition) wide += 1
      val server = new CdxServer(spark, dir)
      t.prefixes.foreach { p =>
        val expect = sorted.filter(_.startsWith(p))
        val at = s"$ctx prefix='$p'"

        val read = ZipNum.readLines(spark, dir, Some(p)).as[String].collect().toSeq
        same(read, expect, s"readLines: $at")

        val scanned = spark.read.format("zipnum").load(dir)
          .filter(col("urlkey").startsWith(p)).select("urlkey", "ts", "json")
          .as[(String, String, String)].collect().map((triple _).tupled).toSeq
        same(scanned.sorted(ZipNum.utf8Ordering), expect, s"format(zipnum): $at")

        // at most 8 pages, so a wide selection stays a few jobs
        val blocks = server.numPages(p, 1)
        val perPage = math.max(t.blocksPerPage, ((blocks + 7) / 8).toInt)
        val paged = (0L until server.numPages(p, perPage)).flatMap { n =>
          server.page(p, perPage, n.toInt).as[(String, String, String)].collect()
            .map((triple _).tupled)
        }
        same(paged, expect, s"page (blocksPerPage=$perPage): $at")
      }

      val (a, b) = t.lines.zipWithIndex.partition(_._2 % 2 == 0)
      val dirA = s"$base/t$i/a"
      val dirB = s"$base/t$i/b"
      val merged = s"$base/t$i/merged"
      ZipNum.write(a.map(_._1).toDF("line"), dirA, t.shards, t.linesPerBlock)
      ZipNum.write(b.map(_._1).toDF("line"), dirB, t.mergedShards, t.mergedLinesPerBlock)
      ZipNum.mergeSorted(spark, Seq(dirA, dirB), merged, t.mergedShards, t.mergedLinesPerBlock)
      val back = ZipNum.readLines(spark, merged).as[String].collect().toSeq
      same(back, sorted, s"mergeSorted read-back: $ctx")
    }
    assert(wide > 0, "no trial exercised the multi-task split")
  }

  // byte sequences the JDK's UTF-8 decoder replaces: a stray continuation,
  // overlong forms, an encoded surrogate, truncated sequences, a code point
  // above U+10FFFF and bytes that never occur in UTF-8
  private val malformed: Gen[Array[Byte]] = Gen.oneOf(
    Seq(0x80), Seq(0xc0, 0x80), Seq(0xc1, 0xbf), Seq(0xe0, 0x80, 0x80), Seq(0xed, 0xa0, 0x80),
    Seq(0xe2, 0x82), Seq(0xf0, 0x9f, 0x98), Seq(0xf4, 0x90, 0x80, 0x80), Seq(0xfe), Seq(0xff)
  ).map(_.map(_.toByte).toArray)

  /** key characters, one time in five with malformed bytes among them */
  private val field: Gen[Array[Byte]] = for {
    cs <- keyChars
    bad <- Gen.frequency(4 -> Gen.const(Array.emptyByteArray), 1 -> malformed)
    at <- Gen.choose(0, cs.size)
  } yield cs.take(at).mkString.getBytes(UTF_8) ++ bad ++ cs.drop(at).mkString.getBytes(UTF_8)

  /** one line, in each shape `split(" ", 3)` treats specially; one in ten
    * is longer than the decoder's 8 KB chunk */
  private val rawLine: Gen[Array[Byte]] = for {
    k <- field
    ts <- field
    json <- field
    shape <- Gen.choose(0, 7)
    pad <- Gen.frequency(9 -> Gen.const(0), 1 -> Gen.choose(8200, 20000))
  } yield {
    val sp = Array[Byte](' ')
    (shape match {
      case 0 => k // no space
      case 1 => k ++ sp ++ ts // one space
      case 2 => k ++ sp ++ ts ++ sp ++ json
      case 3 => k ++ sp ++ sp ++ ts // double space
      case 4 => k ++ sp // trailing space after the urlkey
      case 5 => k ++ sp ++ ts ++ sp // trailing space: json ""
      case 6 => sp ++ ts ++ sp ++ json // empty urlkey
      case _ => k ++ sp ++ ts ++ sp ++ json ++ sp ++ json // a space inside json
    }) ++ Array.fill[Byte](pad)('j')
  }

  /** block payloads: runs of lines joined by `\n`, some with an empty
    * line in them and some without a final `\n` */
  private val payloads: Gen[List[Array[Byte]]] = Gen.choose(20, 40).flatMap(n =>
    Gen.listOfN(n, for {
      lines <- Gen.choose(1, 40).flatMap(Gen.listOfN(_, rawLine))
      blank <- Gen.frequency(4 -> false, 1 -> true)
      last <- Gen.oneOf(true, false)
    } yield {
      val joined = lines.map(_ ++ Array[Byte]('\n')).reduce(_ ++ _)
      val withBlank = if (blank) joined ++ Array[Byte]('\n') ++ joined else joined
      if (last) withBlank else withBlank.dropRight(1)
    }))

  /** cuts of key-character runs, mostly hits */
  private val rowPrefixes: Gen[List[String]] =
    Gen.listOfN(5, keyChars.flatMap(cs => Gen.choose(1, cs.size).map(cs.take(_).mkString)))

  /** prefixes the reader cannot test on raw bytes: U+FFFD, which the
    * urlkey of a malformed line can start with once decoded, and an
    * unpaired high surrogate, which starts a U+1F600 urlkey as a String */
  private val stringOnlyPrefixes = Seq("\uFFFD", "a\uFFFD", "\uD83D")

  test("readRows with a prefix equals readRows filtered by urlkey, both equal to the String path") {
    val conf = spark.sparkContext.hadoopConfiguration
    val all = Array("urlkey", "ts", "json", "blockseq")
    val projections = Seq(all, Array("urlkey"), Array("ts", "json"), Array("blockseq"), Array.empty[String])
    var malformedLines = 0
    var longLines = 0
    var stringOnlyHits = 0
    var exactHits = 0
    (0 until 4).foreach { i =>
      val seed = 20261020L + i
      val blocks = payloads.pureApply(Gen.Parameters.default, Seed(seed))
      val prefixes = ("" :: rowPrefixes.pureApply(Gen.Parameters.default, Seed(seed + 100))) ++
        stringOnlyPrefixes
      // two shards, blocks alternating between them, read shard by shard
      val dir = s"$base/rows$i"
      Files.createDirectories(Paths.get(dir))
      val outs = Seq(new java.io.ByteArrayOutputStream, new java.io.ByteArrayOutputStream)
      val entries = blocks.zipWithIndex.map { case (payload, seq) =>
        val out = outs(seq % 2)
        val offset = out.size.toLong
        val length = Gzip.writeMember(out, payload)
        ZipNum.IdxEntry("", s"cdx-0000${seq % 2}.gz", offset, length, seq.toLong)
      }.sortBy(e => (e.shard, e.seq))
      outs.zipWithIndex.foreach { case (o, s) =>
        Files.write(Paths.get(dir, s"cdx-0000$s.gz"), o.toByteArray)
      }
      // the String path: the block decoded whole, split on \n, each line
      // split(" ", 3), one value per field of `all`
      val expected: Seq[Seq[Any]] = entries.flatMap { e =>
        val payload = blocks(e.seq.toInt)
        new String(payload, UTF_8).split("\n").filter(_.nonEmpty).toSeq.map { l =>
          val parts = l.split(" ", 3)
          Seq(Some(parts(0)), parts.lift(1), parts.lift(2)).map(_.map(_.getBytes(UTF_8).toSeq)) :+ e.seq
        }
      }
      blocks.foreach { b =>
        val ls = new String(b, UTF_8).split("\n")
        malformedLines += ls.count(_.contains('\uFFFD'))
        longLines += ls.count(_.length > 8192)
      }
      def read(fields: Array[String], prefix: Option[String]): Seq[Seq[Any]] =
        ZipNumScan.readRows(dir, entries, fields, conf, prefix).map { r =>
          fields.indices.map { f =>
            if (fields(f) == "blockseq") r.getLong(f)
            else Option(r.getUTF8String(f)).map(_.getBytes.toSeq)
          }
        }
      def project(rows: Seq[Seq[Any]], fields: Array[String]): Seq[Seq[Any]] =
        rows.map(r => fields.toSeq.map(f => r(all.indexOf(f))))
      def urlkey(r: Seq[Any]): String =
        new String(r.head.asInstanceOf[Option[Seq[Byte]]].get.toArray, UTF_8)

      val whole = read(all, None)
      assert(whole == expected, s"seed=$seed: rows differ from the String path")
      prefixes.foreach { p =>
        val under = expected.filter(urlkey(_).startsWith(p))
        if (stringOnlyPrefixes.contains(p)) stringOnlyHits += under.size
        assert(read(all, Some(p)) == under, s"seed=$seed prefix='$p'")
        assert(whole.filter(urlkey(_).startsWith(p)) == under, s"seed=$seed prefix='$p'")
        projections.foreach { fields =>
          assert(read(fields, Some(p)) == project(under, fields),
            s"seed=$seed prefix='$p' fields=${fields.mkString(",")}")
        }
        // the exact-key read: only lines whose urlkey is `p` itself
        val exact = ZipNumScan.readRows(dir, entries, all, conf, Some(p), exact = true)
          .map(r => all.indices.map { f =>
            if (f == 3) r.getLong(f) else Option(r.getUTF8String(f)).map(_.getBytes.toSeq)
          })
        assert(exact == expected.filter(urlkey(_) == p), s"seed=$seed exact key='$p'")
        exactHits += exact.size
      }
    }
    assert(malformedLines > 0 && longLines > 0 && stringOnlyHits > 0 && exactHits > 0,
      s"$malformedLines malformed lines, $longLines long lines, $stringOnlyHits rows under " +
        s"U+FFFD/surrogate prefixes, $exactHits exact-key rows")
  }

  // timestamps of every kind a cluster can hold: valid, calendar-invalid
  // (month 13, Feb 30, Feb 29 of a common year, hour 25) and malformed
  private val validTs: Gen[String] =
    Gen.choose(946684800L, 1893456000L).map(e => ZipNumLookupPropertiesSpec.Ts14.format(
      java.time.Instant.ofEpochSecond(e)))
  private val anyTs: Gen[String] = Gen.frequency(
    8 -> validTs,
    1 -> Gen.oneOf("20201301000000", "20200230120000", "20210229000000", "20200101250000"),
    1 -> Gen.oneOf("2020", "abcdefghijklmn", "2020010100000x", "2020-01-01T00"))

  /** a host of one to three labels, and a key under it */
  private val hostGen: Gen[String] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "\uE000",
      new String(Character.toChars(0x1F600))))).map(_.mkString(","))
  private def keyUnder(host: String): Gen[String] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, keyChar)).map(p => host + ")/" + p.mkString)

  /** one capture line: 1, 2 (json NULL) or 3 fields */
  private def lineOf(key: String): Gen[String] = for {
    ts <- anyTs
    fields <- Gen.frequency(1 -> 1, 2 -> 2, 12 -> 3)
    n <- Gen.choose(0, 9)
  } yield fields match {
    case 1 => key
    case 2 => s"$key $ts"
    case _ => s"""$key $ts {"n":$n}"""
  }

  private val lookupTrial: Gen[(List[String], List[String])] = for {
    hosts <- Gen.listOfN(3, hostGen)
    hot <- Gen.sequence[List[String], String](hosts.map(keyUnder))
    hotLines <- Gen.sequence[List[List[String]], List[String]](hot.map(k =>
      Gen.choose(70, 110).flatMap(n => Gen.listOfN(n, lineOf(k)))))
    coldKeys <- Gen.listOfN(120,
      Gen.oneOf(keyChars.map(_.mkString), Gen.oneOf(hosts).flatMap(keyUnder)))
    coldLines <- Gen.sequence[List[List[String]], List[String]](coldKeys.map(k =>
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, lineOf(k)))))
    // (urlkey, ts) peers: copies of hot lines under another json
    dups <- Gen.listOfN(30, Gen.oneOf(hotLines.flatten).map(l =>
      l.split(" ", 3).take(2).mkString(" ") + " {\"dup\":1}"))
  } yield (hosts, hotLines.flatten ++ coldLines.flatten ++ dups)

  test("sort-shaped lookups equal a brute-force filter on the driver-local and the parallel path") {
    import ZipNumLookupPropertiesSpec.{Cap, epoch}
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val conf = spark.sparkContext.hadoopConfiguration
    var parallel = 0
    (0 until 3).foreach { i =>
      val seed = 20261021L + i
      val (hosts, lines) = lookupTrial.pureApply(Gen.Parameters.default, Seed(seed))
      val caps = lines.sorted(ZipNum.utf8Ordering).map(Cap(_))
      val local = s"$base/lookup$i/local"
      val wide = s"$base/lookup$i/wide"
      ZipNum.write(lines.toDF("line"), local, shards = 1, linesPerBlock = (lines.size + 39) / 40)
      ZipNum.write(lines.toDF("line"), wide, shards = 2, linesPerBlock = 1)
      assert(ZipNum.readIdx(local, conf).size <= ZipNumScan.BlocksPerPartition)
      val servers = Seq(local -> new CdxServer(spark, local), wide -> new CdxServer(spark, wide))
      val r = new scala.util.Random(seed)
      val hotKeys = caps.groupBy(_.urlkey).filter(_._2.size > ZipNumScan.BlocksPerPartition)
        .keys.toSeq.sorted(ZipNum.utf8Ordering)
      val keys = hotKeys ++ Seq(caps(r.nextInt(caps.size)).urlkey, hotKeys.head + "-absent")
      val byTs = Ordering.Option(Ordering.String)
      val byKeyTs: Ordering[Cap] = (a: Cap, b: Cap) => {
        val c = ZipNum.utf8Compare(a.urlkey, b.urlkey)
        if (c != 0) c else byTs.compare(a.ts, b.ts)
      }
      // (name, lookup, brute-force rows in full order, row limit, sort key)
      type Case = (String, CdxServer => DataFrame, Seq[Cap], Int, Cap => Any)
      val cases: Seq[Case] = keys.flatMap { k =>
        val own = caps.filter(_.urlkey == k)
        val valid = own.flatMap(_.ts).filter(epoch(_, zone).nonEmpty).sorted
        val (from, to) =
          if (valid.isEmpty) ("20000101000000", "20991231000000")
          else (valid(valid.size / 4), valid(valid.size * 3 / 4))
        val target = if (valid.isEmpty) "20150101000000" else valid(r.nextInt(valid.size))
        def dist(c: Cap): Option[Long] =
          for (t <- c.ts; a <- epoch(t, zone); b <- epoch(target, zone)) yield math.abs(a - b)
        // a null distance sorts last
        val closest = own.sortBy(c => (dist(c).getOrElse(Long.MaxValue), c.ts))(
          Ordering.Tuple2(Ordering.Long, byTs))
        val inBox = own.filter(c => c.ts.exists(t => t >= from && t <= to))
        Seq[Case](
          (s"exactUrl($k)", _.exactUrl(k), own.sortBy(_.ts)(byTs), Int.MaxValue, _.ts),
          (s"captures($k, $from, $to)", _.captures(k, from, to), inBox.sortBy(_.ts)(byTs),
            Int.MaxValue, _.ts)) ++
          Seq(1, 5, own.size + 3).map(n => (s"closest($k, $target, $n)",
            (s: CdxServer) => s.closest(k, target, n), closest, n,
            (c: Cap) => (dist(c), c.ts)): Case)
      } ++ hosts.distinct.flatMap { h =>
        val under = (p: String) => caps.filter(_.urlkey.startsWith(p)).sorted(byKeyTs)
        Seq[Case](
          (s"host($h)", _.host(h), under(h + ")"), Int.MaxValue, c => (c.urlkey, c.ts)),
          (s"domain($h)", _.domain(h), caps.filter(c => c.urlkey.startsWith(h + ")") ||
            c.urlkey.startsWith(h + ",")).sorted(byKeyTs), Int.MaxValue, c => (c.urlkey, c.ts)),
          // a host's first label is one whole key character
          (s"prefix(${h.split(",").head})", _.prefix(h.split(",").head), under(h.split(",").head),
            Int.MaxValue, c => (c.urlkey, c.ts)))
      }
      for ((dir, server) <- servers; (name, lookup, all, limit, sortKey) <- cases) {
        val at = s"seed=$seed $dir $name"
        val df = lookup(server)
        val got = df.collect().toSeq
          .map(r => Cap(r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
        val expect = all.take(limit)
        if (dir == local) {
          // evaluated on the driver: peers keep the cluster's line order
          assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation], at)
          assert(got == expect, at)
        } else {
          // the parallel sort does not promise an order among peers, nor
          // which peers a limit keeps: same keys in the same order, each
          // row one of its key's rows
          assert(got.map(sortKey) == expect.map(sortKey), at)
          got.groupBy(sortKey).foreach { case (key, rows) =>
            assert(rows.diff(all.filter(sortKey(_) == key)).isEmpty, s"$at: rows of $key")
          }
          parallel += collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.size
        }
      }
    }
    assert(parallel > 0, "no lookup took the parallel scan")
  }
}

object ZipNumLookupPropertiesSpec {
  val Ts14: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("uuuuMMddHHmmss").withZone(java.time.ZoneOffset.UTC)

  /** seconds since the epoch of a 14-digit timestamp that names a real
    * instant in `zone`, as `try_to_timestamp(ts, "yyyyMMddHHmmss")` */
  def epoch(ts: String, zone: java.time.ZoneId): Option[Long] =
    if (!ts.matches("\\d{14}")) None
    else scala.util.Try(java.time.LocalDateTime.parse(ts,
      java.time.format.DateTimeFormatter.ofPattern("uuuuMMddHHmmss")
        .withResolverStyle(java.time.format.ResolverStyle.STRICT))
      .atZone(zone).toEpochSecond).toOption

  /** one cluster line as a lookup returns it */
  final case class Cap(urlkey: String, ts: Option[String], json: Option[String])
  object Cap {
    def apply(line: String): Cap = {
      val f = line.split(" ", 3)
      Cap(f(0), f.lift(1), f.lift(2))
    }
  }

  /** one random cluster: its input lines, both layouts, and the lookups */
  final case class Trial(
      lines: Seq[String], shards: Int, linesPerBlock: Int,
      mergedShards: Int, mergedLinesPerBlock: Int,
      prefixes: Seq[String], blocksPerPage: Int)
}
