package graft

import graft.formats.ZipNum
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
  */
class ZipNumLookupPropertiesSpec extends SparkSpec {
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
}

object ZipNumLookupPropertiesSpec {
  /** one random cluster: its input lines, both layouts, and the lookups */
  final case class Trial(
      lines: Seq[String], shards: Int, linesPerBlock: Int,
      mergedShards: Int, mergedLinesPerBlock: Int,
      prefixes: Seq[String], blocksPerPage: Int)
}
