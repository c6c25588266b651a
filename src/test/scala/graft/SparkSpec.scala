package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // deliberately NO global RocksDB providerClass here: the stateful
      // streaming tests must keep covering the DEFAULT HDFS-backed
      // provider an unconfigured production session uses; the TWS tests
      // that need RocksDB set (and restore) it themselves
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A second session on the same SparkContext, built with
    * GraftExtensions (as `GraftSession` sessions are); [[session]] stays
    * the default and active one. */
  lazy val withExtensions: SparkSession = {
    session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new graft.functions.GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(session)
      SparkSession.setActiveSession(session)
    }
  }
}
