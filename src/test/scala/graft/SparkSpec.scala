package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked JVM).
  *
  * It is deliberately not `GraftSession.local`, which the harness mains
  * run on. Every suite shares its one SparkContext, and static confs
  * (`spark.sql.extensions`) are fixed when that context starts, so the
  * spec session must stay the plain baseline a suite narrows from: the
  * default HDFS-backed state store (the stateful streaming tests cover
  * it; the RocksDB tests set it per test) and no `GraftExtensions`
  * (specs that need them use [[SparkSpec.withExtensions]]). */
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
  lazy val withExtensions: SparkSession =
    isolated(SparkSession.builder().withExtensions(new graft.functions.GraftExtensions).getOrCreate())

  /** Runs `build` with no active or default session, then restores
    * [[session]] as both: with it active, `getOrCreate` would return it and
    * apply the builder's runtime confs to every suite that runs after. */
  def isolated(build: => SparkSession): SparkSession = {
    session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try build
    finally {
      SparkSession.setDefaultSession(session)
      SparkSession.setActiveSession(session)
    }
  }
}
