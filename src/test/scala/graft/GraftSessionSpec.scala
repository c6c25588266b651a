package graft

/** The session factory pins the engine confs, and the native functions
  * register from SQL. (Uses the shared test session's JVM — building a
  * second session in the same context shares the SparkContext.) */
class GraftSessionSpec extends SparkSpec {

  test("builder carries the engine confs and leaves the shared session alone") {
    val shared = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.files.maxPartitionBytes")
    val before = shared.map(spark.conf.get)
    val s2 = SparkSpec.isolated(GraftSession.builder("graft-spec").getOrCreate())
    // don't stop: shares the JVM-wide context with the other specs
    assert(shared.map(spark.conf.get) == before)
    assert(s2 ne spark)
    assert(s2.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s2.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s2.conf.get("spark.sql.files.maxPartitionBytes") == "256m")
    // the extensions are a static conf: Spark applies them only when the
    // builder creates the SparkContext, as GraftSession.local does in a
    // fresh JVM, so here they can be checked as requested, not as loaded
    assert(s2.conf.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
  }

  test("native functions usable from SQL after register") {
    graft.functions.GraftFunctions.register(spark)
    val k = spark.sql("SELECT surt_key_native('http://www.Example.com/A?b=1&a=2') AS k")
      .collect().head.getString(0)
    assert(k == "com,example)/a?a=2&b=1")
  }
}
