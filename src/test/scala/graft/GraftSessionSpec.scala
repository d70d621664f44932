package graft

/** The session contract every harness main and the test fixture share:
  * the fixture's session comes from `GraftSession.local(4)`, so these
  * settings are asserted on it rather than on a copy of the builder. */
class GraftSessionSpec extends GraftSuite {

  test("GraftSession.local sets the shared harness configuration") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("GraftSession.local injects GraftExtensions") {
    // portable_hash resolves only when the extensions are injected
    val row = spark.sql("SELECT portable_hash('a')").collect().head
    assert(!row.isNullAt(0))
  }

  test("GraftSession.local pins bucketed scans") {
    assert(spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "false")
  }
}
