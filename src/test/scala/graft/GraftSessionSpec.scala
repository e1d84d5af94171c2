package graft

import org.scalatest.funsuite.AnyFunSuite

/** A session is graft-configured from birth, not after its first engine
  * read: Spark Connect serves each client on a `newSession()` of the host,
  * which inherits the context's confs and extensions but none of the
  * host's runtime `conf.set`s. */
class GraftSessionSpec extends AnyFunSuite {

  test("a newSession() carries the read confs and native functions " +
      "without Tables.configure") {
    val s = SparkTestBase.spark.newSession()
    assert(s.conf.get("spark.sql.parquet.aggregatePushdown") == "true")
    assert(s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") ==
      "false")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sql("SELECT format_ns(CAST(0 AS BIGINT))").head().getString(0)
      == "1970-01-01T00:00:00.000000000+00:00")
  }
}
