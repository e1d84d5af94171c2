package graft.server

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.ql.Engine

/** Unit coverage for the server's JSON string unescaping — must be a single
  * left-to-right scan (chained String.replace corrupts `\\n` → newline) —
  * and for the one escaper, `Output.jsonStr`.
  */
class JsonEscapeSpec extends AnyFunSuite {
  private lazy val srv =
    new QueryServer(new Engine(SparkTestBase.spark,
      SparkTestBase.tempDir("graft-unesc")))

  test("unescapeJson decodes escapes in one pass") {
    assert(srv.unescapeJson("""a\nb""") == "a\nb")
    // escaped backslash followed by 'n' stays backslash + n
    assert(srv.unescapeJson("""a\\nb""") == "a\\nb")
    // escaped backslash then escaped quote
    assert(srv.unescapeJson("""q\\\"x""") == "q\\\"x")
    assert(srv.unescapeJson("""A\t""") == "A\t")
    assert(srv.unescapeJson("""plain""") == "plain")
    // trailing lone backslash survives
    assert(srv.unescapeJson("""ab\""") == "ab\\")
  }

  test("malformed unicode escapes degrade gracefully, never throw") {
    // (\ and u kept in separate literals: scalac expands \\u escapes even
    // inside triple quotes)
    val bs = "\\"
    assert(srv.unescapeJson("a" + bs + "uzzzzb") == "auzzzzb")
    assert(srv.unescapeJson("a" + bs + "u00") == "au00") // too short for 4 hex
    assert(srv.unescapeJson("a" + bs + "u0041b") == "aAb")
  }

  test("Output.jsonStr round-trips control characters through Jackson") {
    val s = "a\tb\rc\"d\\e" + 1.toChar + "f"
    val enc = graft.ql.Output.jsonStr(s)
    assert(!enc.exists(_ < ' '), enc)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(enc, classOf[String]) == s)
  }

  test("parseRequest unescapes the framed query") {
    val q = srv.parseRequest("""{"query": "select \\n from m"}""")
    assert(q == "select \\n from m")
    val q2 = srv.parseRequest("""{"query": "line1\nline2"}""")
    assert(q2 == "line1\nline2")
  }
}
