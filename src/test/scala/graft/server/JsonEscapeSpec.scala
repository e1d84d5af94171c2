package graft.server

import java.io.{BufferedReader, InputStreamReader}
import java.net.Socket
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.ql.Engine
import QueryServer.Query

/** Unit coverage for the server's request parse — a JSON frame's query
  * text decodes in one Jackson pass (chained String.replace corrupts
  * `\\n` → newline), a frame that is not valid JSON is a bad request that
  * leaves the connection open — and for the one escaper, `Output.jsonStr`.
  */
class JsonEscapeSpec extends AnyFunSuite {
  private lazy val engine =
    new Engine(SparkTestBase.spark, SparkTestBase.tempDir("graft-unesc"))

  /** The query a JSON frame carrying `escaped` as its string body parses
    * to. */
  private def decoded(escaped: String): Either[String, QueryServer.Request] =
    QueryServer.parse(s"""{"query": "$escaped"}""")

  /** Sends each line on one connection; returns the answer lines. */
  private def exchange(lines: String*): Seq[String] = {
    val srv = new QueryServer(engine)
    val port = srv.start()
    try {
      val sock = new Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        val in = new BufferedReader(new InputStreamReader(sock.getInputStream))
        lines.map { l =>
          out.write((l + "\n").getBytes("UTF-8")); out.flush()
          in.readLine()
        }
      } finally sock.close()
    } finally srv.stop()
  }

  private val metricsFrame = """{"query": "select * from .metrics"}"""

  private def assertBadThenOk(answers: Seq[String]): Unit = {
    answers.init.foreach(a =>
      assert(a.startsWith("""{"ok":false,"error":"bad request: """), a))
    assert(answers.last.startsWith("""{"ok":true,"""), answers.last)
  }

  test("unescapeJson decodes escapes in one pass") {
    assert(decoded("""a\nb""") == Right(Query("a\nb", false)))
    // escaped backslash followed by 'n' stays backslash + n
    assert(decoded("""a\\nb""") == Right(Query("a\\nb", false)))
    // escaped backslash then escaped quote
    assert(decoded("""q\\\"x""") == Right(Query("q\\\"x", false)))
    assert(decoded("""A\t""") == Right(Query("A\t", false)))
    assert(decoded("""plain""") == Right(Query("plain", false)))
    // a trailing lone backslash escapes the closing quote: not JSON, so a
    // bad request, and the connection survives it
    assert(decoded("""ab\""").isLeft)
    assertBadThenOk(exchange("""{"query": "ab\"}""", metricsFrame))
  }

  test("malformed unicode escapes degrade gracefully, never throw") {
    // (\ and u kept in separate literals: scalac expands \\u escapes even
    // inside triple quotes)
    val bs = "\\"
    assert(decoded("a" + bs + "uzzzzb").isLeft)
    assert(decoded("a" + bs + "u00").isLeft) // too short for 4 hex
    assert(decoded("a" + bs + "u0041b") == Right(Query("aAb", false)))
    assertBadThenOk(exchange(
      s"""{"query": "a${bs}uzzzzb"}""",
      s"""{"query": "a${bs}u00"}""",
      metricsFrame))
  }

  test("Output.jsonStr round-trips control characters through Jackson") {
    val s = "a\tb\rc\"d\\e" + 1.toChar + "f"
    val enc = graft.ql.Output.jsonStr(s)
    assert(!enc.exists(_ < ' '), enc)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(enc, classOf[String]) == s)
  }

  test("parseRequest unescapes the framed query") {
    val q = QueryServer.parse("""{"query": "select \\n from m"}""")
    assert(q == Right(Query("select \\n from m", false)))
    val q2 = QueryServer.parse("""{"query": "line1\nline2"}""")
    assert(q2 == Right(Query("line1\nline2", false)))
  }
}
