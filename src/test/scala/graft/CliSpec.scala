package graft

import java.io.ByteArrayOutputStream
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.ql.Engine
import graft.storage.{DataPoint, WritableStore}

class CliSpec extends AnyFunSuite {
  private lazy val engine: Engine = {
    val dir = SparkTestBase.tempDir("graft-cli-db")
    val store = new WritableStore(SparkTestBase.spark, dir, "m",
      Seq(StructField("v", DoubleType)))
    store.pushMulti((1L to 3L).map(i =>
      DataPoint(1650000000L * 1000000000L + i, Seq(i.toDouble))))
    store.persist()
    new Engine(SparkTestBase.spark, dir)
  }

  private val good =
    "with format_datetime = false select * from m where ts >= '2022-01-01'"
  // aliasing the field `v` to `ts` passes the dialect's checks and fails
  // in Spark analysis (two `ts` columns)
  private val analysisError =
    "with cols = [ts], format_datetime = false select * from m " +
      "where ts >= '2022-01-01'"

  /** (result, stdout, stderr) of `body`. */
  private def captured[T](body: => T): (T, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val r = Console.withOut(out)(Console.withErr(err)(body))
    (r, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("a failed query is reported as failed, with its error on stderr") {
    val (ok, out, _) = captured(Cli.run(engine, good))
    assert(ok)
    assert(out.contains("| 1.0 |") && out.contains("| 3.0 |"), out)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      engine.execute(analysisError))
    val (failed, _, err) = captured(Cli.run(engine, analysisError))
    assert(!failed)
    assert(err.contains(e.getMessage.linesIterator.next()), err)
    val (parseFailed, _, parseErr) = captured(Cli.run(engine, "not a query"))
    assert(!parseFailed && parseErr.nonEmpty)
  }

  test("the REPL survives an analysis error and runs the next statement") {
    val (_, out, err) = captured(Cli.repl(engine,
      Iterator(analysisError + ";", good, ";", "exit", good + ";")))
    assert(err.contains("AMBIGUOUS_REFERENCE"), err)
    // the statement after the failure ran; the one after `exit` did not
    assert(out.split("\\| 2\\.0 \\|", -1).length == 2, out)
  }
}
