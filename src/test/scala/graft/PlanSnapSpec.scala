package graft

import org.scalatest.funsuite.AnyFunSuite

/** `PlanSnap.run` on the shared test session: `--time` profiles a row
  * through the noop sink, and a failed or unknown query makes the run
  * return nonzero and name it. */
class PlanSnapSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  /** (return code, stdout, stderr) of one run. */
  private def run(args: String*): (Int, String, String) = {
    val out = new java.io.ByteArrayOutputStream
    val err = new java.io.ByteArrayOutputStream
    val rc = Console.withOut(out) {
      Console.withErr(err) {
        PlanSnap.run(SparkTestBase.spark, (sfDir +: args).toArray)
      }
    }
    (rc, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("the headline list is 35 registered queries") {
    assert(PlanSnap.headline.distinct.size == 35)
    assert(PlanSnap.headline.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("--time profiles a row and fails loudly on an unknown name") {
    val (rc, out, err) = run("--time", "ql_range", "dedup_exact",
      "no_such_query")
    assert(rc != 0)
    assert(err.contains("1 failed: no_such_query"), err)
    assert(!out.contains("==== no_such_query"), out)
    val line = out.linesIterator.find(_.startsWith("==== ql_range "))
    assert(line.isDefined, out)
    val execJobs = """exec_jobs=(\d+)""".r
      .findFirstMatchIn(line.get).map(_.group(1).toInt)
    assert(execJobs.exists(_ >= 1), line.get)
    for (field <- Seq("build_s=", "build_jobs=", "exec_s=", "stages=",
        "tasks=", "shuffle_read_mb=", "shuffle_write_mb=", "spill_mb="))
      assert(line.get.contains(field), line.get)
    // the compile counts: the warm run's footprint, the timed run's
    // recompiles
    def count(f: String) = raw"""\b$f=(\d+)""".r
      .findFirstMatchIn(line.get).map(_.group(1).toLong)
    assert(count("warm_compiles").isDefined, line.get)
    assert(count("compiles").isDefined, line.get)
    assert(out.linesIterator.exists(_.startsWith("  stage ")), out)
    // the table's schema comes from its at-rest snapshot: the timed
    // build of a row that only reads tables runs no job
    val dedup = out.linesIterator.find(_.startsWith("==== dedup_exact "))
    assert(dedup.exists(_.contains(" build_jobs=0 ")), out)
  }

  test("--scan on an unknown name returns nonzero") {
    val (rc, out, err) = run("--scan", "ql_range", "no_such_query")
    assert(rc != 0)
    assert(out.contains("==== ql_range"), out)
    assert(err.contains("1 failed: no_such_query"), err)
  }
}
