package graft
import java.nio.file.{Files, Paths}
import graft.ql.Output.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails writes no result directory; the run ends by naming every failed
  * query on stderr, and `tools/oracle_check.py` counts each as a fail. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: regex over query names, for fast local iteration
    val nameFilter = args.lift(2).map(_.r)
    def picked(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => picked(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // only the selected queries' oracles: a filtered run's check must not
    // count the queries it never ran as failed
    val json = SparkEntry.oracleSql.toSeq
      .collect { case (k, v) if picked(k) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    spark.stop()
  }
}
