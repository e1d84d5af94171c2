package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Plan snapshot utility for the optimization rounds: writes each named
  * SparkEntry query's `.explain("formatted")` output to
  * `<outDir>/<query>_<suffix>.txt` — the before/after evidence files the
  * optimization judge reads (plans/r14/). Runs on the [[GraftSession]]
  * the bench runs on, so the plan matches what the bench executes; pass
  * `--exec` to run the query first and snapshot the AQE-final plan.
  *
  * `--scan` instead prints, per query, only the executed plan's
  * FileScan/PushedFilters/PartitionFilters/ReadSchema lines — the fast
  * feedback loop for scan-pruning work.
  *
  * Usage: runMain graft.PlanSnap <sfDir> <outDir> <suffix> [--exec] <query>...
  *        runMain graft.PlanSnap <sfDir> --scan [--exec] <query>...
  */
object PlanSnap {
  private val scanMarkers =
    Seq("PushedFilters", "ReadSchema", "FileScan", "PartitionFilters")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scanOnly = args(1) == "--scan"
    val exec = args.contains("--exec")
    val names = args.drop(if (scanOnly) 2 else 3).filterNot(_ == "--exec")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (!scanOnly) Files.createDirectories(Paths.get(args(1)))
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (exec) df.count()
        if (scanOnly) {
          println(s"==== $n")
          df.queryExecution.executedPlan.toString.linesIterator
            .filter(l => scanMarkers.exists(l.contains))
            .foreach(l => println(l.trim.take(300)))
        } else {
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"${args(1)}/${n}_${args(2)}.txt"), txt)
          println(s"[plansnap] wrote $n")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[plansnap] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
