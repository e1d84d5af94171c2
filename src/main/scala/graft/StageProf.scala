package graft

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Per-stage empirical profiler (optimization-guide §1/§7 loop): runs a
  * named SparkEntry query once warm, once timed, and prints every stage's
  * wall clock, summed task time, input/shuffle bytes and task count — the
  * "which stage owns the row" attribution the Spark UI would give, printed
  * to stdout so it works headless.
  *
  * Usage: runMain graft.StageProf <sfDir> <query> [query...]
  */
object StageProf {
  private case class StageRec(name: String, submitted: Long,
    var completed: Long = 0L, var taskTimeMs: Long = 0L,
    var inputBytes: Long = 0L, var shuffleReadBytes: Long = 0L,
    var shuffleWriteBytes: Long = 0L, var tasks: Int = 0,
    var spillBytes: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val stages = TrieMap[Int, StageRec]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages(e.stageInfo.stageId) = StageRec(
          e.stageInfo.name.take(120), System.nanoTime())
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.get(e.stageInfo.stageId).foreach { r =>
          r.completed = System.nanoTime()
          val m = e.stageInfo.taskMetrics
          r.taskTimeMs = m.executorRunTime
          r.inputBytes = m.inputMetrics.bytesRead
          r.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
          r.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
          r.tasks = e.stageInfo.numTasks
          r.spillBytes = m.diskBytesSpilled
        }
    }

    for (n <- names; fn <- SparkEntry.queries.get(n).orElse {
        System.err.println(s"[stageprof] unknown query '$n' — skipped")
        None
      }) {
      // warm pass: JIT + codegen + per-process fixture builds land here
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[stageprof] warm $n failed: ${e.getMessage}") }
      spark.sparkContext.addSparkListener(listener)
      stages.clear()
      jobs.set(0)
      System.gc(); Thread.sleep(300)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[stageprof] $n failed: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // let the last stage-completed events drain
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      println(s"==== $n  wall=${f"$wall%.2f"}s  jobs=${jobs.get}  stages=${stages.size}")
      val byStart = stages.toSeq.sortBy(_._2.submitted)
      for ((id, r) <- byStart) {
        val stageWall = if (r.completed > 0)
          (r.completed - r.submitted) / 1e9 else Double.NaN
        println(f"  stage $id%4d wall=$stageWall%6.2fs task=${r.taskTimeMs / 1e3}%7.2fs " +
          f"in=${r.inputBytes / 1e6}%8.1fMB sr=${r.shuffleReadBytes / 1e6}%7.1fMB " +
          f"sw=${r.shuffleWriteBytes / 1e6}%7.1fMB spill=${r.spillBytes / 1e6}%6.1fMB " +
          f"n=${r.tasks}%4d  ${r.name}%s")
      }
    }
    spark.stop()
  }
}
