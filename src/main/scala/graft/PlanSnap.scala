package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Plan and row tool over the named SparkEntry queries, on the
  * [[GraftSession]] every graft main runs on. Three modes:
  *
  *   - snapshot: writes each query's `.explain("formatted")` output to
  *     `<outDir>/<query>_<suffix>.txt`, the before/after plan evidence
  *     (plans/r14/); `--exec` runs the query first so the AQE-final plan
  *     shows;
  *   - `--scan`: prints only the executed plan's
  *     FileScan/PushedFilters/PartitionFilters/ReadSchema lines, the fast
  *     feedback loop for scan-pruning work;
  *   - `--time`: the in-JVM row profiler. Each query (the [[headline]]
  *     rows when none is named) runs once untimed, then once timed in two
  *     parts: `build`, the `SparkEntry.queries` call with any eager
  *     construction jobs, and `exec`, a write to the `noop` sink so every
  *     column is computed. One line per query carries both parts' seconds
  *     and jobs, the stages, tasks, shuffle and spill of the timed run,
  *     and the generated classes compiled in each run — `warm_compiles`,
  *     the row's code footprint, and `compiles`, the classes the timed
  *     run compiled again because Spark's code cache no longer held them;
  *     one line per stage follows it.
  *
  * A query that fails, or a name that is not registered, prints no result
  * line; the run ends by naming every failed query and exits 1.
  *
  * Usage: runMain graft.PlanSnap <sfDir> <outDir> <suffix> [--exec] <query>...
  *        runMain graft.PlanSnap <sfDir> --scan [--exec] <query>...
  *        runMain graft.PlanSnap <sfDir> --time [query...]
  */
object PlanSnap {
  private val scanMarkers =
    Seq("PushedFilters", "ReadSchema", "FileScan", "PartitionFilters")

  /** The headline rows: one or two per operator family, across the dialect
    * reads, TPC-H shapes, time-series operators, serving stores, graph and
    * LLM-data pipelines. */
  val headline: Seq[String] = Seq(
    "ql_range", "ql_head_limit", "agg_downsample_1h", "agg_event_type_stats",
    "sessionize_stats", "asof_purchase_view", "rolling_24h_stats",
    "json_props_stats", "pipeline_curate",
    "tpch_q1", "join_revenue_by_nation", "window_top_orders",
    "dedup_exact", "dedup_minhash_lsh", "dedup_jaccard_pairs",
    "text_quality", "knn_brute", "pipeline_train_prep", "ts_interval_join",
    "ts_seasonal_anomaly", "ts_ewma", "retrieval_bm25",
    "tpch_q9", "train_shuffle_shards",
    "rollup_store_daily", "ts_lttb",
    "graph_triangles", "rollup_cascade_daily",
    "rollup_keyed_daily", "text_dup_spans",
    "rollup_counter_store", "rollup_keyed_route_one",
    "text_classifier_score", "aqp_event_stats",
    "rollup_route_aqp")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rc = try run(spark, args) finally spark.stop()
    sys.exit(rc)
  }

  /** Runs one invocation on `spark`; 0 when every query succeeded. */
  def run(spark: SparkSession, args: Array[String]): Int = {
    val sfDir = args(0)
    val exec = args.contains("--exec")
    def build(n: String): DataFrame = SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query '$n'"))(spark, sfDir)
    val (names, each): (Seq[String], String => Unit) = args(1) match {
      case "--time" =>
        val named = args.drop(2).toSeq
        (if (named.isEmpty) headline else named,
          n => new RowProfile(spark).time(n, () => build(n)))
      case "--scan" =>
        (args.drop(2).filterNot(_ == "--exec").toSeq, { n =>
          val df = build(n)
          if (exec) df.count()
          println(s"==== $n")
          df.queryExecution.executedPlan.toString.linesIterator
            .filter(l => scanMarkers.exists(l.contains))
            .foreach(l => println(l.trim.take(300)))
        })
      case outDir =>
        Files.createDirectories(Paths.get(outDir))
        (args.drop(3).filterNot(_ == "--exec").toSeq, { n =>
          val df = build(n)
          if (exec) df.count()
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${n}_${args(2)}.txt"), txt)
          println(s"[plansnap] wrote $n")
        })
    }
    val failed = names.filterNot { n =>
      try { each(n); true }
      catch { case e: Throwable =>
        Console.err.println(s"[plansnap] $n failed: ${e.getMessage}")
        false
      }
    }
    if (failed.isEmpty) 0
    else {
      Console.err.println(
        s"[plansnap] ${failed.size} failed: ${failed.mkString(", ")}")
      1
    }
  }

  private case class StageRec(id: Int, name: String, wallMs: Long,
    taskTimeMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, tasks: Int)

  /** One listener for one timed query: counts jobs and records every
    * completed stage; reads happen after the listener bus has drained. */
  private final class RowProfile(spark: SparkSession) extends SparkListener {
    private val jobs = new java.util.concurrent.atomic.AtomicInteger
    private val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[StageRec]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (s <- i.submissionTime; c <- i.completionTime)
        yield c - s).getOrElse(0L)
      stages.add(StageRec(i.stageId, i.name.take(120), wall,
        m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, i.numTasks))
      ()
    }

    /** Warm once untimed, then time `build` and the noop write apart. */
    def time(name: String, build: () => DataFrame): Unit = {
      def sink(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      // every class Spark's code generator compiles, driver and tasks
      def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val w0 = compiled
      sink(build())
      val warmCompiles = compiled - w0
      val sc = spark.sparkContext
      ListenerBusDrain(sc)
      sc.addSparkListener(this)
      val c0 = compiled
      val (buildS, buildJobs, execS, execJobs) = try {
        val t0 = System.nanoTime()
        val df = build()
        val t1 = System.nanoTime()
        ListenerBusDrain(sc)
        val bj = jobs.get
        val t2 = System.nanoTime()
        sink(df)
        val t3 = System.nanoTime()
        ListenerBusDrain(sc)
        ((t1 - t0) / 1e9, bj, (t3 - t2) / 1e9, jobs.get - bj)
      } finally sc.removeSparkListener(this)
      val compiles = compiled - c0
      val recs = stages.asScala.toSeq.sortBy(_.id)
      def mb(f: StageRec => Long): Double = recs.map(f).sum / 1e6
      println(f"==== $name  build_s=$buildS%.3f build_jobs=$buildJobs  " +
        f"exec_s=$execS%.3f exec_jobs=$execJobs  stages=${recs.size} " +
        f"tasks=${recs.map(_.tasks).sum}  " +
        f"shuffle_read_mb=${mb(_.shuffleReadBytes)}%.1f " +
        f"shuffle_write_mb=${mb(_.shuffleWriteBytes)}%.1f " +
        f"spill_mb=${mb(_.spillBytes)}%.1f " +
        f"warm_compiles=$warmCompiles compiles=$compiles")
      for (r <- recs)
        println(f"  stage ${r.id}%4d wall=${r.wallMs / 1e3}%6.2fs " +
          f"task=${r.taskTimeMs / 1e3}%7.2fs in=${r.inputBytes / 1e6}%8.1fMB " +
          f"sr=${r.shuffleReadBytes / 1e6}%7.1fMB " +
          f"sw=${r.shuffleWriteBytes / 1e6}%7.1fMB " +
          f"spill=${r.spillBytes / 1e6}%6.1fMB n=${r.tasks}%4d  ${r.name}%s")
    }
  }
}
