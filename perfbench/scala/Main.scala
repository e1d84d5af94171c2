package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its own scratch directory under
  * the checkout, the seed, the measuring time, and the report. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
    val seconds: Int, val trace: Boolean, val report: Report,
    val tracer: Tracer, val sessionS: Double) {
  /** Fixture builds per run; setup_s reports the median. */
  val SetupReps = 3

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Reports `setup_s`: session start plus the median of `SetupReps` timed
    * fixture builds. The last build is returned for the run to use. */
  def setup[F](close: F => Unit)(build: Int => F): F = {
    var last: Option[F] = None
    val times = (1 to SetupReps).map { k =>
      last.foreach(close)
      val t0 = System.nanoTime()
      last = Some(build(k))
      (System.nanoTime() - t0) / 1e9
    }
    val s = sessionS + Stats.median(times)
    report.put("setup_s", s, "s")
    report.note("setup_s", s, "s", SetupReps)
    report.text(f"session start ${sessionS}%.2fs, fixture builds ${times.map(t => f"$t%.2f").mkString(" ")}s")
    memCheckpoint()
    last.get
  }

  private var liveMb = 0.0

  /** Collects garbage in full and keeps the largest live heap seen. Call
    * it only between timed phases: after the fixture is built and after
    * the measuring time. */
  def memCheckpoint(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    liveMb = math.max(liveMb, used)
  }

  /** The largest live heap at a checkpoint, in MB. */
  def peakLiveMb: Double = liveMb

  /** Collector time of every JVM collector so far, in ms. */
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "serve_read" -> ServeRead.run,
    "ingest_live" -> IngestLive.run,
    "corpus_batch" -> CorpusBatch.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val code =
      try {
        if (opts.contains("--selftest")) SelfTest.run(opts("--selftest"))
        else run(opts)
      } catch {
        case t: Throwable =>
          System.err.println("perfbench: run aborted")
          t.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  private def run(opts: Map[String, String]): Int = {
    val workload = opts.getOrElse("--workload", "")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(
        s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    require(seconds >= 1, "--seconds must be positive")
    val trace = opts.getOrElse("--trace", "0") == "1"
    val work = new File(opts("--work"))
    work.mkdirs()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    if (trace) spark.sparkContext.addSparkListener(tracer)
    val report = new Report
    val ctx = new Ctx(spark, work, seed, seconds, trace, report, tracer, sessionS)
    val bodyT0 = System.nanoTime()
    try body(ctx)
    finally {
      val stopT0 = System.nanoTime()
      spark.stop()
      report.text(f"workload ${(stopT0 - bodyT0) / 1e9}%.1fs, session stop ${(System.nanoTime() - stopT0) / 1e9}%.1fs, " +
        f"JVM up ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs")
    }

    // the heap is pre-touched, so the resident set beyond it is the peak
    // of everything off the heap (threads, code, direct buffers, natives)
    val rss = peakRssMb()
    val offHeap = rss - Runtime.getRuntime.totalMemory / (1024.0 * 1024.0)
    val mem = offHeap + ctx.peakLiveMb
    report.note("peak_rss_mb", rss, "MB", 1)
    report.note("peak_off_heap_mb", offHeap, "MB", 1)
    report.note("peak_live_heap_mb", ctx.peakLiveMb, "MB", 2)
    if (trace) {
      val got = report.metrics.toMap
      report.metrics.clear()
      Catalog.PerLayer.foreach { case (n, u) =>
        report.put(n, got.get(n).map(_._1).getOrElse(0.0), u)
      }
    } else {
      report.put("peak_mem_mb", mem, "MB")
      val missing = Catalog.EndToEnd.map(_._1).filterNot(report.metrics.contains)
      require(missing.isEmpty, s"workload did not report ${missing.mkString(", ")}")
      val ordered = Catalog.EndToEnd.map { case (n, u) => n -> (report.metrics(n)._1, u) }
      report.metrics.clear()
      ordered.foreach { case (n, (v, u)) => report.put(n, v, u) }
    }
    val errorRate = report.failed.toDouble / math.max(1L, report.attempted)
    report.note("error_rate", errorRate, "ratio", report.attempted.toInt)
    report.lines.foreach(l => println("# " + l))
    report.failureNotes.take(20).foreach(f => println("# FAILED " + f))
    println(report.json)
    if (report.failed == 0 && report.attempted > 0) 0 else 1
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(
        throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
