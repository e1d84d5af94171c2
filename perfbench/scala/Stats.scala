package perfbench

import scala.collection.mutable

/** Percentiles by nearest rank, and the rule for which tail a sample
  * supports: a percentile is reported only with at least ten samples
  * beyond it. */
object Stats {
  val MinBeyond = 10

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  def supports(n: Int, p: Double): Boolean = beyond(n, p) >= MinBeyond
}

/** The tails a sample supports, for the human-readable lines (p80 needs 50
  * samples, p90 100, p99 1,000). `tail_ms` reports the p80 of `required`
  * samples, so too few of those draw a warning. */
object Tails {
  def note(r: Report, name: String, s: Sample, required: Boolean = false): Unit = {
    val n = s.size
    Seq(80.0, 90.0, 99.0).filter(Stats.supports(n, _)).foreach { p =>
      r.note(f"${name}_p$p%.0f_ms", s.p(p), "ms", n)
    }
    if (required && !Stats.supports(n, 80)) r.text(s"WARNING: $n $name samples support no p80 tail")
  }
}

/** Thread-safe latency sample of one operation class. */
final class Sample {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { xs += ms }
  def values: Vector[Double] = synchronized(xs.toVector)
  def size: Int = synchronized(xs.size)
  def p(q: Double): Double = Stats.percentile(values, q)
}

/** What a run reports: the end-to-end metrics (untraced) or the per-layer
  * metrics (traced), the human-readable lines printed before the result,
  * and the operation tally. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val lines = mutable.ArrayBuffer.empty[String]
  private var attempted0 = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failures.size.toLong)
  def failureNotes: Seq[String] = synchronized(failures.toList)

  def attempt(n: Long = 1): Unit = synchronized { attempted0 += n }

  /** One wrong or failed operation; never contributes a time. */
  def fail(what: String): Unit = synchronized { failures += what }

  /** `ok` or count a failure described by `what`. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A human-readable figure with its sample count (stdout, not parsed). */
  def note(name: String, value: Double, unit: String, samples: Int): Unit =
    synchronized { lines += f"$name%-32s $value%14.4f $unit%-6s n=$samples" }

  def text(s: String): Unit = synchronized { lines += s }

  /** The result line: exactly correct, attempted, failed and metrics. */
  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    val ok = failed == 0 && attempted > 0
    s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}

/** Metric names and units. BENCHMARK.json lists the same names; the tests
  * check that every run prints exactly these. */
object Catalog {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_mem_mb" -> "MB",
    "ops_per_s" -> "1/s",
    "p50_ms" -> "ms",
    "tail_ms" -> "ms",
    "aux_p50_ms" -> "ms")

  val PipelineOps: Seq[String] = Seq("exact", "minhash", "jaccard", "spans", "curate")

  val PerLayer: Seq[(String, String)] = Seq(
    "ql.parse_us" -> "us",
    "ql.interpret_us" -> "us",
    "ql.frame_ms" -> "ms",
    "ql.frame_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.job_ms" -> "ms",
    "exec.rows_scanned_per_row_out" -> "ratio",
    "exec.scan_files" -> "count",
    "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "exec.task_skew" -> "ratio",
    "storage.cache_hit_ratio" -> "ratio",
    "storage.route_build_ms" -> "ms",
    "storage.route_build_jobs" -> "count",
    "storage.push_p50_ms" -> "ms",
    "storage.push_p80_ms" -> "ms",
    "storage.persist_p50_ms" -> "ms",
    "storage.persist_max_ms" -> "ms",
    "storage.persist_count" -> "count",
    "storage.journal_bytes_per_user_byte" -> "ratio",
    "storage.block_bytes_per_user_byte" -> "ratio",
    "storage.stored_bytes_per_user_byte" -> "ratio",
    "storage.block_files" -> "count",
    "encode.json_ms" -> "ms",
    "encode.arrow_ms" -> "ms",
    "encode.bytes_per_row" -> "bytes",
    "server.wire_ms" -> "ms") ++
    PipelineOps.flatMap(op => Seq(
      s"pipeline.$op.build_s" -> "s",
      s"pipeline.$op.build_jobs" -> "count",
      s"pipeline.$op.exec_s" -> "s",
      s"pipeline.$op.shuffle_mb" -> "MB",
      s"pipeline.$op.task_skew" -> "ratio")) ++ Seq(
    "pipeline.minhash.verify_ratio" -> "ratio",
    "jvm.gc_ms" -> "ms",
    "jvm.warmup_s" -> "s",
    "loadgen.max_late_ms" -> "ms",
    "trace.coverage" -> "ratio",
    "trace.other_ms" -> "ms",
    "trace.overhead_pct" -> "%")
}
