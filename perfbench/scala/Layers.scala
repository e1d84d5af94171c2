package perfbench

import java.io.File

/** Per-layer metrics rolled up from a traced phase. */
object Layers {
  val MiB = 1024.0 * 1024.0

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** The request layers: ql, catalyst, exec, storage routing, encode. */
  def requests(ctx: Ctx, rec: Recorded, in: Inproc): Unit = {
    val r = ctx.report
    def medMs(name: String): Double = med(rec.named(name).map(_.ms))
    val roots = rec.roots("req.")
    val perReq = roots.map(rec.jobsUnder)
    r.put("ql.parse_us", medMs("ql.parse") * 1000, "us")
    r.put("ql.interpret_us", medMs("ql.interpret") * 1000, "us")
    r.put("ql.frame_ms", medMs("ql.frame"), "ms")
    r.put("ql.frame_jobs", mean(rec.named("ql.frame").map(rec.jobsUnder(_).size.toDouble)), "count")
    r.put("catalyst.analysis_ms", med(in.analysisMs.values), "ms")
    r.put("catalyst.optimization_ms", medMs("catalyst.optimization"), "ms")
    r.put("catalyst.planning_ms", medMs("catalyst.planning"), "ms")
    exec(ctx, rec, perReq)
    r.put("exec.rows_scanned_per_row_out",
      in.scannedRows.get.toDouble / math.max(1L, in.outRows.get), "ratio")
    r.put("exec.scan_files", in.scanFiles.get.toDouble / math.max(1L, in.plans.get), "count")
    r.put("storage.cache_hit_ratio", in.cachedPlans.get.toDouble / math.max(1L, in.plans.get), "ratio")
    r.put("storage.route_build_ms", medMs("storage.route_build"), "ms")
    r.put("storage.route_build_jobs",
      mean(rec.named("storage.route_build").map(rec.jobsUnder(_).size.toDouble)), "count")
    r.put("encode.json_ms", med(rec.named("encode.json").map(rec.selfOfJobs)), "ms")
    r.put("encode.arrow_ms", med(rec.named("encode.arrow").map(rec.selfOfJobs)), "ms")
    r.put("encode.bytes_per_row",
      in.encodedBytes.get.toDouble / math.max(1L, in.encodedRows.get), "bytes")
  }

  /** Spark work per operation: jobs, executed stages, tasks, job time,
    * shuffle and spill, and the worst stage's task skew. */
  def exec(ctx: Ctx, rec: Recorded, perOp: Seq[Seq[JobRec]]): Unit = {
    val r = ctx.report
    val st = perOp.map(rec.stagesOf)
    r.put("exec.jobs", mean(perOp.map(_.size.toDouble)), "count")
    r.put("exec.stages", mean(st.map(_.size.toDouble)), "count")
    r.put("exec.tasks", mean(st.map(_.map(_.tasks).sum.toDouble)), "count")
    r.put("exec.job_ms", med(perOp.map(_.map(_.ms).sum)), "ms")
    r.put("exec.shuffle_write_mb", mean(st.map(_.map(_.shuffleWriteBytes).sum / MiB)), "MB")
    r.put("exec.spill_mb", mean(st.map(_.map(_.spillBytes).sum / MiB)), "MB")
    r.put("exec.task_skew", Skew.of(rec.stages.values.toSeq), "ratio")
  }

  def coverage(ctx: Ctx, rec: Recorded, roots: Seq[Span]): Unit = {
    val (share, uncovered) = rec.coverage(roots)
    ctx.report.put("trace.coverage", share, "ratio")
    ctx.report.put("trace.other_ms", uncovered / math.max(1, roots.size), "ms")
    ctx.report.note("traced operations", roots.size.toDouble, "count", roots.size)
    ctx.report.check(share >= 0.9, f"span coverage $share%.3f below 0.9")
  }

  /** Spans and jobs are kept in memory and written once, here. */
  def save(ctx: Ctx, rec: Recorded): Unit =
    sys.props.get("perfbench.traceOut").foreach { p =>
      val f = new File(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      rec.write(f.toPath)
      ctx.report.text(s"trace written to $p")
    }
}
