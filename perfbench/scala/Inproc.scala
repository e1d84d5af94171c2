package perfbench

import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.ql.{Engine, Interpreter, Output, QueryParser}
import graft.server.ArrowFraming
import graft.storage.RollupStore

/** The server's request paths, called in the benchmark's own process with a
  * span around each call into a layer: the dialect path is parse, interpret,
  * frame, Catalyst optimisation and planning, then encoding (where the Spark
  * jobs run); the route path is the router's plan construction, Catalyst,
  * then encoding. Responses use the server's framing, so the same checks
  * apply to both transports. */
final class Inproc(spark: SparkSession, engine: Engine, tracer: Tracer) {
  private object Plans extends AdaptiveSparkPlanHelper

  val analysisMs = new Sample
  val plans = new AtomicLong
  val cachedPlans = new AtomicLong
  val scannedRows = new AtomicLong
  val outRows = new AtomicLong
  val scanFiles = new AtomicLong
  val encodedBytes = new AtomicLong
  val encodedRows = new AtomicLong

  private def plan(df: DataFrame): Unit = {
    tracer.span("catalyst.optimization")(df.queryExecution.optimizedPlan)
    tracer.span("catalyst.planning")(df.queryExecution.executedPlan)
    ()
  }

  /** Plan-level counters of an executed dialect read (traced phases only). */
  private def inspect(df: DataFrame, rows: Long): Unit = {
    val qe = df.queryExecution
    qe.tracker.phases.get("analysis").foreach(p => analysisMs.add(p.durationMs.toDouble))
    var cached = false
    Plans.foreach(qe.executedPlan) {
      case s: FileSourceScanExec =>
        scannedRows.addAndGet(s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        scanFiles.addAndGet(s.metrics.get("numFiles").map(_.value).getOrElse(0L))
      case m: InMemoryTableScanExec =>
        cached = true
        scannedRows.addAndGet(m.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      case _ =>
    }
    plans.incrementAndGet()
    if (cached) cachedPlans.incrementAndGet()
    outRows.addAndGet(rows)
  }

  private def counted(r: Resp, rows: Long): Resp = {
    encodedBytes.addAndGet(r.bytes); encodedRows.addAndGet(rows); r
  }

  def dialect(query: String, arrow: Boolean): Resp = {
    var df: DataFrame = null
    var rows = 0L
    val resp = tracer.span(if (arrow) "req.dialect_arrow" else "req.dialect_json") {
      val pq = tracer.span("ql.parse")(QueryParser.parse(query))
      val iq = tracer.span("ql.interpret")(Interpreter.interpret(pq, Instant.now()))
      df = tracer.span("ql.frame")(engine.frame(iq))
      plan(df)
      if (arrow) {
        val (bytes, n, _) = tracer.span("encode.arrow")(
          ArrowFraming.toIpcStream(df, Output.maxRenderRows))
        rows = n
        Resp(s"""{"ok":true,"format":"arrow","rows":$n,"bytes":${bytes.length}}""", bytes)
      } else {
        val cols = tracer.span("encode.json")(Output.columnJson(df, ZoneOffset.UTC, false))
        Resp(s"""{"ok":true,"columns":$cols}""", Array.emptyByteArray)
      }
    }
    if (tracer.enabled) {
      if (!arrow) rows = Load.parse(resp.line).get("columns").elements().next().size().toLong
      inspect(df, rows)
      counted(resp, rows)
    } else resp
  }

  def route(r: Gen.Route): Resp =
    tracer.span("req.route") {
      val df = tracer.span("storage.route_build")(
        RollupStore.route(spark, r.store, spark.read.parquet(r.raw), r.since, r.until,
          r.maxPoints))
      plan(df)
      val cols = tracer.span("encode.json")(Output.columnJson(df, ZoneOffset.UTC, false))
      Resp(s"""{"ok":true,"columns":$cols}""", Array.emptyByteArray)
    }
}
