package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.types.{DoubleType, StringType, StructField}

import graft.ql.Engine
import graft.server.{ArrowFraming, QueryServer}
import graft.storage.{CacheRegistry, DataPoint, RollupStore, Tables, WritableStore}

/** `serve_read`: dashboard and query traffic. Four closed-loop connections
  * over loopback TCP send dialect range reads (as JSON and as Arrow frames)
  * and routed point-budget requests to the query server. Reads use the
  * default table cache, which the three metrics fit. */
object ServeRead {
  val Metrics = 3
  /** Points per metric over 30 days. Reads span 6-24 h, so each returns
    * 1,250-5,000 rows, about what a 1-4 h read returns from 1M points a
    * metric. A 1M-point fixture takes 27-41 s to write (about 8 s per
    * metric in `persist`), and the run builds it three times. */
  val Points = 150000
  val Connections = 4
  /** Warm-up windows: two full request cycles each (36 reads, 4 routes),
    * so consecutive windows carry the same mix. */
  val WarmWindow = 40

  final case class Fixture(db: File, storeDir: File, engine: Engine, server: QueryServer,
      port: Int) {
    def raw: String = new File(db, "m0").getPath
    def store: String = storeDir.getPath
  }

  /** Latencies of one phase of `seconds`, by request class. The rate
    * counts requests completed inside the phase: one slow route still in
    * flight at its end must not stretch the divisor. */
  final class Phase(seconds: Double) {
    val read = new Sample
    val route = new Sample
    private val inTime = new java.util.concurrent.atomic.AtomicInteger
    val deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
    def done(): Unit = if (System.nanoTime() <= deadline) inTime.incrementAndGet()
    def completed: Int = read.size + route.size
    def rate: Double = inTime.get / seconds
  }

  private val fields = Seq(StructField("value", DoubleType), StructField("host", StringType))

  private def build(ctx: Ctx, series: Seq[Gen.Series], k: Int): Fixture = {
    val spark = ctx.spark
    val db = ctx.dir(s"serve-db-$k")
    var t = System.nanoTime()
    def lap(): String = { val n = System.nanoTime(); val s = (n - t) / 1e9; t = n; f"$s%.1f" }
    val laps = series.map { s =>
      val st = new WritableStore(spark, db.getPath, s.name, fields)
      st.pushMulti(s.ts.indices.map(i => DataPoint(s.ts(i), Seq(s.cents(i) / 100.0, s.host(i)))))
      st.persist()
      s"${s.name} ${lap()}"
    }
    val storeDir = new File(ctx.work, s"serve-rollup-$k")
    RollupStore.write(Tables.read(spark, db.getPath, "m0"), storeDir.getPath, Gen.MinNs)
    ctx.report.text(s"fixture build $k (s): write ${laps.mkString(", ")}; rollup ${lap()}")
    val engine = new Engine(spark, db.getPath)
    val server = new QueryServer(engine)
    Fixture(db, storeDir, engine, server, server.start())
  }

  private def close(f: Fixture): Unit = {
    f.server.stop()
    CacheRegistry.clear()
    Files.rm(f.db); Files.rm(f.storeDir)
  }

  def run(ctx: Ctx): Unit = {
    val report = ctx.report
    val series = (0 until Metrics).map(Gen.series(ctx.seed, _, Points))
    val fx = ctx.setup(close)(build(ctx, series, _))
    val reqs = Gen.serveRequests(ctx.seed, Metrics, 4096, fx.store, fx.raw)
    val cursor = new AtomicInteger
    val inproc = new Inproc(ctx.spark, fx.engine, ctx.tracer)

    def one(ph: Phase, exec: Gen.Req => Resp): Unit = {
      val req = reqs(java.lang.Math.floorMod(cursor.getAndIncrement(), reqs.size))
      report.attempt()
      try {
        val t0 = System.nanoTime()
        val resp = exec(req)
        val ms = Load.ms(t0)
        Checks.serve(req, resp, series) match {
          case None =>
            ph.done()
            req match {
              case _: Gen.Dialect => ph.read.add(ms)
              case _: Gen.Route => ph.route.add(ms)
            }
          case Some(err) => report.fail(err)
        }
      } catch { case e: Exception => report.fail(s"$req: $e") }
    }

    def overTcp(seconds: Double): Phase = {
      val conns = (0 until Connections).map(_ => new Conn(fx.port))
      val ph = new Phase(seconds)
      try Load.closed(ph.deadline)(Connections)(w => one(ph, r => conns(w).call(r.line)))
      finally conns.foreach(_.close())
      ph
    }

    /** Requests per second over exactly `n` requests on fresh connections. */
    def tcpWindow(n: Int): Double = {
      val conns = (0 until Connections).map(_ => new Conn(fx.port))
      val ph = new Phase(3600.0) // collects the checks; its rate is unused
      val t0 = System.nanoTime()
      try Load.count(n)(Connections)(w => one(ph, r => conns(w).call(r.line)))
      finally conns.foreach(_.close())
      n / ((System.nanoTime() - t0) / 1e9)
    }

    def inProcess(seconds: Double): Phase = {
      val ph = new Phase(seconds)
      Load.closed(ph.deadline)(Connections)(_ => one(ph, {
        case d: Gen.Dialect => inproc.dialect(d.query, d.arrow)
        case r: Gen.Route => inproc.route(r)
      }))
      ph
    }

    val (warmS, warmRates) = Load.warmUp(2, 5, 0.10)(() => tcpWindow(WarmWindow))
    report.note("jvm.warmup_s", warmS, "s", warmRates.size * WarmWindow)
    report.text(s"warm-up windows of $WarmWindow requests (1/s): ${warmRates.map(r => f"$r%.2f").mkString(" ")}" +
      (if (Load.stable(warmRates, 0.10)) "" else " (not yet stable)"))

    if (!ctx.trace) {
      val ph = overTcp(ctx.seconds)
      report.put("ops_per_s", ph.rate, "1/s")
      report.put("p50_ms", ph.read.p(50), "ms")
      report.put("tail_ms", ph.read.p(80), "ms")
      report.put("aux_p50_ms", ph.route.p(50), "ms")
      report.note("requests_per_s", ph.rate, "1/s", ph.completed)
      report.note("read_p50_ms", ph.read.p(50), "ms", ph.read.size)
      Tails.note(report, "read", ph.read, required = true)
      report.note("route_p50_ms", ph.route.p(50), "ms", ph.route.size)
      Tails.note(report, "route", ph.route)
      ctx.memCheckpoint()
    } else {
      val third = ctx.seconds / 3.0
      val gc0 = ctx.gcMs
      val tcp = overTcp(third)
      val gc = ctx.gcMs - gc0
      val plain = inProcess(third)
      ctx.tracer.reset()
      ctx.tracer.enabled = true
      val traced = inProcess(third)
      ctx.tracer.enabled = false
      val rec = ctx.tracer.snapshot()
      Layers.requests(ctx, rec, inproc)
      Layers.coverage(ctx, rec, rec.roots("req."))
      report.put("server.wire_ms", tcp.read.p(50) - traced.read.p(50), "ms")
      report.put("trace.overhead_pct", (traced.read.p(50) / plain.read.p(50) - 1) * 100, "%")
      report.put("jvm.gc_ms", gc, "ms")
      report.put("jvm.warmup_s", warmS, "s")
      report.note("read_p50_ms (tcp, untraced)", tcp.read.p(50), "ms", tcp.read.size)
      report.note("read_p50_ms (in-process)", plain.read.p(50), "ms", plain.read.size)
      report.note("read_p50_ms (in-process, traced)", traced.read.p(50), "ms", traced.read.size)
      Layers.save(ctx, rec)
    }
    close(fx)
  }
}

/** Output checks against the generator's own answers. */
object Checks {
  /** None when the response is right, else what was wrong. */
  def serve(req: Gen.Req, resp: Resp, series: Seq[Gen.Series]): Option[String] = req match {
    case d: Gen.Dialect =>
      val s = series(d.metric)
      val got = if (d.arrow) arrowRows(resp) else jsonRows(resp)
      got match {
        case Left(err) => Some(s"$d: $err")
        case Right((n, cents, lo, hi)) =>
          val want = s.count(d.since, d.until)
          val wantCents = s.centsSum(d.since, d.until)
          if (n != want || cents != wantCents)
            Some(s"$d: $n rows / $cents cents, want $want / $wantCents")
          else if (n > 0 && (lo < d.since || hi >= d.until)) Some(s"$d: ts outside range")
          else None
      }
    case r: Gen.Route =>
      val node = Load.parse(resp.line)
      if (!node.path("ok").asBoolean(false)) Some(s"$r: ${resp.line.take(200)}")
      else {
        val cols = node.get("columns")
        val n = cols.get("n")
        val got = (0 until n.size()).map(n.get(_).asLong()).sum
        val grain = if (n.size() == 0) 0L else cols.get("grain_ns").get(0).asLong()
        val want =
          if (grain == 0) series.head.count(r.since, r.until).toLong
          else {
            val lo = Math.floorDiv(r.since, grain) * grain
            val hi = (Math.floorDiv(r.until - 1, grain) + 1) * grain
            series.head.count(lo, hi).toLong
          }
        if (got != want) Some(s"$r: bucket n sums to $got, raw count is $want") else None
      }
  }

  /** (rows, value sum in cents, min ts, max ts) of a column-JSON answer. */
  def jsonRows(resp: Resp): Either[String, (Int, Long, Long, Long)] = {
    val node = Load.parse(resp.line)
    if (!node.path("ok").asBoolean(false)) Left(resp.line.take(200))
    else {
      val cols = node.get("columns")
      if (cols.has("__truncated__")) Left("response truncated")
      else {
        val ts = cols.get("ts"); val v = cols.get("value")
        var cents = 0L; var lo = Long.MaxValue; var hi = Long.MinValue
        var i = 0
        while (i < ts.size()) {
          cents += Math.round(v.get(i).asDouble() * 100)
          lo = math.min(lo, ts.get(i).asLong()); hi = math.max(hi, ts.get(i).asLong())
          i += 1
        }
        Right((ts.size(), cents, lo, hi))
      }
    }
  }

  /** The same figures from a decoded Arrow frame. */
  def arrowRows(resp: Resp): Either[String, (Int, Long, Long, Long)] = {
    val head = Load.parse(resp.line)
    if (!head.path("ok").asBoolean(false)) Left(resp.line.take(200))
    else if (head.has("truncated")) Left("response truncated")
    else {
      val (names, rows) = ArrowFraming.fromIpcStream(resp.payload)
      val ti = names.indexOf("ts"); val vi = names.indexOf("value")
      if (rows.size.toLong != head.get("rows").asLong()) Left("arrow rows differ from header")
      else {
        val ts = rows.map(_(ti).asInstanceOf[Long])
        Right((rows.size, rows.map(r => Math.round(r(vi).asInstanceOf[Double] * 100)).sum,
          if (ts.isEmpty) Long.MaxValue else ts.min, if (ts.isEmpty) Long.MinValue else ts.max))
      }
    }
  }
}

object Files {
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def count(f: File, p: File => Boolean): Int =
    if (f.isFile) (if (p(f)) 1 else 0)
    else Option(f.listFiles()).map(_.map(count(_, p)).sum).getOrElse(0)
}
