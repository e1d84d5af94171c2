package perfbench

import java.io.File
import java.util.concurrent.{CopyOnWriteArrayList, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DoubleType, LongType, StructField}

import graft.ql.Engine
import graft.server.QueryServer
import graft.storage.{DataPoint, Tables, WritableStore}

/** `ingest_live`: writes beside reads. A journaled store takes batches from
  * an open-loop writer at a fixed rate for the measuring time, persisted
  * every 1.5 s, then from a closed-loop writer at saturation for a
  * quarter of that time. Three closed-loop reader connections read from one second
  * before the newest persisted row with `use_cache = false`, so every read
  * bypasses the table cache. After the timed phase the store is dropped
  * without `shutdown()` and reopened, which replays the journal: every
  * acknowledged row must be there exactly once.
  */
object IngestLive {
  val History = 20000
  // 1,000 rows/s in 7 acks/s: a journaled push costs tens of ms whatever
  // its size, so few large batches keep the writer below half busy beside
  // three readers. A persist every 1.5 s stalls a quarter to two fifths of
  // the acks, so the p80 lies inside the stalls and the median outside.
  val Batch = 140
  val IntervalNs = 140L * 1000 * 1000
  val PersistEveryMs = 1500L
  val Readers = 3
  val UserBytesPerRow = 24.0 // ts, value, seq: three 8-byte fields
  val Metric = "live"

  private val fields = Seq(StructField("value", DoubleType), StructField("seq", LongType))

  final case class Fixture(db: File, store: WritableStore, engine: Engine, server: QueryServer,
      port: Int)

  private def open(ctx: Ctx, db: File): WritableStore =
    new WritableStore(ctx.spark, db.getPath, Metric, fields, partitionByDay = true,
      journaled = true)

  private def rows(live: Gen.Live, from: Long, until: Long): Seq[DataPoint] =
    (from until until).map(i => DataPoint(live.ts(i), Seq(live.cents(i) / 100.0, i)))

  def run(ctx: Ctx): Unit = {
    val report = ctx.report
    val live = new Gen.Live(ctx.seed, History)
    val fx = ctx.setup[Fixture] { f => f.server.stop(); Files.rm(f.db) } { k =>
      val db = ctx.dir(s"ingest-db-$k")
      val store = open(ctx, db)
      store.pushMulti(rows(live, 0, History))
      store.persist()
      val engine = new Engine(ctx.spark, db.getPath)
      val server = new QueryServer(engine)
      Fixture(db, store, engine, server, server.start())
    }
    val store = fx.store
    val inproc = new Inproc(ctx.spark, fx.engine, ctx.tracer)

    // seq bookkeeping: rows [0, acked) are acknowledged; persisted sets are
    // seq prefixes, recorded as boundaries in persist order
    val acked = new AtomicLong(History)
    val boundaries = new CopyOnWriteArrayList[java.lang.Long](Seq(java.lang.Long.valueOf(History)).asJava)
    val persistMs = new Sample
    val persistLock = new Object
    val persister = Executors.newSingleThreadScheduledExecutor()
    persister.scheduleAtFixedRate(() => persistLock.synchronized {
      val t0 = System.nanoTime()
      val n = ctx.tracer.span("ingest.persist")(ctx.tracer.span("storage.persist")(store.persist()))
      persistMs.add(Load.ms(t0))
      if (n > 0) boundaries.add(boundaries.get(boundaries.size - 1) + n)
    }, PersistEveryMs, PersistEveryMs, TimeUnit.MILLISECONDS)

    /** Figures of one phase. */
    final class Phase {
      val ack = new Sample
      val push = new Sample
      val read = new Sample
      /** Fresh reads wait for their check until every boundary is known:
        * (since, first seq at or after it, rows, cents, boundary index at
        * start, ms). */
      val pending = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int, Long, Int, Double)]()
      @volatile var maxLateMs = 0.0
      @volatile var satRows = 0L
      @volatile var satS = 0.0
    }

    def push(ph: Phase): Unit = {
      val from = acked.get
      val t0 = System.nanoTime()
      ctx.tracer.span("ingest.push")(ctx.tracer.span("storage.push")(
        store.pushMulti(rows(live, from, from + Batch))))
      ph.push.add(Load.ms(t0))
      acked.addAndGet(Batch)
    }

    /** Open loop: batch k is due at start + k × interval whether or not the
      * previous one was acknowledged; acks are timed from the due time. */
    def openLoop(ph: Phase, seconds: Double): Unit = {
      val start = System.nanoTime()
      val end = start + (seconds * 1e9).toLong
      var k = 0L
      while (start + k * IntervalNs < end) {
        val due = start + k * IntervalNs
        val wait = due - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        else ph.maxLateMs = math.max(ph.maxLateMs, -wait / 1e6)
        push(ph)
        ph.ack.add(Load.ms(due))
        k += 1
      }
    }

    def saturate(ph: Phase, seconds: Double): Unit = {
      val t0 = System.nanoTime()
      val before = acked.get
      while (System.nanoTime() - t0 < seconds * 1e9) push(ph)
      ph.satS = (System.nanoTime() - t0) / 1e9
      ph.satRows = acked.get - before
    }

    /** A read of everything persisted from one second before the newest
      * persisted row: the answer must be a persisted prefix at some
      * boundary recorded after the read began. */
    def read(ph: Phase, exec: String => Resp): Unit = {
      report.attempt()
      val b0 = boundaries.size - 1
      val since = Math.floorDiv(live.ts(boundaries.get(b0) - 1), Gen.SecNs) * Gen.SecNs - Gen.SecNs
      val q = "with format_datetime = false, use_cache = false select * from " +
        s"$Metric where ts >= '${Gen.lit(since)}'"
      try {
        val t0 = System.nanoTime()
        val resp = exec(q)
        val ms = Load.ms(t0)
        Checks.jsonRows(resp) match {
          case Left(err) => report.fail(s"fresh read: $err")
          case Right((n, cents, _, _)) => ph.pending.add((since, live.lower(since), n, cents, b0, ms))
        }
      } catch { case e: Exception => report.fail(s"fresh read: $e") }
    }

    def phase(seconds: Double, inProcess: Boolean): Phase = {
      val ph = new Phase
      val stop = new AtomicBoolean(false)
      val readers = (0 until Readers).map { w =>
        new Thread(() => {
          val conn = if (inProcess) None else Some(new Conn(fx.port))
          val exec: String => Resp = q => conn match {
            case Some(c) => c.call(s"""{"query": "$q"}""")
            case None => inproc.dialect(q, arrow = false)
          }
          try while (!stop.get) read(ph, exec)
          finally conn.foreach(_.close())
        }, s"perfbench-reader-$w")
      }
      readers.foreach(_.start())
      try {
        openLoop(ph, seconds)
        saturate(ph, seconds * 0.25)
      } finally {
        stop.set(true)
        readers.foreach(_.join())
      }
      // a persist's files can be visible before its boundary is recorded,
      // so reads are checked once the phase's last persist has finished
      persistLock.synchronized(())
      ph.pending.asScala.foreach { case (since, lo, n, cents, b0, ms) =>
        val bs = boundaries.asScala.drop(b0).map(_.longValue)
        val prefixOk = if (n == 0) bs.head <= lo else bs.contains(lo + n)
        if (report.check(prefixOk && cents == live.centsSum(lo, lo + n),
            s"fresh read since $since: $n rows / $cents cents is no persisted prefix"))
          ph.read.add(ms)
      }
      report.attempt(ph.push.size.toLong)
      ph
    }

    val (warmS, _) = Load.warmUp(2, 3, 0.15) { () =>
      val ph = phase(1.0, inProcess = false)
      if (ph.read.size == 0) 0.0 else ph.read.p(50)
    }
    report.note("jvm.warmup_s", warmS, "s", 1)

    if (!ctx.trace) {
      val ph = phase(ctx.seconds, inProcess = false)
      report.put("ops_per_s", ph.satRows / ph.satS, "1/s")
      report.put("p50_ms", ph.ack.p(50), "ms")
      report.put("tail_ms", ph.ack.p(80), "ms")
      report.put("aux_p50_ms", ph.read.p(50), "ms")
      report.note("ingest_rows_per_s", ph.satRows / ph.satS, "1/s", ph.satRows.toInt)
      report.note("ack_p50_ms", ph.ack.p(50), "ms", ph.ack.size)
      Tails.note(report, "ack", ph.ack, required = true)
      report.note("fresh_read_p50_ms", ph.read.p(50), "ms", ph.read.size)
      Tails.note(report, "fresh_read", ph.read)
      report.note("loadgen.max_late_ms", ph.maxLateMs, "ms", ph.ack.size)
      ctx.memCheckpoint()
    } else {
      val gc0 = ctx.gcMs
      val plain = phase(ctx.seconds / 2.0, inProcess = false)
      val gc = ctx.gcMs - gc0
      ctx.tracer.reset()
      ctx.tracer.enabled = true
      val traced = phase(ctx.seconds / 2.0, inProcess = true)
      ctx.tracer.enabled = false
      val rec = ctx.tracer.snapshot()
      Layers.requests(ctx, rec, inproc)
      Layers.coverage(ctx, rec, rec.roots("req.") ++ rec.roots("ingest."))
      val r = ctx.report
      r.put("storage.push_p50_ms", traced.push.p(50), "ms")
      r.put("storage.push_p80_ms", traced.push.p(80), "ms")
      r.put("loadgen.max_late_ms", traced.maxLateMs, "ms")
      r.put("jvm.gc_ms", gc, "ms")
      r.put("jvm.warmup_s", warmS, "s")
      r.put("trace.overhead_pct", (traced.ack.p(50) / plain.ack.p(50) - 1) * 100, "%")
      r.note("ack_p50_ms (untraced)", plain.ack.p(50), "ms", plain.ack.size)
      r.note("ack_p50_ms (traced)", traced.ack.p(50), "ms", traced.ack.size)
      r.note("fresh_read_p50_ms (in-process, traced)", traced.read.p(50), "ms", traced.read.size)
      Layers.save(ctx, rec)
    }

    persister.shutdown()
    persister.awaitTermination(60, TimeUnit.SECONDS)
    describe(ctx, fx.port)
    fx.server.stop()
    val r = ctx.report
    val blockDir = new File(fx.db, Metric)
    val journalDir = new File(new File(fx.db, WritableStore.JournalDirName), Metric)
    val persisted = boundaries.get(boundaries.size - 1).longValue
    val buffered = store.bufferedCount.toLong
    val blockBytes = Files.bytes(blockDir).toDouble
    val journalBytes = Files.bytes(journalDir).toDouble
    val total = acked.get
    val stored = (blockBytes + journalBytes) / (total * UserBytesPerRow)
    if (ctx.trace) {
      r.put("storage.persist_p50_ms", persistMs.p(50), "ms")
      r.put("storage.persist_max_ms", persistMs.p(100), "ms")
      r.put("storage.persist_count", persistMs.size.toDouble, "count")
      r.put("storage.block_files", Files.count(blockDir, _.getName.endsWith(".parquet")).toDouble, "count")
      r.put("storage.block_bytes_per_user_byte", blockBytes / (persisted * UserBytesPerRow), "ratio")
      r.put("storage.journal_bytes_per_user_byte",
        if (buffered == 0) 0.0 else journalBytes / (buffered * UserBytesPerRow), "ratio")
      r.put("storage.stored_bytes_per_user_byte", stored, "ratio")
    }
    r.note("stored_bytes_per_user_byte", stored, "ratio", total.toInt)
    durability(ctx, fx.db, total)
    Files.rm(fx.db)
  }

  /** `.describe` over the wire once writes have stopped. Sent while a
    * persist runs, it can fail on the write's vanishing `_temporary`
    * directory, so it is not part of the concurrent read mix. */
  private def describe(ctx: Ctx, port: Int): Unit = {
    ctx.report.attempt()
    val conn = new Conn(port)
    try {
      val resp = conn.call(s"""{"query": "select * from .describe where metrics = $Metric"}""")
      ctx.report.check(Load.parse(resp.line).path("ok").asBoolean(false) &&
        resp.line.contains(Metric), s"describe: ${resp.line.take(200)}")
    } finally conn.close()
  }

  /** Drop the store without `shutdown()` and reopen it: the persisted blocks
    * plus the replayed journal must hold every acknowledged seq once. A
    * process exit keeps unflushed OS-cache bytes, so this cannot test power
    * loss. */
  private def durability(ctx: Ctx, db: File, acked: Long): Unit = {
    ctx.report.attempt()
    val reopened = open(ctx, db)
    val onDisk = Tables.read(ctx.spark, db.getPath, Metric).select("seq").collect().map(_.getLong(0))
    val replayed = reopened.bufferedFrame().select("seq").collect().map(_.getLong(0))
    val all = (onDisk ++ replayed).sorted
    val exact = all.length.toLong == acked && all.indices.forall(i => all(i) == i)
    ctx.report.check(exact,
      s"durability: ${all.length} rows after reopen (${onDisk.length} persisted, " +
        s"${replayed.length} replayed), $acked acknowledged")
    ctx.report.note("durability_rows_checked", all.length.toDouble, "count", all.length)
  }
}
