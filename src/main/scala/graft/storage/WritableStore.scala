package graft.storage

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TimeNano

/** One ingest row: epoch-nano timestamp + typed field values
  * (`zikeiretsu/src/tsdb/data_types/datapoint.rs:10-13`). */
final case class DataPoint(tsNanos: Long, fields: Seq[Any])

/** Ingest path: buffered, sorted, flushed to Parquet "blocks".
  *
  * Mirrors the reference's `WritableStore`
  * (`zikeiretsu/src/tsdb/store/writable_store/mod.rs`): `push` appends to a
  * dirty buffer; reads/persist first fold the buffer in sorted by (ts,
  * insertion order) — duplicate timestamps are legal and preserved in arrival
  * order (`store/mod.rs:500-521`). `persist` writes the selected range as one
  * sorted Parquet append ("block"), optionally clearing it from memory.
  *
  * Durability: with `journaled = true` the store keeps a WAL-equivalent
  * staging journal (the reference's `wal.dat` lifecycle,
  * `storage/wal/single_file_wal.rs:52-111`, `writable_store/mod.rs:82-97`,
  * re-expressed as Parquet): every push appends the batch to
  * `dbDir/.journal/<metrics>/` with arrival sequence numbers, a reopened
  * store folds surviving journal rows back into the buffer, and a
  * successful persist truncates the journal down to whatever stayed
  * buffered. Unflushed rows therefore survive a crash.
  *
  * Journal appends are direct local `ParquetWriter` writes (one small file
  * per push, written under a hidden name and atomically renamed in) — no
  * Spark job on the push path, so write-on-push latency is file-IO bound
  * like the reference's `wal.dat` append. The file count is bounded: once
  * it exceeds [[WritableStore.JournalCompactFiles]] the journal is
  * rewritten to a single file.
  *
  * Cross-process safety: persist/compact, journal writes, and open-time
  * recovery hold the reference's writer lockfile
  * (`storage/api/write.rs:184-202`, path scheme `api/mod.rs:114-116` —
  * `<metrics>.lock` in the db dir, writer id inside): atomic
  * create-or-fail with a bounded wait on live contention
  * (GRAFT_LOCK_WAIT_MS, default 10 s), heartbeat-refreshed mtime while
  * held, stale takeover when the holder died (lock untouched longer than
  * GRAFT_LOCK_STALE_MS, default 30 min), ownership-checked release.
  * Disable with `locking = false` for single-process use.
  *
  * Deliberate divergences, documented:
  *  - blocks are date-bucket partitioned (`__day=YYYY-MM-DD/`) so directory
  *    pruning kicks in before row-group stats at scale.
  */
final class WritableStore(
    spark: SparkSession,
    dbDir: String,
    metrics: String,
    fieldSchema: Seq[StructField],
    validate: Boolean = true,
    partitionByDay: Boolean = false,
    journaled: Boolean = false,
    locking: Boolean = true
) {
  import WritableStore._

  private val buffer = ArrayBuffer.empty[DataPoint]
  private var sortedUpTo = 0 // prefix of `buffer` known to be sorted
  private var scheduler: Option[ScheduledExecutorService] = None

  val schema: StructType =
    StructType(StructField("ts", LongType, nullable = false) +: fieldSchema)

  private val journalSchema: StructType =
    StructType(schema.fields :+ StructField("__seq", LongType, nullable = false))
  private def journalDir: java.io.File =
    new java.io.File(new java.io.File(dbDir, JournalDirName), metrics)
  private var journalSeq = 0L

  // Crash recovery on open, before any replay/reads:
  //  - a journal rewrite that died mid-swap leaves the truth in
  //    `<journal>.tmp` (complete iff _SUCCESS — the newest copy) or
  //    `<journal>.old` (the pre-rewrite journal, renamed aside, never
  //    deleted in place) — promote whichever is complete, newest first;
  //  - a compaction that died mid-swap leaves the table in `.compact-*-tmp`
  //    (complete iff _SUCCESS exists) or `.compact-*-old` — promote
  //    whichever is complete, newest first.
  // Once the target exists, leftover side copies are stale — delete them so
  // they can never shadow a future swap.
  private def promoteIfOrphan(target: java.io.File, candidates: Seq[java.io.File],
      needSuccess: Boolean): Unit = {
    if (!target.exists) {
      candidates.find(c => c.isDirectory &&
          (!needSuccess || new java.io.File(c, "_SUCCESS").exists))
        .foreach { c => require(c.renameTo(target), s"recovery rename failed: $c") }
    }
    candidates.foreach(c => if (target.exists) rmTree(c))
  }
  // recovery + replay hold the writer lock: a second process opening the
  // same metrics must not sweep a LIVE writer's in-progress append or
  // rmTree a live compactor's tmp dir — only genuinely orphaned state
  locally {
    withWriterLock {
      val dataDir = new java.io.File(dbDir, metrics)
      val cTmp = new java.io.File(dbDir, s".compact-$metrics-tmp")
      val cOld = new java.io.File(dbDir, s".compact-$metrics-old")
      promoteIfOrphan(dataDir, Seq(cTmp, cOld), needSuccess = true)
      if (journaled) {
        promoteIfOrphan(journalDir,
          Seq(new java.io.File(journalDir.getPath + ".tmp"),
              new java.io.File(journalDir.getPath + ".old")), needSuccess = true)
        // a crashed direct append leaves a hidden in-progress file — drop it
        // (its rows never ack'd; the rename into *.parquet is the commit point)
        Option(journalDir.listFiles())
          .foreach(_.filter(_.getName.startsWith(InProgressPrefix)).foreach(_.delete()))
      }
      // WAL replay on open: fold surviving journal rows (in arrival order)
      // back into the dirty buffer, exactly like the reference replays wal.dat
      if (journaled && journalDir.isDirectory &&
          Option(journalDir.listFiles()).exists(_.exists(_.getName.endsWith(".parquet")))) {
        val rows = spark.read.schema(journalSchema)
          .parquet(journalDir.getPath).orderBy("__seq").collect()
        buffer ++= rows.map { r =>
          DataPoint(r.getLong(0), (1 until schema.length).map(r.get))
        }
        journalSeq = rows.lastOption.map(_.getLong(schema.length) + 1).getOrElse(0L)
      }
    }
  }

  def push(dp: DataPoint): Unit = pushMulti(Seq(dp))

  def pushMulti(dps: Seq[DataPoint]): Unit = synchronized {
    if (validate) dps.foreach { dp =>
      require(dp.fields.length == fieldSchema.length,
        s"field count ${dp.fields.length} != schema ${fieldSchema.length}")
    }
    if (journaled && dps.nonEmpty) withWriterLock(appendJournal(dps))
    buffer ++= dps
    // bound the append-file count: small frequent pushes otherwise grow the
    // journal dir (and replay cost) linearly until the next persist
    if (journaled && journalFileCount > JournalCompactFiles)
      withWriterLock(rewriteJournal())
  }

  private def journalFileCount: Int =
    Option(journalDir.listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  /** Append a pushed batch to the staging journal (write-on-push). A direct
    * local ParquetWriter — no Spark job — written under a hidden
    * in-progress name and renamed in atomically, so a crash mid-append can
    * never corrupt replay. */
  private def appendJournal(dps: Seq[DataPoint]): Unit = {
    val first = journalSeq
    journalSeq += dps.length
    writeJournalFile(journalDir,
      dps.zipWithIndex.map { case (dp, i) => (dp, first + i) })
  }

  /** Rewrite the journal to exactly the current buffer (truncate-on-persist /
    * purge / append-file compaction). Two-rename swap — the live journal is
    * renamed aside, never deleted in place — so at every crash point either
    * the live dir exists or a complete copy does, and recovery prefers the
    * newer `.tmp` (complete iff _SUCCESS) over the pre-rewrite `.old`. */
  private def rewriteJournal(): Unit = {
    val tmp = new java.io.File(journalDir.getPath + ".tmp")
    val old = new java.io.File(journalDir.getPath + ".old")
    rmTree(tmp); rmTree(old)
    journalSeq = buffer.length.toLong
    tmp.mkdirs()
    if (buffer.nonEmpty)
      writeJournalFile(tmp, buffer.toSeq.zipWithIndex.map { case (dp, i) => (dp, i.toLong) })
    // an empty buffer still writes the (empty) tmp with its _SUCCESS marker:
    // recovery must prefer it over `.old`, or a crash between the two renames
    // would resurrect already-persisted rows
    val succ = new java.io.File(tmp, "_SUCCESS")
    if (!succ.exists) { succ.createNewFile(); () }
    if (journalDir.exists)
      require(journalDir.renameTo(old), s"journal swap (live->old) failed for $metrics")
    require(tmp.renameTo(journalDir), s"journal swap (tmp->live) failed for $metrics")
    rmTree(old)
  }

  /** Write one sorted journal parquet file into `dir` via a local
    * ParquetWriter (parquet-hadoop's example Group writer — already on
    * Spark's classpath). Commit point is the rename to `*.parquet`. */
  private def writeJournalFile(dir: java.io.File, rows: Seq[(DataPoint, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    dir.mkdirs()
    val succ = new java.io.File(dir, "_SUCCESS")
    if (!succ.exists) { succ.createNewFile(); () }
    val inProgress = new java.io.File(dir,
      s"$InProgressPrefix${rows.head._2}-${System.nanoTime()}")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(inProgress.getPath),
        spark.sessionState.newHadoopConf()))
      .withType(journalMessageType)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(journalMessageType)
    val fieldTypes = journalSchema.fields.map(_.dataType)
    try rows.foreach { case (dp, seq) =>
      val g = factory.newGroup()
      (dp.tsNanos +: dp.fields :+ seq).zip(fieldTypes).zipWithIndex.foreach {
        case ((v, dt), i) => addGroupValue(g, i, coerce(v, dt))
      }
      writer.write(g)
    } finally writer.close()
    // nanoTime suffix: seq ranges can repeat if two stores ever replayed the
    // same journal — a colliding name must never silently replace a file
    val committed = new java.io.File(dir,
      s"part-${rows.head._2}-${rows.last._2}-${System.nanoTime()}.parquet")
    require(!committed.exists && inProgress.renameTo(committed),
      s"journal append commit failed for $metrics")
  }

  private def addGroupValue(g: org.apache.parquet.example.data.Group, idx: Int,
      v: Any): Unit = v match {
    case null            => ()
    case l: Long         => g.add(idx, l)
    case d: Double       => g.add(idx, d)
    case i: Int          => g.add(idx, i)
    case f: Float        => g.add(idx, f)
    case b: Boolean      => g.add(idx, b)
    case s: String       => g.add(idx, s)
    case b: Array[Byte]  =>
      g.add(idx, org.apache.parquet.io.api.Binary.fromConstantByteArray(b))
    case s: Short        => g.add(idx, s.toInt)
    case b: Byte         => g.add(idx, b.toInt)
    case other => throw new IllegalArgumentException(
      s"journal: unsupported value ${other.getClass.getName} at field $idx")
  }

  /** Parquet schema for the journal, matching what Spark's reader expects
    * for [[journalSchema]] (so replay can read with an explicit schema). */
  private lazy val journalMessageType: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type, Types}
    import PrimitiveType.PrimitiveTypeName._
    val b = Types.buildMessage()
    journalSchema.fields.foreach { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      def prim(t: PrimitiveType.PrimitiveTypeName,
          ann: LogicalTypeAnnotation = null): Type = {
        val tb = Types.primitive(t, rep)
        (if (ann != null) tb.as(ann) else tb).named(f.name)
      }
      b.addField(f.dataType match {
        case LongType    => prim(INT64)
        case DoubleType  => prim(DOUBLE)
        case IntegerType => prim(INT32)
        case FloatType   => prim(FLOAT)
        case BooleanType => prim(BOOLEAN)
        case StringType  => prim(BINARY, LogicalTypeAnnotation.stringType())
        case BinaryType  => prim(BINARY)
        case ShortType   => prim(INT32, LogicalTypeAnnotation.intType(16, true))
        case ByteType    => prim(INT32, LogicalTypeAnnotation.intType(8, true))
        case dt => throw new IllegalArgumentException(
          s"journaled store: unsupported field type $dt for ${f.name}")
      })
    }
    b.named("graft_journal")
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  // lazy: the constructor's recovery block takes the lock before vals
  // declared here would otherwise be initialized
  private lazy val writerId = java.util.UUID.randomUUID().toString
  private def lockFile = new java.io.File(dbDir, s"$metrics.lock")
  private var lockDepth = 0 // re-entrancy (all lock users run synchronized)

  /** Run `body` holding the cross-process writer lock for this metrics
    * (reference `write_datas_to_local`, `storage/api/write.rs:191-203`):
    * atomic lockfile create, writer id written in, released only if still
    * ours. A live foreign lock is waited on (poll up to
    * GRAFT_LOCK_WAIT_MS, default 10 s — contention from a concurrent
    * persist is transient, not an error), then fails. A stale one (holder
    * crashed — mtime older than GRAFT_LOCK_STALE_MS, default 30 min) is
    * taken over via an atomic rename, so concurrent stealers can't both
    * win. While held, a shared daemon heartbeat refreshes the lock mtime
    * every staleMs/3, so an operation of ANY length (a multi-hour
    * compact) never looks stale to contenders — only a genuinely dead (or
    * long-suspended) holder's lock ages out; release therefore re-checks
    * the writer id and never deletes a lock a contender legitimately
    * stole while this JVM was suspended.
    */
  private def withWriterLock[T](body: => T): T = synchronized {
    if (!locking) body
    else if (lockDepth > 0) {
      lockDepth += 1
      try body finally lockDepth -= 1
    } else {
      val f = lockFile
      Option(f.getParentFile).foreach(_.mkdirs())
      def cfgMs(prop: String, env: Option[String], dflt: Long): Long =
        sys.props.get(prop).orElse(env).map(_.toLong).getOrElse(dflt)
      val staleMs = cfgMs("graft.lockStaleMs",
        sys.env.get("GRAFT_LOCK_STALE_MS"), 1800000L)
      val waitMs  = cfgMs("graft.lockWaitMs",
        sys.env.get("GRAFT_LOCK_WAIT_MS"), 10000L)
      def tryAcquire(): Boolean =
        try { java.nio.file.Files.createFile(f.toPath); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      def tryStealStale(): Boolean =
        f.lastModified() > 0 &&
          System.currentTimeMillis() - f.lastModified() > staleMs && {
            // atomic steal: only one contender wins the rename
            val steal = new java.io.File(f.getPath + s".steal-$writerId")
            f.renameTo(steal) && { steal.delete(); true }
          }
      val deadline = System.currentTimeMillis() + waitMs
      var acquired = tryAcquire() || (tryStealStale() && tryAcquire())
      while (!acquired && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        acquired = tryAcquire() || (tryStealStale() && tryAcquire())
      }
      if (!acquired)
        throw new IllegalStateException(
          s"metrics '$metrics' is write-locked by another writer " +
            s"(${f.getPath}) — remove the lockfile if its holder crashed")
      // everything past the acquire runs under try: a failure in setup
      // (heartbeat schedule, id write) must still release depth + file
      lockDepth = 1
      var heartbeat: Option[java.util.concurrent.ScheduledFuture[_]] = None
      try {
        val periodMs = math.max(1000L, staleMs / 3)
        heartbeat = Some(WritableStore.lockToucher.scheduleAtFixedRate(
          () => { f.setLastModified(System.currentTimeMillis()); () },
          periodMs, periodMs, TimeUnit.MILLISECONDS))
        val out = new java.io.FileOutputStream(f)
        try out.write(writerId.getBytes("UTF-8")) finally out.close()
        body
      } finally {
        heartbeat.foreach(_.cancel(false))
        lockDepth = 0
        // release only if the lock is still ours: a contender that stole a
        // genuinely-stale lock (this JVM suspended past staleMs) now owns it
        val holder =
          try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          catch { case _: Exception => "" }
        if (holder.isEmpty || holder == writerId) { f.delete(); () }
      }
    }
  }

  /** Sort the dirty suffix and merge — stable, so equal timestamps keep
    * arrival order (reference sorts dirty datapoints then merge-inserts,
    * `writable_store/mod.rs:167-208`). */
  private def applyDirties(): Unit = synchronized {
    if (sortedUpTo < buffer.length) {
      val all = buffer.sortBy(_.tsNanos) // scala sortBy is stable
      buffer.clear()
      buffer ++= all
      sortedUpTo = buffer.length
    }
  }

  def bufferedFrame(): DataFrame = synchronized {
    applyDirties()
    toDf(buffer.toSeq)
  }

  /** Coerce a pushed value to its declared field type. Scala harmonizes
    * mixed numeric Seq literals (`Seq(1L, 1.0)` becomes `Seq[Double]`), so
    * boxed types at the push site routinely drift from the schema; ingest
    * normalizes instead of failing deep inside the row encoder. */
  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                  => null
    case (n: Number, LongType)      => n.longValue()
    case (n: Number, DoubleType)    => n.doubleValue()
    case (n: Number, IntegerType)   => n.intValue()
    case (n: Number, FloatType)     => n.floatValue()
    case (n: Number, ShortType)     => n.shortValue()
    case (n: Number, ByteType)      => n.byteValue()
    case (other, _)                 => other
  }

  private def toDf(dps: Seq[DataPoint]): DataFrame = {
    val fieldTypes = schema.fields.map(_.dataType)
    val rows = dps.map { dp =>
      val vals = (dp.tsNanos +: dp.fields).zip(fieldTypes)
        .map { case (v, dt) => coerce(v, dt) }
      Row.fromSeq(vals)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 500000 + 1)),
      schema)
  }

  /** Flush buffered rows in `[since, until)` (None = all) to a Parquet block;
    * `clearAfter` evicts them from the buffer (reference
    * `persist(PersistCondition)` `writable_store/mod.rs:230-275`). */
  def persist(since: Option[Long] = None, until: Option[Long] = None,
      clearAfter: Boolean = true): Long = synchronized {
    applyDirties()
    val inRange = buffer.toSeq.filter { dp =>
      since.forall(dp.tsNanos >= _) && until.forall(dp.tsNanos < _)
    }
    if (inRange.nonEmpty) withWriterLock {
      val df = toDf(inRange).sortWithinPartitions("ts")
      val w0 = df.coalesce(math.max(1, inRange.length / 2000000))
      val target = new java.io.File(dbDir, metrics).getPath
      if (partitionByDay) {
        w0.withColumn(PartitionCol, FileTree.dayCol("ts"))
          .write.mode("append").partitionBy(PartitionCol).parquet(target)
      } else {
        w0.write.mode("append").parquet(target)
      }
      if (clearAfter) {
        val keep = buffer.toSeq.filterNot { dp =>
          since.forall(dp.tsNanos >= _) && until.forall(dp.tsNanos < _)
        }
        buffer.clear(); buffer ++= keep; sortedUpTo = buffer.length
        // flushed rows are durable in their block now — truncate the journal
        // to the still-buffered remainder (reference WAL clean-after-persist)
        if (journaled) rewriteJournal()
      }
    }
    inRange.length.toLong
  }

  /** Range-delete from the in-memory buffer
    * (`writable_store/mod.rs:215-227`). */
  def purge(since: Long, until: Long): Unit = synchronized {
    applyDirties()
    val keep = buffer.toSeq.filterNot(dp => dp.tsNanos >= since && dp.tsNanos < until)
    buffer.clear(); buffer ++= keep; sortedUpTo = buffer.length
    // replay must not resurrect purged rows
    if (journaled) withWriterLock(rewriteJournal())
  }

  /** Periodic persistence daemon
    * (`store/writable_store/persistence.rs:54-131`); `shutdown()` does a
    * final flush. */
  def startPeriodicPersist(intervalMillis: Long): Unit = synchronized {
    require(scheduler.isEmpty, "already started")
    val ex = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, s"graft-persist-$metrics"); t.setDaemon(true); t
    })
    ex.scheduleAtFixedRate(() => persist(), intervalMillis, intervalMillis,
      TimeUnit.MILLISECONDS)
    scheduler = Some(ex)
  }

  /** Compact the persisted blocks of this metrics: read every block file,
    * globally sort by ts, and rewrite as ~`targetRowsPerBlock`-row sorted
    * blocks via a tmp-dir swap. Answers the small-files problem batch
    * ingest accrues (every flush is one file; footer/listing overhead grows
    * per block — the reference never compacts because its block list is one
    * index file, ours benefits directly). Single-writer assumption applies:
    * no readers/writers may hold the table during the swap. Returns the
    * number of rows compacted.
    *
    * `zOrderBy` upgrades the layout from the plain ts sort to a Morton
    * clustering of (ts, those columns) — [[ZOrder]] applied to the store's
    * own blocks. A ts-only sort prunes time ranges beautifully but is
    * blind to every other predicate; naming the store's other hot filter
    * column (a series key, a user id) makes file and row-group stats
    * prune in BOTH dimensions at once (the measured 31%-vs-100% file-hit
    * trade of `zorder_scan`, now available to the metrics store without a
    * side copy). Pure-ts time scans over the z-ordered layout read more
    * row groups than a pure ts sort would — the standard z-order trade;
    * pick it when multi-dimension slices dominate the read mix.
    */
  def compact(targetRowsPerBlock: Long = 4000000L,
      zOrderBy: Seq[String] = Nil): Long = synchronized {
    val dir = new java.io.File(dbDir, metrics)
    if (!dir.isDirectory) return 0L
    Tables.configure(spark)
    val df = spark.read.parquet(dir.getPath)
    val rows = df.count()
    if (rows == 0) return 0L
    val nBlocks = math.max(1L, (rows + targetRowsPerBlock - 1) / targetRowsPerBlock).toInt
    withWriterLock {
      val tmp = new java.io.File(dbDir, s".compact-$metrics-tmp")
      val old = new java.io.File(dbDir, s".compact-$metrics-old")
      rmTree(tmp); rmTree(old)
      // the rewrite's cluster key: plain ts, or the interleaved z-value
      // over (ts, zOrderBy) — computed once, dropped before the write so
      // the block schema is unchanged either way
      val keyed =
        if (zOrderBy.isEmpty) (df, "ts")
        else (df.withColumn("__z",
          ZOrder.zValue(df, "ts" +: zOrderBy)), "__z")
      val (kdf, key) = keyed
      val sorted =
        if (df.columns.contains(PartitionCol))
          // keep date bucketing: cluster within each day dir
          kdf.repartition(nBlocks, col(PartitionCol))
            .sortWithinPartitions(PartitionCol, key)
            .drop("__z")
            .write.partitionBy(PartitionCol)
        else
          // global range sort on the key → files are disjoint key ranges
          // (tight footers in every clustered dimension)
          kdf.repartitionByRange(nBlocks, col(key))
            .sortWithinPartitions(key)
            .drop("__z")
            .write
      sorted.parquet(tmp.getPath)
      // recoverable swap: at every crash point either the live dir exists or
      // a complete copy (tmp has _SUCCESS, old is the original) is promoted
      // back on the next store open
      require(dir.renameTo(old), s"compact swap (live→old) failed for $metrics")
      require(tmp.renameTo(dir), s"compact swap (tmp→live) failed for $metrics")
      rmTree(old)
      spark.catalog.refreshByPath(dir.getPath)
      rows
    }
  }

  def shutdown(): Unit = synchronized {
    scheduler.foreach { ex => ex.shutdown(); ex.awaitTermination(10, TimeUnit.SECONDS) }
    scheduler = None
    persist()
    ()
  }

  def bufferedCount: Int = synchronized(buffer.length)
}

object WritableStore {
  /** Date-bucket partition column written by [[WritableStore.persist]];
    * stripped from the logical schema on read ([[Tables.read]]). */
  val PartitionCol = "__day"

  /** Staging-journal root under the database dir; dot-prefixed so
    * [[Tables.listMetrics]] never surfaces it as a metrics. */
  val JournalDirName = ".journal"

  /** Hidden prefix for in-flight journal appends (ignored by Spark's file
    * listing and dropped on recovery); the rename to `*.parquet` commits. */
  val InProgressPrefix = ".inprogress-"

  /** Max journal append files before the journal is rewritten to one file —
    * bounds replay cost and directory growth under small frequent pushes. */
  val JournalCompactFiles = 64

  /** Shared daemon scheduler refreshing held lockfiles' mtimes (one thread
    * for the whole JVM; per-acquisition tasks are scheduled and
    * cancelled). */
  private lazy val lockToucher: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-lock-heartbeat"); t.setDaemon(true); t
    })
}
