package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest lifecycle for the counter RECORDING RULE — the store behind
  * [[graft.operators.TsOps.counterIncrease]] rows, with the
  * [[RollupStore]] discipline applied to the monitoring-counter shape
  * (the reference computes every aggregate from raw samples,
  * `zikeiretsu/src/tsdb/query/executor/mod.rs`; a recording rule AT REST
  * is the standard at-scale extension SURVEY.md §2.4 sanctions).
  *
  * Layout: ONE parquet tree of per-bucket increase rows
  * `(keys..., bucket, bucket_ns, n_deltas, inc_cents, n_resets,
  * batch_key)`, partitioned by `__day` derived from
  * `bucket * bucket_ns` (the [[FileTree]] `__day` convention, so range
  * trims drop whole day directories). All three measures are plain
  * longs and deltas land in the OBSERVING sample's bucket
  * ([[graft.operators.TsOps.counterIncrease]]'s contract), so partials
  * merge by ADDITION at any coarser grain — a fold over stored rows
  * equals the direct pass bit for bit, which is what makes the whole
  * lifecycle (append / replay dedup / compact / coarsening tier) exact
  * rather than approximate.
  *
  * Ingest follows the rollup-store discipline: [[write]] stamps
  * `batch_key = "base"`; each producer batch [[append]]s its increase
  * rows under a replay-stable key ([[graft.streaming.StreamIngest
  * .counterIngest]] derives it from (checkpoint, micro-batch id)), so an
  * at-least-once redelivery lands DUPLICATE (keys, bucket, bucket_ns,
  * batch_key) rows every reader and [[compact]] drop before summing.
  * NOTE the producer boundary: the store accumulates increase ROWS, not
  * samples — the cross-batch lag (last sample per series) lives with the
  * producer (the one keyed window of a batch [[graft.operators.TsOps
  * .counterIncrease]] pass, or the streaming twin's one-long state), so
  * splitting a day's increase rows across appends is free, but computing
  * increase independently per slice of SAMPLES would silently drop every
  * cross-slice delta.
  *
  * 100 TB shape: the store is ~(samples / samples-per-bucket) rows — KB
  * to GB where raw is TB; reads are partition-pruned scans + one
  * combinable aggregation; [[tierOff]] keeps a fine recent window and an
  * old coarse tail exactly like the rollup cascade.
  *
  * At rest the store shares [[RollupStore]]'s machinery under its own
  * read and wording: readers ([[read]], [[readTiered]], [[route]]) open
  * it through the listing-validated snapshot
  * ([[RollupStore.storeAtRest]]), so a warm read over an unchanged store
  * builds its plan with no Spark job; writers ([[append]], [[compact]],
  * [[tierOff]]) read it directly through the shared width probe.
  */
object CounterStore {

  private val What = "counter store"

  private val ReservedCols: Set[String] = Set("bucket", "bucket_ns",
    "n_deltas", "inc_cents", "n_resets", "batch_key",
    WritableStore.PartitionCol)

  /** Keys are self-describing, exactly as in [[RollupStore]]: any
    * non-reserved column is a group key riding every fold. */
  private def keyColsOf(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(ReservedCols.contains)

  private def requireShape(df: DataFrame, context: String): Seq[String] = {
    val missing = Seq("bucket", "n_deltas", "inc_cents", "n_resets")
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$context: increase rows lack ${missing.mkString(", ")} — the " +
        "store accumulates counterIncrease output, not raw samples")
    keyColsOf(df)
  }

  /** The store's own read: plain parquet, one footer's schema. */
  private def storeRead(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** One batch's rows (or, for [[compact]], the replay-deduped store),
    * folded to one row per (keys, bucket) and stamped with the store's
    * self-description. The fold makes the append shape canonical whether
    * the producer handed per-bucket rows (batch counterIncrease) or finer
    * partials.
    *
    * ALIGNED WRITES: the frame repartitions on `__day` before the
    * partitioned write, so each day directory receives ONE file instead
    * of one per (task × day). Without it, a store spanning D days written
    * from P tasks opens up to D×P writers and lands D×P near-empty
    * parquet files — measured 25× (not 10×) build cost at 10× the span,
    * with every later read paying the listing. The extra shuffle moves
    * only the KB-per-day folded rows. */
  private def canonical(df: DataFrame, batchKey: String,
      bucketNanos: Long): DataFrame = {
    val keys = requireShape(df, "CounterStore")
    df.groupBy((keys :+ "bucket").map(col): _*)
      .agg(sum("n_deltas").as("n_deltas"),
        sum("inc_cents").as("inc_cents"),
        sum("n_resets").as("n_resets"))
      .withColumn("bucket_ns", lit(bucketNanos))
      .withColumn("batch_key", lit(batchKey))
      .withColumn(WritableStore.PartitionCol,
        FileTree.dayCol(s"bucket * ${bucketNanos}L"))
      .repartition(col(WritableStore.PartitionCol))
  }

  /** Build a counter store from increase rows: one atomic publish of the
    * whole tree (two-rename; a crash leaves a complete store). */
  def write(increase: DataFrame, path: String, bucketNanos: Long): Unit = {
    require(bucketNanos > 0, s"bucketNanos must be positive: $bucketNanos")
    AtomicDir.publish(increase.sparkSession, path, What) { tmp =>
      canonical(increase, "base", bucketNanos)
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }

  /** Append one producer batch's increase rows under a replay-stable
    * key. Grain and key-set validation mirror [[RollupStore.append]] —
    * SEPARATE gates, so a streaming appender that probed the grain once
    * at stream start cannot silently skip key validation too. */
  def append(increase: DataFrame, path: String, batchKey: String,
      bucketNanos: Long, validateGrain: Boolean = true,
      validateKeys: Boolean = true): Unit = {
    require(bucketNanos > 0, s"bucketNanos must be positive: $bucketNanos")
    val spark = increase.sparkSession
    if (validateGrain) requireGrain(spark, path, bucketNanos, "append")
    if (validateKeys) requireKeys(spark, path,
      requireShape(increase, "append"), "append")
    canonical(increase, batchKey, bucketNanos)
      .write.mode("append").partitionBy(WritableStore.PartitionCol)
      .parquet(path)
  }

  private[graft] def requireGrain(spark: SparkSession, path: String,
      bucketNanos: Long, context: String): Unit =
    storeWidth(spark, path).foreach(bn => require(bn == bucketNanos,
      s"$context: counter store at $path holds $bn-ns buckets; appending " +
        s"$bucketNanos-ns rows would mix grains in one store"))

  private[graft] def requireKeys(spark: SparkSession, path: String,
      keyCols: Seq[String], context: String): Unit =
    RollupStore.healedOrNone(spark, path, What, storeRead).foreach { df =>
      val have = keyColsOf(df)
      require(have.sorted == keyCols.sorted,
        s"$context: counter store at $path is keyed by " +
          s"[${have.mkString(", ")}]; this writer's keys are " +
          s"[${keyCols.mkString(", ")}] — one store holds exactly one " +
          "key set")
    }

  /** The writers' width probe: a direct read, None for an absent,
    * schema-less or fully-trimmed store. */
  private def storeWidth(spark: SparkSession, path: String): Option[Long] =
    RollupStore.storeWidthOpt(spark, path, What, storeRead)

  /** The readers' open: the store's snapshot, None when its tree lists
    * no data file. */
  private def atRest(spark: SparkSession, path: String)
      : Option[RollupStore.StoreSnapshot] =
    RollupStore.storeAtRest(spark, path, What, storeRead)

  private def opened(spark: SparkSession, path: String)
      : RollupStore.StoreSnapshot =
    atRest(spark, path).getOrElse(throw new IllegalArgumentException(
      s"counter store at $path is absent or empty"))

  /** Answer at `factor`× the stored grain from the store alone: replay
    * duplicates dropped, partials summed per (keys, coarse bucket) via
    * [[graft.operators.TsOps.counterIncreaseCoarsen]] — the additive
    * merge proven equal to the direct coarse pass. `factor = 1` reads
    * the stored grain itself. */
  def read(spark: SparkSession, path: String, factor: Long = 1L,
      since: Option[Long] = None, until: Option[Long] = None,
      keyFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(factor >= 1, s"bucket ratio must be positive: $factor")
    val snap = opened(spark, path)
    fold(snap.df, snap.bucketNs, factor, since, until, keyFilter)
  }

  /** [[read]] over an already-read store frame of width `bucketNs`:
    * scoped to `[since, until)` bucket-start nanos with `__day`
    * directory pruning, replay-deduped, and summed per (keys, coarse
    * bucket). */
  private def fold(stored: DataFrame, bucketNs: Long, factor: Long,
      since: Option[Long], until: Option[Long],
      keyFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val part0 = FileTree.scope(stored, col("bucket") * lit(bucketNs),
        since, until)
      .dropDuplicates(keyColsOf(stored) ++
        Seq("bucket", "bucket_ns", "batch_key"))
    // key pushdown, RollupStore.route's contract: validated against the
    // key schema (a value-column predicate would filter partial rows
    // before the fold), applied before the fold so the predicate reaches
    // the store scan
    keyFilter.foreach(RollupStore.requireKeyPredicate(_, part0,
      "CounterStore.read", keyColsOf(part0)))
    val part = keyFilter.fold(part0)(part0.filter)
    graft.operators.TsOps.counterIncreaseCoarsen(
      part.drop("bucket_ns", "batch_key", WritableStore.PartitionCol),
      factor, keyColsOf(part))
  }

  /** Fold accumulated per-batch partials to one row per (keys, bucket) —
    * the IO compaction that caps file-listing cost, doubling as the
    * durable replay repair. The tier horizon survives in the folded
    * batch key. Quiesce appends first (the [[RollupStore.compact]]
    * rule). */
  def compact(spark: SparkSession, path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    AtomicDir.heal(live.getFileSystem(spark.sessionState.newHadoopConf()),
      live, What)
    AtomicDir.compactPublish(spark, path, "compact counter store") { tmp =>
      val live0 = storeRead(spark, path)
      val (width, horizon) = RollupStore.storeMetaProbe(live0, path, What)
      canonical(live0.dropDuplicates(keyColsOf(live0) ++
          Seq("bucket", "bucket_ns", "batch_key")),
          RollupStore.compactKey(horizon),
          RollupStore.nonEmpty(width, path, What))
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }

  /** Age the fine store down: buckets starting below `cutoff` (bucket-
    * start nanos, aligned to the coarse grain) fold `factor`× coarser
    * into the coarse store under the deterministic `tier-<cutoff>` key,
    * then leave the fine store (whole-day directory drops when the
    * cutoff is day-aligned, atomic rewrite otherwise —
    * [[RollupStore.trimBelow]]). IDEMPOTENT like [[RollupStore.tierOff]]:
    * a retry re-appends under the SAME key and the replay dedup
    * collapses it; run with appends to the affected range quiesced. */
  def tierOff(spark: SparkSession, finePath: String, coarsePath: String,
      cutoff: Long, factor: Long): Unit = {
    require(factor >= 1, s"bucket ratio must be positive: $factor")
    val fineBnOpt = storeWidth(spark, finePath)
    if (fineBnOpt.isEmpty) return // fully-trimmed fine store: no-op retry
    val fineBn = fineBnOpt.get
    val coarseBn = fineBn * factor
    require(Math.floorMod(cutoff, coarseBn) == 0,
      s"tierOff: cutoff $cutoff is not aligned to the $coarseBn coarse " +
        "bucket — a straddling bucket would be half fine, half coarse")
    storeWidth(spark, coarsePath).foreach(bn => require(bn == coarseBn,
      s"tierOff: coarse store at $coarsePath holds $bn-ns buckets, not " +
        s"$coarseBn"))
    val old = fold(storeRead(spark, finePath), fineBn, factor, None,
      Some(cutoff), None)
    if (old.isEmpty) return
    requireKeys(spark, coarsePath, keyColsOf(old), "tierOff")
    append(old, coarsePath, s"tier-$cutoff", coarseBn,
      validateGrain = false) // validated above against the fine grain
    val fineLive = new org.apache.hadoop.fs.Path(finePath)
    RollupStore.trimBelow(spark,
      fineLive.getFileSystem(spark.sessionState.newHadoopConf()),
      finePath, "trimmed counter store", cutoff, col("bucket") * lit(fineBn))
  }

  /** Budget routing over the counter tier — [[RollupStore.route]]'s
    * maxDataPoints contract on the recording rule: answer `[since,
    * until)` under a point budget at the finest grain every touched tier
    * can serve, never a silently partial answer. The fine store heads a
    * [[RollupStore.TierList]] with the coarse store as its one tier (a
    * coarse store never tiered into serves nothing), so the grain, the
    * widening, the tier windows and the `grain_ns`/`source` labels are
    * the rollup routers' own ([[RollupStore.planRoute]]): the fine
    * store's width is the floor, and a range dipping below the coarse
    * horizon clamps to the coarse width. Buckets are floor-div indexes AT
    * the chosen grain; counter partials merge by addition at any nesting
    * grain, so every routed answer equals the direct pass over
    * never-stored samples. Both tiers open through their snapshots: a
    * warm route over unchanged stores builds its plan with no Spark job. */
  def route(spark: SparkSession, finePath: String,
      coarsePath: Option[String], since: Long, until: Long,
      maxPoints: Int,
      keyFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val fine = RollupStore.Tier(finePath, opened(spark, finePath))
    val coarse = coarsePath.flatMap(p =>
      atRest(spark, p).map(RollupStore.Tier(p, _)))
    val p = RollupStore.planRoute(RollupStore.TierList("route", None,
      Some(fine), coarse.toSeq, fine.width), since, until, maxPoints)
    val parts = p.parts.collect { case (Some(t), lo, hi) =>
      require(p.g % t.width == 0,
        s"route: grain ${p.g} does not nest ${t.width}")
      fold(t.snap.df, t.width, p.g / t.width, lo, hi, keyFilter)
    }
    // a stitch's tier windows are disjoint whole g-buckets: one more
    // additive fold merges them
    RollupStore.labelled(
      if (parts.size == 1) parts.head
      else graft.operators.TsOps.counterIncreaseCoarsen(
        parts.reduce(_.unionByName(_)), 1L, keyColsOf(parts.head)),
      p.g, p.source)
  }

  /** Stitched read across the fine + coarse pair at the COARSE grain:
    * the coarse store serves its pre-horizon buckets, the fine store its
    * at-or-after-horizon ones folded `factor`× — disjoint whole coarse
    * buckets (the [[tierOff]] alignment contract), merged by the same
    * additive fold, so the result equals a never-tiered direct pass bit
    * for bit even during a crashed tierOff's append-to-trim window (the
    * horizon, not "whatever fine holds", bounds the fine side). */
  def readTiered(spark: SparkSession, finePath: String,
      coarsePath: String, factor: Long): DataFrame = {
    require(factor >= 1, s"bucket ratio must be positive: $factor")
    val coarse = atRest(spark, coarsePath)
    val horizon = coarse.flatMap(_.horizon)
    val fineSnap = opened(spark, finePath)
    val fine = fold(fineSnap.df, fineSnap.bucketNs, factor, horizon, None,
      None)
    horizon match {
      case None => fine // never tiered: the fine store holds everything
      case Some(h) =>
        val c = coarse.get
        val old = fold(c.df, c.bucketNs, 1L, None, Some(h), None)
        val keys = keyColsOf(old)
        require(keys.sorted == keyColsOf(fine).sorted,
          s"readTiered: tiers carry DIFFERENT key sets — " +
            s"$finePath=[${keyColsOf(fine).mkString(", ")}], " +
            s"$coarsePath=[${keys.mkString(", ")}]")
        // tier windows are disjoint whole coarse buckets: union, then
        // one more additive fold per bucket for schema-stable output
        graft.operators.TsOps.counterIncreaseCoarsen(
          old.unionByName(fine), 1L, keys)
    }
  }
}
