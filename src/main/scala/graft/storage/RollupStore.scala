package graft.storage

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

import graft.functions.BoundLong

/** At-rest downsample rollup store — the continuous-aggregate tier a TSDB
  * keeps beside its raw blocks so range aggregates over months of history
  * never rescan raw samples (the reference answers every aggregate from raw
  * blocks, e.g. `zikeiretsu/src/tsdb/query/executor/mod.rs`; materialized
  * rollups are the standard at-scale extension of that same engine shape —
  * the beyond-reference tier SURVEY.md §2.4's closing note and §7's
  * north-star extensions sanction).
  *
  * Layout: ONE parquet tree of per-bucket rows
  * `(keys..., bucket_ts, bucket_ns, n, min_c, max_c, sum_c, batch_key)`
  * partitioned by `__day` (the [[FileTree]] day convention, derived from
  * `bucket_ts`, so [[rollup]]'s range predicate prunes whole day
  * directories at file listing). All value
  * aggregates are DECIMAL(18,2)-exact: sum-of-sums, min-of-mins, max-of-maxes
  * and count-of-counts are associative and order-free, so a rollup over
  * stored rows equals — bit for bit — the aggregate a direct pass over the
  * raw table would produce, at ANY coarser bucket that is an integer
  * multiple of the stored one. `bucket_ns` rides in every row (constant per
  * store — [[append]] validates new partials against it and every reader
  * dedups and guards on it) instead of a side meta file so the compactor and
  * the two-rename publish never face a multi-file consistency window.
  *
  * Ingest follows the sketch-store discipline
  * ([[graft.pipeline.Text.writeSketchStore]]): the base [[write]] stamps
  * `batch_key = "base"`; each streamed micro-batch [[append]]s partial
  * per-bucket rows under a replay-stable key, so an at-least-once
  * redelivery produces a DUPLICATE (bucket_ts, bucket_ns, batch_key) row
  * that [[rollup]] and [[compact]] drop before merging — effectively
  * exactly-once without a transactional table format. [[compact]] folds
  * accumulated partials back to one row per bucket under the shared
  * `.compact-*` two-rename protocol (crash self-heal via
  * [[AtomicDir.heal]]), preserving the tier horizon in its batch key so
  * tiered reads survive compaction.
  *
  * Dimensions: writers may pass `keyCols` (e.g. metric/host/event type) —
  * ONE store tree then holds millions of series, keyed per row, instead of
  * one tree per series (a file-listing catastrophe at 100 TB). Keys are
  * self-describing (any non-reserved column is a key), so every reader —
  * rollup, compact, tiering, stitching, routing — infers them from the
  * schema; [[rollup]]'s `keepKeys` folds ACROSS dropped dimensions (the
  * merges are associative across keys exactly as across time, so the
  * cross-key fold is exact). Serving budgets ([[route]] and the cascade
  * routers) stay on the TIME axis: the grain contract is per series, the
  * row count is buckets × series.
  *
  * Tiering: [[tierOff]] moves raw samples below a cutoff into the store;
  * [[tierOffStore]] cascades a fine store's old buckets into a coarser
  * store (1m → 1h → 1d: full resolution for a week, hourly for a year,
  * daily forever); [[cascadeRollup]] / [[tieredRollup]] stitch the tiers
  * back into one exact aggregate, and [[route]] serves a dashboard's
  * point-budget contract over the tiered layout without ever producing a
  * silently partial answer.
  *
  * 100 TB shape: the store is ~(raw rows / samples-per-bucket) in size —
  * KB-to-GB where raw is TB — and every query over it is a partition-pruned
  * scan + one combinable aggregation; nothing driver-side but scalars (the
  * loud metadata guards — bucket-width uniformity, tier horizons — read
  * single aggregated values off those same KB rows).
  */
object RollupStore {

  /** The store's own (reserved) column names. Every OTHER column in a
    * store row is a GROUP KEY — the dimensional continuous-aggregate
    * shape (one store tree holding millions of series, keyed by
    * e.g. metric/host/type, instead of one tree per series, which would
    * be a file-listing catastrophe at 100 TB). Keys are self-describing:
    * readers infer them from the schema, so rollup/compact/tiering/
    * stitching/routing all handle keyed stores with no extra reader
    * parameters, and a reader can DROP dimensions (fold across keys) —
    * every merge is associative across keys exactly as across time. */
  private val ReservedCols: Set[String] = Set("bucket_ts", "bucket_ns",
    "n", "min_c", "max_c", "sum_c", "sumsq_c", "batch_key", "hll", "hcnt",
    "hbounds", "distinct_est", WritableStore.PartitionCol)

  /** The group-key columns a store frame carries, in schema order. */
  private def keyColsOf(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(ReservedCols)

  /** Writer-side key validation: reserved-name collisions and absent
    * columns must fail loudly before any row lands. */
  private def requireKeyCols(df: DataFrame, keyCols: Seq[String],
      context: String): Unit = {
    val clash = keyCols.filter(ReservedCols)
    require(clash.isEmpty,
      s"$context: key column(s) ${clash.mkString(", ")} collide with the " +
        "store's reserved column names")
    val missing = keyCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$context: key column(s) ${missing.mkString(", ")} absent from the " +
        "input frame")
  }

  /** Fail loudly when an existing store's key set differs from `keyCols`
    * — a keyless append into a keyed store (or vice versa) would land
    * null-keyed rows under parquet schema merge and silently split every
    * later fold. Absent/empty stores accept any key set. */
  private[graft] def requireKeys(spark: SparkSession, path: String,
      keyCols: Seq[String], context: String): Unit =
    healedOrNone(spark, path).foreach { df =>
      val have = keyColsOf(df)
      require(have.sorted == keyCols.sorted,
        s"$context: store at $path is keyed by [${have.mkString(", ")}]; " +
          s"this writer's keys are [${keyCols.mkString(", ")}] — one " +
          "store holds exactly one key set")
    }

  /** The per-bucket partial aggregation every writer shares: one row per
    * `bucketNanos`-wide floor bucket of `tsCol`, value stats in exact
    * DECIMAL(18,2). With `distinctCol` set, each row also carries an HLL
    * sketch of that dimension (KB-sized): union covers exactly the same
    * hash set a direct pass at any coarser grain would sketch, so
    * "distinct users over an arbitrary range" answers from the store
    * within the sketch's rank-error bound. (The ESTIMATE is not
    * bit-identical to a direct pass at mid cardinalities — DataSketches
    * estimates differently from its coupon/set/dense modes — which is why
    * the correctness gate compares against the exact count, not the
    * direct sketch.)
    *
    * With `histBoundsCents` set, each row additionally carries `hcnt`: the
    * per-bucket value-histogram counter array over that literal schedule
    * (+Inf tail slot) — plain longs, EXACTLY mergeable by vector addition,
    * so any coarser rollup's counters equal a direct pass and
    * [[graft.operators.TsOps.histogramQuantileFromCounts]] answers "p90
    * over an arbitrary range" from the store alone: the Prometheus
    * recording-rule shape (histogram buckets stored as counters). */
  private[graft] def rollupRows(df: DataFrame, bucketNanos: Long,
      valueCol: String, tsCol: String,
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      keyCols: Seq[String] = Nil, withVariance: Boolean = false): DataFrame = {
    require(bucketNanos > 0, s"bucketNanos must be positive: $bucketNanos")
    requireKeyCols(df, keyCols, "rollupRows")
    val dec = col(valueCol).cast("decimal(18,2)")
    // sum_c is pinned to decimal(28,2) — THE at-rest type every writer
    // (base write, append, compact, tierOffStore) shares, so parquet
    // schema merge never sees two decimal widths in one tree
    val aggs = Seq(count(lit(1)).as("n"), min(dec).as("min_c"),
      max(dec).as("max_c"), sum(dec).cast("decimal(28,2)").as("sum_c")) ++
      // variance dimension: the per-bucket sum of squares in EXACT
      // decimal — (n, sum, sumsq) make mean/variance/stddev over ANY
      // range a stored recording rule (sums of sums of squares are the
      // same associative fold as everything else). decimal(38,4) is the
      // pinned at-rest type: sum over it stays (38,4), so fold results
      // and stored rows never differ in width under schema merge
      (if (withVariance)
        Seq(sum(dec * dec).cast("decimal(38,4)").as("sumsq_c")) else Nil) ++
      distinctCol.map(c => expr(s"hll_sketch_agg($c, $lgK)").as("hll")) ++
      (if (histBoundsCents.isEmpty) Nil else {
        // THE shared bucket assignment — stored counters must stay
        // bit-identical to the direct operator's
        val le = graft.operators.TsOps.histLeExpr(valueCol, histBoundsCents)
        (histBoundsCents :+ Long.MaxValue).zipWithIndex.map { case (b, i) =>
          sum((le === b).cast("long")).as(s"__h$i")
        }
      })
    val grouped = df
      .groupBy(keyCols.map(col) :+
        graft.operators.TsOps.floorBucket(col(s"`$tsCol`"), bucketNanos)
          .as("bucket_ts"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_ns", BoundLong.lit(bucketNanos))
    if (histBoundsCents.isEmpty) grouped
    else {
      val slots = histBoundsCents.size + 1
      grouped
        .withColumn("hcnt", array((0 until slots).map(i =>
          col(s"__h$i")): _*))
        // the schedule rides in every row (the bucket_ns discipline): a
        // later append or read with a DIFFERENT schedule is detectable
        .withColumn("hbounds",
          expr(graft.operators.TsOps.boundsArraySql(histBoundsCents)))
        .drop((0 until slots).map(i => s"__h$i"): _*)
    }
  }

  /** Read-time finisher for the variance dimension: mean, population
    * variance, and stddev derived from a stats frame carrying
    * (n, sum_c, sumsq_c). The variance numerator n·sumsq − sum² is
    * computed in decimal and divided by n² before the one double cast —
    * the exactness bound is the decimal precision cap (38 digits), far
    * past any per-bucket magnitude; tests gate the derivation against
    * Spark's own var_pop. */
  def varianceStats(stats: DataFrame): DataFrame = {
    require(stats.columns.contains("sumsq_c"),
      "varianceStats: the frame carries no sumsq_c — write the store " +
        "with withVariance = true")
    val varNum = col("sumsq_c") * col("n") - col("sum_c") * col("sum_c")
    stats
      .withColumn("mean", (col("sum_c") / col("n")).cast("double"))
      .withColumn("var_pop",
        (varNum / (col("n") * col("n"))).cast("double"))
      .withColumn("stddev_pop", sqrt(col("var_pop")))
  }

  /** Expand stored `hcnt` counter rows to the (keys..., le, cnt) shape
    * [[graft.operators.TsOps.histogramQuantileFromCounts]] consumes —
    * bounds must be the schedule the store was built with. */
  def histogramCounts(stored: DataFrame, histBoundsCents: Seq[Long],
      keyCols: Seq[String]): DataFrame = {
    val all = histBoundsCents :+ Long.MaxValue
    val boundsArr =
      graft.operators.TsOps.boundsArraySql(all)
    // the caller's schedule must BE the store's — mislabeling counters
    // would serve silently wrong quantiles
    val checked = stored.withColumn("hcnt",
      when(assert_true(col("hbounds") ===
          expr(graft.operators.TsOps.boundsArraySql(histBoundsCents)),
        lit("histogramCounts: bounds schedule does not match the store's " +
          "hbounds")).isNull, col("hcnt")))
    checked
      .select(keyCols.map(col) :+ posexplode(col("hcnt")): _*)
      .select(keyCols.map(col) :+
        expr(s"element_at($boundsArr, pos + 1)").as("le") :+
        col("col").as("cnt"): _*)
      .filter(col("cnt") > 0)
  }

  /** Build a rollup store from a raw frame: one atomic publish of the whole
    * tree (two-rename, crash leaves a complete store — [[AtomicDir]]). */
  def write(df: DataFrame, path: String, bucketNanos: Long,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil, keyCols: Seq[String] = Nil,
      withVariance: Boolean = false): Unit = {
    val spark = df.sparkSession
    AtomicDir.publish(spark, path, "rollup store") { tmp =>
      rollupRows(df, bucketNanos, valueCol, tsCol, distinctCol, lgK,
        histBoundsCents, keyCols, withVariance)
        .withColumn("batch_key", lit("base"))
        .withColumn(WritableStore.PartitionCol, FileTree.dayCol("bucket_ts"))
        // aligned write: one file per day directory, not one per
        // (task × day) — a store spanning D days written from P tasks
        // would otherwise land D×P near-empty files (measured 25× build
        // cost at 10× the span on the counter tier, same layout); the
        // extra shuffle moves only the KB-per-day folded rows
        .repartition(col(WritableStore.PartitionCol))
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }

  /** Append one batch's per-bucket partial rows. `batchKey` must be unique
    * per logical batch and STABLE across retries of that batch —
    * [[graft.streaming.StreamIngest.rollupIngest]] derives it from
    * (checkpoint location, micro-batch id). An existing store's bucket
    * width and key set are validated FIRST (metadata-sized scans of the
    * KB store): one store holds exactly one grain and one key set, and a
    * mismatched append must fail loudly before it lands — mixed widths
    * under a shared batch key would otherwise collide in the replay dedup
    * and silently drop a grain, and a mis-keyed append would land
    * null-keyed rows under parquet schema merge. The two gates are
    * SEPARATE parameters on purpose: a long-lived appender that probed the
    * grain once at stream start skips the per-batch width probe with
    * `validateWidth=false`, but that must not silently disable the
    * independent key-set check too. */
  def append(df: DataFrame, path: String, batchKey: String,
      bucketNanos: Long, valueCol: String = "value",
      tsCol: String = "ts", distinctCol: Option[String] = None,
      lgK: Int = 12, histBoundsCents: Seq[Long] = Nil,
      validateWidth: Boolean = true, keyCols: Seq[String] = Nil,
      validateKeys: Boolean = true, withVariance: Boolean = false): Unit = {
    val spark = df.sparkSession
    if (validateWidth) requireGrain(spark, path, bucketNanos, "append")
    if (validateKeys) requireKeys(spark, path, keyCols, "append")
    rollupRows(df, bucketNanos, valueCol, tsCol, distinctCol, lgK,
      histBoundsCents, keyCols, withVariance)
      .withColumn("batch_key", lit(batchKey))
      .withColumn(WritableStore.PartitionCol, FileTree.dayCol("bucket_ts"))
      .repartition(col(WritableStore.PartitionCol)) // one file per day
      .write.mode("append").partitionBy(WritableStore.PartitionCol)
      .parquet(path)
  }

  /** The width [[storeMetaProbe]] finds in a store known only by path,
    * read directly with the store's own `read` (CounterStore passes its
    * own, with its wording): absent, schema-less, or fully-trimmed trees
    * are None. The writers' width probe — writers never serve from a
    * snapshot. */
  private[storage] def storeWidthOpt(spark: SparkSession, path: String,
      what: String = "rollup store",
      read: (SparkSession, String) => DataFrame = checkedRead)
      : Option[Long] =
    healedOrNone(spark, path, what, read)
      .flatMap(storeMetaProbe(_, path, what)._1)

  /** Self-heal a store tree, then read it with the store's own `read`, or
    * None for an absent or schema-less tree ([[FileTree.readOrNone]]; an
    * absent tree is never handed to Spark, whose path check logs a stack
    * trace). */
  private[storage] def healedOrNone(spark: SparkSession, path: String,
      what: String = "rollup store",
      read: (SparkSession, String) => DataFrame = checkedRead)
      : Option[DataFrame] = {
    val (fs, live) = healed(spark, path, what)
    if (!fs.exists(live)) None else FileTree.readOrNone(read(spark, path))
  }

  /** Fail loudly when an existing store's grain differs from
    * `bucketNanos` (absent/empty stores accept any grain) — the write-
    * side width guard. A long-lived appender (streaming ingest) may run
    * this ONCE at stream start instead of per micro-batch: the probe
    * scans every accumulated partial file, and the read side's
    * uniform-width assert still catches a concurrent writer that
    * bypasses it. */
  private[graft] def requireGrain(spark: SparkSession, path: String,
      bucketNanos: Long, context: String): Unit =
    storeWidthOpt(spark, path).foreach(bn => require(bn == bucketNanos,
      s"$context: store at $path holds $bn-ns buckets; appending " +
        s"$bucketNanos-ns partials would mix grains in one store"))

  /** A probed width that must exist: an empty store fails. */
  private[storage] def nonEmpty(width: Option[Long], path: String,
      what: String = "rollup store"): Long =
    width.getOrElse(throw new IllegalArgumentException(
      s"$what at $path is empty"))

  /** Self-heal crashed swaps, read, scope to `[since, until)` with `__day`
    * directory pruning + `bucket_ts` row-group pruning, and drop
    * at-least-once replay duplicates: a writer's store read (readers
    * open the snapshot, [[servedStore]]). */
  private def scopedStore(spark: SparkSession, path: String,
      since: Option[Long], until: Option[Long]): DataFrame = {
    healed(spark, path, "rollup store")
    scopedFrame(checkedRead(spark, path), since, until)
  }

  /** Self-heal a crashed publish or compaction swap of the store tree
    * ([[AtomicDir.heal]]) before reading it. Returns the tree's
    * filesystem and path for the caller's listing. */
  private def healed(spark: SparkSession, path: String, what: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val (fs, live, _) = FileTree.qualified(spark, path)
    AtomicDir.heal(fs, live, what)
    (fs, live)
  }

  /** A store under one listing of its tree: its read (file list frozen at
    * read time), its one bucket width, its tier horizon and the listing's
    * bytes per `__day` directory (files outside one under `""`). */
  private[storage] final case class StoreSnapshot(df: DataFrame,
      bucketNs: Long, horizon: Option[Long], dayBytes: Map[String, Long])
      extends FileTree.Snapshot {

    /** Bytes of the files a scope to `[lo, hi)` reads (an absent bound
      * is open): the `__day` directories [[FileTree.scope]] keeps, plus
      * any file outside one. */
    def scopedBytes(lo: Option[Long], hi: Option[Long]): Long =
      dayBytes.iterator.collect {
        case (d, b) if d.isEmpty || FileTree.dayInScope(d, lo, hi) => b
      }.sum
  }

  /** Open a store for serving: self-heal, list the tree, and answer from
    * its at-rest snapshot ([[FileTree.atRest]], kind `what`) with no Spark
    * job, or on a new listing read it with the store's own `read`
    * ([[checkedRead]]; CounterStore passes its own) and probe width and
    * horizon in one aggregation ([[storeMetaProbe]]). None when the tree
    * lists no data file. Empty and mixed-width stores fail on every call. */
  private[storage] def storeAtRest(spark: SparkSession, path: String,
      what: String = "rollup store",
      read: (SparkSession, String) => DataFrame = checkedRead)
      : Option[StoreSnapshot] = {
    val (fs, live) = healed(spark, path, what)
    val listing = FileTree.listing(fs, live)
    if (listing.isEmpty) None
    else Some(FileTree.atRest(spark, what, fs.makeQualified(live).toString,
        listing) {
      val stored = read(spark, path)
      val (width, horizon) = storeMetaProbe(stored, path, what)
      StoreSnapshot(stored, nonEmpty(width, path, what), horizon,
        FileTree.dayBytes(listing))
    })
  }

  /** [[storeAtRest]] for a rollup store a router needs: a tree listing no
    * data file fails as [[checkedRead]] does (absent, schema-less). */
  private def servedStore(spark: SparkSession, path: String): Tier =
    Tier(path, storeAtRest(spark, path).getOrElse {
      checkedRead(spark, path)
      throw new IllegalArgumentException(s"rollup store at $path is empty")
    })

  /** The scoping half of [[scopedStore]] over an already-read store frame
    * — lets a stitched read that listed the store once reuse the frame
    * instead of re-listing per window. `onePartition` reads the scoped
    * rows as one partition ahead of the replay dedup, which then needs no
    * exchange. */
  private def scopedFrame(raw: DataFrame, since: Option[Long],
      until: Option[Long], onePartition: Boolean = false): DataFrame = {
    val scoped = FileTree.scope(raw, col("bucket_ts"), since, until)
    (if (onePartition) scoped.coalesce(1) else scoped)
      // replay identity includes the group keys: a keyed store's batch
      // legitimately lands one row PER KEY per bucket under one batch_key
      .dropDuplicates(keyColsOf(raw) ++
        Seq("bucket_ts", "bucket_ns", "batch_key"))
  }

  /** [[scopedFrame]] for one store part of a fold, `df` being `snap`'s
    * frame (key-filtered or not). When the files the window `[lo, hi)`
    * touches fit one file split (Spark's own
    * `spark.sql.files.maxPartitionBytes`), they are read as one partition:
    * the replay dedup then needs no exchange, and a fold over that part
    * alone runs in one stage, one job. Larger scopes keep the partitioned
    * plan. */
  private def storeScoped(snap: StoreSnapshot, df: DataFrame,
      lo: Option[Long], hi: Option[Long]): DataFrame = {
    val split = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    scopedFrame(df, lo, hi, onePartition = snap.scopedBytes(lo, hi) <= split)
  }

  /** One store of a [[TierList]]: its path and the snapshot it was opened
    * under. */
  private[storage] final case class Tier(path: String, snap: StoreSnapshot) {
    def width: Long = snap.bucketNs
    def horizon: Option[Long] = snap.horizon
  }

  /** How a raw head is read (by name: a route whose parts leave raw out
    * never reads it) and the columns its [[rollupRows]] pass aggregates. */
  private[storage] final case class RawSide(read: () => DataFrame,
      valueCol: String, tsCol: String, distinctCol: Option[String],
      lgK: Int, histBoundsCents: Seq[Long])

  /** The ordered sources one route or stitched read serves from.
    *  - The head serves `[finest tier horizon, ∞)`: the `mirror` store when
    *    there is one (a complete horizonless mirror — the raw-less
    *    lifecycle's finest store, or [[route]]'s untiered store), else the
    *    `raw` table.
    *  - `tiers` run fine → coarse. A tier with a horizon serves its horizon
    *    window ([[tierWindows]]); one without was never tiered into and
    *    serves nothing, but still declares the key set.
    *  - `floor` is the width at or above which a budget grain is served
    *    from the stores. Below it a finer source answers alone when the
    *    range touches no tier: raw beside a mirror, or the `sample`.
    *    `floor = 1` lets a raw head serve any grain its window allows. */
  private[storage] final case class TierList(context: String,
      raw: Option[RawSide], mirror: Option[Tier], tiers: Seq[Tier],
      floor: Long = 1L, sample: Option[SampledRouter] = None) {
    def stores: Seq[Tier] = mirror.toSeq ++ tiers
    def served: Seq[Tier] = tiers.filter(_.horizon.nonEmpty)

    // the raw side serves the schema the stores serve: a dashboard that
    // selects distinct_est at a coarse zoom must not break on a raw one
    for (r <- raw; (c, param, given) <- Seq(
        ("hll", "distinctCol", r.distinctCol.nonEmpty),
        ("hcnt", "histBoundsCents", r.histBoundsCents.nonEmpty)))
      require(given || !stores.exists(_.snap.df.columns.contains(c)),
        s"$context: a store carries $c — pass $param so the raw side " +
          "serves the same schema")

    /** The head (None for raw) and every tier with a horizon, each with
      * the window it serves within `[since, until)`. */
    def parts(since: Option[Long], until: Option[Long])
        : Seq[(Option[Tier], Option[Long], Option[Long])] = {
      val head = mirror.map(Some(_)).orElse(raw.map(_ => None)).toSeq
      val windows = tierWindows(context,
        head.map(_ => None) ++ served.map(_.horizon), since, until)
      (head ++ served.map(Some(_))).zip(windows).map {
        case (t, (lo, hi)) => (t, lo, hi)
      }
    }
  }

  /** Open every store of a chain through [[storeAtRest]], so a warm chain
    * runs no metadata job. A store whose tree lists no data file (nothing
    * tiered that far yet, or fully trimmed) is None. With `mirrorFirst`, a
    * data-bearing store past index 0 without a horizon fails loudly —
    * data landed in a tier path not via tiering is a wiring bug, and the
    * check must not depend on which range a dashboard happens to ask
    * for. */
  private def openTiers(spark: SparkSession, storePaths: Seq[String],
      context: String, mirrorFirst: Boolean): Seq[Option[Tier]] =
    storePaths.zipWithIndex.map { case (p, i) =>
      storeAtRest(spark, p).map { s =>
        if (mirrorFirst) require(i == 0 || s.horizon.nonEmpty,
          s"$context: tiered store at $p has data but no tier horizon" +
            " — only the FIRST (mirror) store may be horizonless; " +
            "stitch order must run mirror, then fine → coarse")
        Tier(p, s)
      }
    }

  /** A router's key predicate must reference ONLY the store's key
    * columns: a predicate on a value column (`n`, `sum_c`, a bucket stat)
    * would filter PARTIAL rows before the fold and silently change the
    * aggregates, not just which series are served. Validated by analyzing
    * the predicate against a keys-only projection of the store frame —
    * `col("host") === "x" && col("region").isin(...)` resolves,
    * `col("sum_c") > 5` fails loudly before any IO. The probe frame is
    * built FROM SCRATCH with only the key fields (no lineage): a
    * `select(keys).filter(f)` over the store frame would not do — the
    * analyzer resolves filter references through the projection to the
    * child's full schema (ResolveMissingReferences), silently admitting
    * value-column predicates. (Schema-level analysis, robust to Spark's
    * Column internals — attribute-walking the unresolved tree would miss
    * names inside ColumnNode wrappers.) */
  private[storage] def requireKeyPredicate(f: Column, keyed: DataFrame,
      context: String, keyCols: Seq[String] = Nil): Unit = {
    val keys = if (keyCols.nonEmpty) keyCols else keyColsOf(keyed)
    val spark = keyed.sparkSession
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(keys.map(keyed.schema(_))))
    try { probe.filter(f); () }
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$context: key filter references non-key column(s) — the " +
            s"store's keys are [${keys.mkString(", ")}]; a predicate on " +
            "a value column would filter partial rows before the fold " +
            s"and corrupt the aggregates (${e.getMessage})")
    }
  }

  /** Merge partial per-bucket rows — from one store, several tiers, or a
    * raw-side [[rollupRows]] pass — into one row per `coarseNanos` bucket.
    * Input needs (bucket_ts, bucket_ns, n, min_c, max_c, sum_c) and
    * optionally `hll` / (`hcnt`, `hbounds`). All merges are associative
    * and order-free (sum/min/max/count, HLL union, counter vector-add), so
    * the fold equals a direct pass regardless of how partials are split
    * across tiers. In-plan guards ride THROUGH kept aggregates (a dropped
    * side column would be pruned before it could fire): every partial's
    * width must nest into `coarseNanos`; with `uniformWidth`, partials
    * sharing a coarse bucket must also agree on width (the single-store
    * invariant — a cascade legitimately mixes widths across tiers and
    * turns this off); histogram partials must share one bounds schedule.
    */
  private def mergeFold(partials: DataFrame, coarseNanos: Long,
      uniformWidth: Boolean, keepKeys: Option[Seq[String]] = None)
      : DataFrame = {
    require(coarseNanos > 0, s"coarseNanos must be positive: $coarseNanos")
    // group keys ride the schema; keepKeys folds ACROSS the dropped
    // dimensions (associative merges make the cross-key fold exact)
    val allKeys = keyColsOf(partials)
    val keys = keepKeys.fold(allKeys) { ks =>
      val unknown = ks.filterNot(allKeys.contains)
      require(unknown.isEmpty,
        s"rollup: key column(s) ${unknown.mkString(", ")} not among the " +
          s"store's keys [${allKeys.mkString(", ")}]")
      ks
    }
    val hasHll = partials.columns.contains("hll")
    val hasHist = partials.columns.contains("hcnt")
    val hasVar = partials.columns.contains("sumsq_c")
    val checkedN = when(
      assert_true(pmod(BoundLong.lit(coarseNanos), col("bucket_ns")) === 0,
        lit(s"rollup: coarseNanos $coarseNanos is not a multiple of the " +
          "stored bucket width")).isNull, col("n"))
    val aggs = Seq(sum(checkedN).as("n"), min("min_c").as("min_c"),
      max("max_c").as("max_c"), sum("sum_c").as("sum_c")) ++
      (if (hasVar)
        Seq(sum("sumsq_c").cast("decimal(38,4)").as("sumsq_c")) else Nil) ++
      (if (uniformWidth) Seq(min("bucket_ns").as("__bnmin"),
        max("bucket_ns").as("__bnmax")) else Nil) ++
      (if (hasHll) Seq(expr("hll_union_agg(hll, true)").as("hll")) else Nil) ++
      (if (hasHist) Seq(udaf(new graft.pipeline.Text.CmsMergeAgg)
        .apply(col("hcnt")).as("hcnt"),
        min("hbounds").as("__hbmin"), max("hbounds").as("__hbmax")) else Nil)
    val grouped = partials
      .groupBy(keys.map(col) :+ graft.operators.TsOps.floorBucket(
        col("bucket_ts"), coarseNanos).as("bucket_ts"): _*)
      .agg(aggs.head, aggs.tail: _*)
    val widthChecked =
      if (!uniformWidth) grouped
      else grouped // one grain per store: a second width (a writer that
        // bypassed append's validation) fails here, never double-counts
        .withColumn("n", when(assert_true(
          col("__bnmin") === col("__bnmax"),
          lit("rollup store: partials carry MIXED bucket widths — one " +
            "store holds exactly one grain")).isNull, col("n")))
        .drop("__bnmin", "__bnmax")
    val boundsChecked =
      if (!hasHist) widthChecked
      else widthChecked // one schedule per store: mixed-schedule partials
        // (same slot count, so the vector add would silently mislabel)
        // fail here, not silently
        .withColumn("hbounds", when(assert_true(
          col("__hbmin") === col("__hbmax"),
          lit("rollup store: partials carry DIFFERENT histogram bound " +
            "schedules — every append must use the store's histBoundsCents"))
          .isNull, col("__hbmin")))
        .drop("__hbmin", "__hbmax")
    if (hasHll) boundsChecked.withColumn("distinct_est",
      expr("hll_sketch_estimate(hll)")) else boundsChecked
  }

  /** Answer a range aggregate at `coarseNanos` granularity from the store
    * alone — no raw scan. `coarseNanos` must be a multiple of the stored
    * bucket width (buckets then nest exactly); `[since, until)` must be
    * coarse-bucket-aligned so no partially-covered coarse bucket can be
    * emitted. Duplicate (bucket_ts, bucket_ns, batch_key) partials — an
    * at-least-once replay that landed between compactions — are dropped
    * before the merge. The `__day` predicate prunes day directories at
    * file listing; the `bucket_ts` predicate prunes row groups inside
    * surviving files. The store opens from its at-rest snapshot
    * ([[servedStore]]): a warm rollup builds with no Spark job.
    */
  def rollup(spark: SparkSession, path: String, coarseNanos: Long,
      since: Option[Long] = None, until: Option[Long] = None,
      keepKeys: Option[Seq[String]] = None): DataFrame = {
    require(coarseNanos > 0, s"coarseNanos must be positive: $coarseNanos")
    for (v <- since ++ until)
      require(Math.floorMod(v, coarseNanos) == 0,
        s"rollup: range bound $v is not aligned to coarseNanos $coarseNanos" +
          " — a partially-covered coarse bucket would report partial stats")
    mergeFold(scopedFrame(servedStore(spark, path).snap.df, since, until),
      coarseNanos, uniformWidth = true, keepKeys)
  }

  /** Serving bounds round OUTWARD to whole `g`-buckets (a dashboard shows
    * complete buckets; the exact-bounds contract stays on [[rollup]]).
    * Overflow throws `ArithmeticException` ([[routeGrain]] reports it). */
  private def widenTo(since: Long, until: Long, g: Long): (Long, Long) =
    (Math.multiplyExact(Math.floorDiv(since, g), g),
      Math.multiplyExact(Math.floorDiv(until - 1, g) + 1, g))

  /** The finest multiple of `w`, from `from` up, whose widened bucket count
    * fits `maxPoints`: the point budget is a hard contract, so re-derive
    * until the widened count fits — JUMP to the widened span's own
    * ceil-grain each time (a unit step would crawl); g only grows and
    * widening adds at most one bucket per edge, so this converges in a
    * couple of rounds. */
  private def fitGrain(since: Long, until: Long, maxPoints: Int, w: Long,
      from: Long): Long = {
    def up(x: Long): Long =
      Math.multiplyExact(Math.addExact(x, w - 1) / w, w)
    @scala.annotation.tailrec
    def fit(g: Long): Long = {
      val (lo, hi) = widenTo(since, until, g)
      val span = Math.subtractExact(hi, lo)
      if (span / g <= maxPoints) g
      else fit(up(Math.addExact(span, maxPoints - 1L) / maxPoints))
    }
    fit(up(from))
  }

  /** THE grain rule of every route. First the budget alone: the finest
    * grain whose widened span fits `maxPoints`. Then the clamps: a grain
    * at or above `floor` — or any grain, when nothing finer than the floor
    * exists (`fineBelowFloor` false) — rounds up to a multiple of `floor`,
    * and a grain whose widened range touches a tier rounds up to a
    * multiple of the widest touched width, iterated to a fixpoint (a
    * coarser grain widens the bounds, which can touch a coarser tier; g
    * only grows, so this converges within the tier count). `tiers` are
    * (width, horizon) fine → coarse. Returns the grain and the tiers its
    * widened range touches. When no grain fits — a one-point budget over a
    * range holding a multiple of every grain (epoch 0) widens to two
    * buckets at any grain, until the arithmetic overflows — it fails with
    * an `IllegalArgumentException` instead of serving an overrun. */
  private[storage] def routeGrain(since: Long, until: Long, maxPoints: Int,
      floor: Long, fineBelowFloor: Boolean, tiers: Seq[(Long, Long)])
      : (Long, Seq[(Long, Long)]) = {
    // touch is tested on the WIDENED range: a first bucket dipping below a
    // horizon would otherwise silently miss the tiered-off samples in it
    def touched(g: Long): Seq[(Long, Long)] = {
      val (lo, hi) = widenTo(since, until, g)
      tiers.zipWithIndex.collect {
        case ((w, h), i) if lo < h &&
            hi > tiers.lift(i + 1).fold(Long.MinValue)(_._2) => (w, h)
      }
    }
    try {
      val g0 = fitGrain(since, until, maxPoints, 1L, 1L)
      val base = if (g0 >= floor || !fineBelowFloor) floor else 1L
      @scala.annotation.tailrec
      def settle(g: Long): Long = {
        val w = (base +: touched(g).map(_._1)).max
        val next = if (w == 1L) g
          else fitGrain(since, until, maxPoints, w, Math.max(g, w))
        if (next == g) g else settle(next)
      }
      val g = settle(g0)
      (g, touched(g))
    } catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        s"no grain fits [$since, $until) in $maxPoints point(s)")
    }
  }

  /** One route's choice over a [[TierList]]: the grain, the widened
    * bounds, the source label and the parts a stitch folds. The finer
    * source alone (raw or the sample) answers when the grain needed no
    * clamp and touches no tier; the mirror alone when the grain touches
    * no tier; otherwise the head and every tier with a horizon stitch. */
  private[storage] final case class RoutePlan(g: Long, lo: Long, hi: Long,
      source: String, parts: Seq[(Option[Tier], Option[Long], Option[Long])])

  private[storage] def planRoute(list: TierList, since: Long, until: Long,
      maxPoints: Int): RoutePlan = {
    require(until > since, s"${list.context}: empty range [$since, $until)")
    require(maxPoints >= 1, s"${list.context} needs a positive point budget")
    val fine = list.raw.nonEmpty || list.sample.nonEmpty
    val (g, touched) = routeGrain(since, until, maxPoints, list.floor, fine,
      list.served.map(t => (t.width, t.horizon.get)))
    val (lo, hi) = widenTo(since, until, g)
    val parts = list.parts(Some(lo), Some(hi))
    val (source, serving) =
      if (touched.nonEmpty) ("stitched", parts)
      else if (fine && (list.floor == 1L || g < list.floor))
        (if (list.sample.nonEmpty) "sample" else "raw", Nil)
      else if (list.mirror.nonEmpty) ("store", parts.take(1))
      else ("stitched", parts)
    RoutePlan(g, lo, hi, source, serving)
  }

  /** The one site that labels a routed answer with its grain and source,
    * so a dashboard — and the tests — see which path answered. */
  private[storage] def labelled(df: DataFrame, g: Long, source: String)
      : DataFrame =
    df.select(col("*"), BoundLong.lit(g).as("grain_ns"),
      lit(source).as("source"))

  /** THE router: serve `[since, until)` under `maxPoints` from `list`
    * ([[planRoute]]). A stitch folds the planned parts ([[stitch]]); a fine
    * zoom is one raw [[rollupRows]] pass at the grain, grouped by the
    * stores' keys with the caller's dimensions so every zoom serves the
    * same series and schema, or the sample's estimate. `keyFilter` (key
    * columns only — validated loudly against the first store) prunes
    * every source before any fold; widths and horizons stay those of the
    * UNFILTERED snapshots, so a key slice with no pre-horizon rows never
    * makes a tiered store look untiered. */
  private def routeTiers(list: TierList, since: Long, until: Long,
      maxPoints: Int, keyFilter: Option[Column]): DataFrame = {
    for (f <- keyFilter; t <- list.stores.headOption)
      requireKeyPredicate(f, t.snap.df, list.context)
    val p = planRoute(list, since, until, maxPoints)
    val served = p.source match {
      case "sample" => list.sample.get.zoom(p.g, p.lo, p.hi, keyFilter)
      case "raw" =>
        val r = list.raw.get
        val rows = rollupRows(graft.operators.TsOps.rangeFilter(
            rawOf(list, keyFilter), Some(p.lo), Some(p.hi), r.tsCol), p.g,
            r.valueCol, r.tsCol, r.distinctCol, r.lgK, r.histBoundsCents,
            sharedKeys(list), withVariance =
              list.stores.exists(_.snap.df.columns.contains("sumsq_c")))
          .drop("bucket_ns")
        if (r.distinctCol.isEmpty) rows
        else rows.withColumn("distinct_est", expr("hll_sketch_estimate(hll)"))
      case _ =>
        val folded = stitch(list, p.parts, p.g, keyFilter)
        list.sample.fold(folded)(_.exact(folded))
    }
    labelled(served, p.g, p.source)
  }

  /** The raw head's frame, key-filtered. */
  private def rawOf(list: TierList, keyFilter: Option[Column]): DataFrame = {
    val raw = list.raw.get.read()
    keyFilter.fold(raw)(raw.filter)
  }

  /** Serving-layer grain router — the maxDataPoints contract a dashboard
    * backend implements: answer `[since, until)` under a point budget from
    * the cheapest adequate source ([[routeGrain]]). A budget grain at or
    * above the stored bucket width rounds UP to the next stored-width
    * multiple and answers from the STORE (partition-pruned KB rows — at
    * 100 TB the difference between reading kilobytes and terabytes); only
    * a budget demanding finer-than-stored resolution falls back to the raw
    * table. Serving bounds widen outward to whole grain buckets. Output
    * carries `grain_ns` and `source`.
    *
    * TIER-AWARE: a store with no [[tierOff]] horizon is a complete mirror
    * (`source="store"`, raw only for fine zooms). A store with a horizon
    * no longer has raw beside it below the horizon, so a store-grain
    * answer STITCHES store buckets below the horizon with raw at the same
    * grain at/after it, and a finer-than-stored budget whose widened range
    * dips below the horizon CLAMPS to the stored grain and stitches
    * (`"stitched"`) — never a silently partial raw remnant. A range
    * entirely at/after the horizon still serves raw at the fine grain.
    *
    * KEY PUSHDOWN: `keyFilter` (a predicate over the store's key columns
    * only — validated loudly) prunes both the store scan and the raw
    * re-aggregation before any stitch.
    *
    * SNAPSHOT SERVING: the store opens through [[storeAtRest]], so a warm
    * route over an unchanged store runs no metadata job while its plan is
    * built. `raw` is by-name and read only when a part needs it (a raw
    * fine zoom, or a stitch whose raw window is non-empty) — and a bad
    * `raw` path fails only then. */
  def route(spark: SparkSession, path: String, raw: => DataFrame,
      since: Long, until: Long, maxPoints: Int,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      keyFilter: Option[Column] = None): DataFrame = {
    val store = servedStore(spark, path)
    val rawSide = Some(RawSide(() => raw, valueCol, tsCol, distinctCol, lgK,
      histBoundsCents))
    // a horizonless store is a complete mirror and raw its fine-zoom
    // source; a store with a horizon is a tier that raw heads
    val list =
      if (store.horizon.isEmpty)
        TierList("route", rawSide, Some(store), Nil, store.width)
      else TierList("route", rawSide, None, Seq(store), store.width)
    routeTiers(list, since, until, maxPoints, keyFilter)
  }

  /** Budget router with the AQP SAMPLE tier as the fine-zoom source: a
    * budget the exact store can satisfy answers EXACTLY from the store; a
    * budget demanding finer-than-stored resolution — where [[route]]
    * would re-aggregate raw — answers from the deterministic
    * [[SampleStore]], reading 1/rate_den of the bytes. ONE schema across
    * every zoom so a dashboard never re-binds columns: `(keys...,
    * bucket_ts, n_sample, est_count, est_sum_cents, est_var_cents2,
    * rate_den, grain_ns, source)` — exact answers carry `rate_den = 1`
    * and a ZERO variance bar, sampled answers the store's rate and the
    * unbiased Horvitz-Thompson variance of the sum. Serves the
    * complete-mirror lifecycle only: a tiered store fails loudly (its
    * post-horizon range lives in raw, which this router does not read).
    * Keyed stores serve their dimensions through both zooms, and
    * `keyFilter` prunes both scans before any aggregate. */
  def routeSampled(spark: SparkSession, storePath: String,
      samplePath: String, since: Long, until: Long, maxPoints: Int,
      valueCol: String = "value",
      keyFilter: Option[Column] = None): DataFrame =
    prepareSampled(spark, storePath, samplePath, valueCol,
      pinSample = false).route(since, until, maxPoints, keyFilter)

  /** The OPEN-ONCE face of [[routeSampled]]: the per-store metadata work
    * (self-heal, grain probe, horizon check, key inference, sample-store
    * validation) prices in once, and every later [[SampledRouter.route]]
    * is pure plan construction. Store and sample open from their at-rest
    * snapshots, so re-preparing over unchanged trees runs no metadata job.
    * `pinSample` serves the replay-deduped sample rows from their pinned
    * at-rest entry ([[SampleStore.open]]), checked against the listing on
    * every prepare; [[SampledRouter.close]] forgets it. */
  def prepareSampled(spark: SparkSession, storePath: String,
      samplePath: String, valueCol: String = "value",
      pinSample: Boolean = true): SampledRouter = {
    val store = servedStore(spark, storePath)
    val keys = keyColsOf(store.snap.df)
    require(store.horizon.isEmpty,
      "routeSampled serves a complete-mirror store — this store has a " +
        "tier horizon, so its post-horizon samples live in raw, which " +
        "this router does not read; use route()/routeCascade() for the " +
        "tiered lifecycle")
    val handle = SampleStore.open(spark, samplePath, pin = pinSample,
      check = rows => {
        val missing = keys.filterNot(rows.columns.contains)
        require(missing.isEmpty,
          s"routeSampled: the store is keyed by [${keys.mkString(", ")}] " +
            s"but the sample rows lack ${missing.mkString(", ")} — sample " +
            "the same raw table the store rolls up")
        require(rows.columns.contains(valueCol),
          s"routeSampled: the sample rows have no '$valueCol' column " +
            s"(columns: ${rows.columns.mkString(", ")}) — a typo'd " +
            "valueCol must fail at prepare, not pin rows and then die on " +
            "the first fine zoom")
      })
    SampledRouter(store, keys, handle, valueCol)
  }

  /** A prepared store+sample serving pair (see [[prepareSampled]]): a
    * tier list of the mirror store with the sample as its fine-zoom
    * source. */
  final case class SampledRouter private[storage] (
      private[storage] val store: Tier, keys: Seq[String],
      handle: SampleStore.SampleHandle, valueCol: String) {

    def route(since: Long, until: Long, maxPoints: Int,
        keyFilter: Option[Column] = None): DataFrame =
      routeTiers(TierList("routeSampled", None, Some(store), Nil,
        store.width, Some(this)), since, until, maxPoints, keyFilter)

    /** The fine zoom: Horvitz-Thompson estimates per `g` bucket. */
    private[storage] def zoom(g: Long, lo: Long, hi: Long,
        keyFilter: Option[Column]): DataFrame =
      handle.estimateTimeBuckets(g, valueCol, Some(lo), Some(hi),
        groupCols = keys, keyFilter = keyFilter)

    /** An exact store answer in the estimate schema. sum_c is
      * decimal(28,2); at extreme widths (cents nearing 2^63) this non-ANSI
      * cast nulls rather than fails — the SAME width limit the sampled
      * path's integer-cents estimator acknowledges. */
    private[storage] def exact(folded: DataFrame): DataFrame =
      folded.select(keys.map(col) ++ Seq(col("bucket_ts"),
        col("n").as("n_sample"), col("n").as("est_count"),
        (col("sum_c") * 100).cast("long").as("est_sum_cents"),
        lit(0L).as("est_var_cents2"), lit(1L).as("rate_den")): _*)

    /** Forget the pinned sample (no-op for an unpinned prepare). */
    def close(): Unit = handle.close()
  }

  /** Age-based downsample tiering — the retention-policy lifecycle a TSDB
    * runs nightly: samples older than `cutoff` leave the raw table and
    * survive as rollup-store buckets (full resolution for the recent
    * window, aggregates forever — at 100 TB this is what makes "keep two
    * years" affordable). `cutoff` must be bucket-aligned so no bucket
    * straddles the tier boundary.
    *
    * Crash-safe and IDEMPOTENT: the tiered-off partials append under the
    * deterministic batch key `tier-<cutoff>`, so a retry after a crash
    * between the store append and the raw rewrite re-appends under the
    * SAME key and the replay dedup collapses it — the store can never
    * double-count a tier; the raw rewrite itself is an [[AtomicDir]]
    * two-rename publish (every crash point leaves a complete raw table,
    * either pre- or post-trim). Run with ingest to the affected range
    * quiesced — a retry's partial must be bit-identical for the
    * deterministic tier key's dedup to be exact (the compaction rule).
    */
  def tierOff(spark: SparkSession, rawPath: String, storePath: String,
      cutoff: Long, bucketNanos: Long, valueCol: String = "value",
      tsCol: String = "ts", distinctCol: Option[String] = None,
      lgK: Int = 12, histBoundsCents: Seq[Long] = Nil,
      keyCols: Seq[String] = Nil, withVariance: Boolean = false): Unit = {
    require(Math.floorMod(cutoff, bucketNanos) == 0,
      s"tierOff: cutoff $cutoff is not aligned to the $bucketNanos bucket" +
        " — a straddling bucket would be half raw, half rolled up")
    val rawLive = new org.apache.hadoop.fs.Path(rawPath)
    val fs = rawLive.getFileSystem(spark.sessionState.newHadoopConf())
    // readRawOrEmpty (not a bare read): a RETRY of an already-completed
    // full tierOff sees an emptied raw tree and must no-op, not die on
    // schema inference
    val raw = readRawOrEmpty(spark, rawPath, tsCol, valueCol, distinctCol,
      atRest = false)
    val old = raw.filter(col(tsCol) < cutoff)
    // nothing below the cutoff — a completed trim's retry, or a policy
    // cycle where no sample has aged yet: skip BOTH sides, so no
    // schema-less store dir is created by an empty append and no
    // unpartitioned raw tree is pointlessly rewritten (the probe is one
    // limit-1 scan with the ts predicate pushed down)
    if (old.isEmpty) return
    append(old, storePath, s"tier-$cutoff", bucketNanos, valueCol, tsCol,
      distinctCol, lgK, histBoundsCents, keyCols = keyCols,
      withVariance = withVariance)
    trimBelow(spark, fs, rawPath, "tiered raw table", cutoff, col(tsCol))
  }

  /** The partition-column chain a hive-layout tree encodes in its
    * directory names (`__day=…`, or a foreign writer's `pday=…/hr=…`),
    * outermost first — read off ONE root-to-files path, the layout every
    * partitioned writer produces. Empty for flat trees. A rewrite must
    * re-partition by exactly these columns: flattening would demote them
    * to data columns, and the NEXT append by the tree's own writer would
    * then mix root-level files with partition dirs — a layout Spark's
    * partition discovery rejects outright. */
  private def partitionColsOf(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] = {
    @scala.annotation.tailrec
    def walk(dir: org.apache.hadoop.fs.Path,
        acc: List[String]): List[String] =
      Option(fs.listStatus(dir)).getOrElse(Array.empty)
        .find(s => s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(s) =>
          walk(s.getPath, s.getPath.getName.takeWhile(_ != '=') :: acc)
        case None => acc.reverse
      }
    walk(root, Nil)
  }

  /** Trim a parquet tree to rows with `bound >= cutoff`. Fast path: a
    * `__day=`-partitioned tree with a day-aligned cutoff trims by DELETING
    * whole day directories ([[FileTree.dropDaysBelow]]) — never a rewrite
    * of the retained window (at 100 TB the rewrite would dwarf the rollup
    * itself). Each dir delete is atomic; a crash mid-way leaves extra
    * pre-cutoff dirs that the tier horizon already excludes from stitched
    * reads. Fallback (sub-day cutoff, flat tree, or a foreign hive
    * layout): atomic two-rename rewrite of the retained rows, PRESERVING
    * whatever partition chain the source tree encodes — a flat rewrite
    * would silently demote the partition columns and lose directory
    * pruning (and, for a foreign tree, break the external writer's next
    * append against partition discovery) forever after. */
  private[storage] def trimBelow(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, what: String,
      cutoff: Long, bound: Column): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    if (FileTree.dropDaysBelow(fs, live, cutoff))
      spark.catalog.refreshByPath(path)
    else {
      // any other READABLE layout — flat files, a __day tree with a
      // sub-day cutoff, or an externally-partitioned tree — rewrites
      // atomically; skipping one silently would leave the appended rows
      // in raw and the NEXT cycle's higher cutoff would re-append them
      // under a different tier key, double-counting forever. Only a
      // schema-less tree (a completed full trim's retry) is a no-op.
      if (FileTree.readOrNone(spark.read.parquet(path)).nonEmpty) {
        val pcols = partitionColsOf(fs, live)
        AtomicDir.publish(spark, path, what) { tmp =>
          // re-read under the publish so the filter runs against the files
          // being replaced, not a stale cached plan
          val kept = spark.read.parquet(path).filter(bound >= cutoff)
          if (pcols.nonEmpty) kept.write.partitionBy(pcols: _*).parquet(tmp)
          else kept.write.parquet(tmp)
        }
      }
    }
  }

  /** Cascade tiering, store → coarser store (1m buckets → 1h → 1d): fold
    * the fine store's buckets below `cutoff` into `coarseBucketNanos`
    * buckets appended to the coarse store, then trim the fine store. The
    * merges are the same associative folds every rollup uses — value
    * stats, HLL union, counter vector-add — so the cascade loses nothing a
    * coarse query could see. Same idempotence discipline as [[tierOff]]:
    * the deterministic `tier-<cutoff>` key dedups a retried append, the
    * trim is a directory drop or atomic rewrite, and the coarse store's
    * horizon bounds the fine store in stitched reads during the crash
    * window. Run with writes to the fine store quiesced. */
  def tierOffStore(spark: SparkSession, fineStorePath: String,
      coarseStorePath: String, cutoff: Long,
      coarseBucketNanos: Long): Unit = {
    require(Math.floorMod(cutoff, coarseBucketNanos) == 0,
      s"tierOffStore: cutoff $cutoff is not aligned to the " +
        s"$coarseBucketNanos coarse bucket — a straddling bucket would be " +
        "half fine, half coarse")
    val fine = scopedStore(spark, fineStorePath, None, Some(cutoff))
    // nothing below the cutoff (completed retry / no-op policy cycle):
    // skip before the width probe — an emptied fine store has no width
    // to read and an empty append would leave a schema-less coarse dir
    if (fine.isEmpty) return
    val fineBn = nonEmpty(
      storeMetaProbe(checkedRead(spark, fineStorePath), fineStorePath)._1,
      fineStorePath)
    require(coarseBucketNanos % fineBn == 0,
      s"tierOffStore: coarse width $coarseBucketNanos does not nest the " +
        s"fine store's $fineBn buckets")
    // an absent or empty coarse store accepts the first tier
    storeWidthOpt(spark, coarseStorePath).foreach(bn =>
      require(bn == coarseBucketNanos,
        s"tierOffStore: coarse store at $coarseStorePath holds $bn-ns " +
          s"buckets, not $coarseBucketNanos"))
    // and the key sets must agree — cascading a host-keyed store into a
    // type-keyed one would null-key every later fold
    requireKeys(spark, coarseStorePath, keyColsOf(fine), "tierOffStore")
    mergeFold(fine, coarseBucketNanos, uniformWidth = true)
      .drop("distinct_est") // a read-side derivation, not a stored column
      // the fold's sum-of-sums widened to decimal(38,2); the store's
      // at-rest type is the decimal(28,2) rollupRows writes — cast back
      // (lossless: 26 integer digits) so parquet schema merge stays clean
      .withColumn("sum_c", col("sum_c").cast("decimal(28,2)"))
      .withColumn("bucket_ns", lit(coarseBucketNanos))
      .withColumn("batch_key", lit(s"tier-$cutoff"))
      .withColumn(WritableStore.PartitionCol, FileTree.dayCol("bucket_ts"))
      .repartition(col(WritableStore.PartitionCol)) // one file per day
      .write.mode("append").partitionBy(WritableStore.PartitionCol)
      .parquet(coarseStorePath)
    val fineLive = new org.apache.hadoop.fs.Path(fineStorePath)
    trimBelow(spark,
      fineLive.getFileSystem(spark.sessionState.newHadoopConf()),
      fineStorePath, "tiered rollup store", cutoff, col("bucket_ts"))
  }

  /** One tier of a declarative retention policy: its at-rest store, bucket
    * width, and how long samples stay at this resolution before aging into
    * the next tier. The LAST tier's `keepNanos` is never read — the
    * coarsest tier retains forever. */
  final case class TierSpec(storePath: String, bucketNanos: Long,
      keepNanos: Long = Long.MaxValue)

  /** A policy cutoff: `now − keep` floored to the receiving tier's bucket
    * — and further to the DAY boundary whenever that width nests into a
    * day (day-aligned is then still bucket-aligned). The day floor is a
    * scale decision, not cosmetics: it keeps every cycle's raw/store trim
    * on [[trimBelow]]'s `__day` directory-drop fast path; an hour-aligned
    * cutoff over a day-partitioned 100 TB raw table would atomically
    * REWRITE the whole retained tree every cron cycle. The cost is up to
    * one extra day retained at the finer resolution — `keep` is a
    * minimum, the usual retention contract. */
  private def policyCutoff(nowNs: Long, keep: Long, bucketNanos: Long)
      : Long = {
    val w =
      if (FileTree.DayNs % bucketNanos == 0) FileTree.DayNs else bucketNanos
    Math.floorDiv(nowNs - keep, w) * w
  }

  /** Apply a retention policy — "full resolution for a week, hourly for a
    * year, daily forever" as ONE declarative call a maintenance daemon or
    * cron issues per cycle, instead of hand-computed [[tierOff]] /
    * [[tierOffStore]] cutoffs. `nowNs` is injectable (the dialect clock
    * discipline of `today()`, `QueryParser`'s `clock`): each cutoff
    * derives as `now − keep` aligned DOWN to the RECEIVING tier's bucket
    * width — deterministic for a given now, so the `tier-<cutoff>` batch
    * keys make a crashed or double-run cycle idempotent end to end (the
    * retried append collapses in the replay dedup; the retried trim
    * no-ops). Moves run raw → finest first, then down the cascade, so
    * every displaced bucket reaches its final tier within the SAME cycle
    * — coarse-first would strand below-coarse-cutoff samples in the fine
    * store until the next cycle. Keeps must not shrink down the cascade
    * (each coarser tier retains at least as long as the finer one above
    * it, checked AFTER bucket alignment) so the resulting horizons
    * satisfy [[cascadeRollup]]'s fine-to-coarse monotonicity — violations
    * fail loudly before any data moves. Bucket widths must nest
    * ([[tierOffStore]]'s guard re-checks per move). A cascade move whose
    * fine store does not exist yet (nothing has aged that far) is
    * skipped, not an error. Returns the (storePath, cutoff) pairs of this
    * cycle for the caller's maintenance log. `compactStores = true` folds
    * each store's accumulated partials after the moves — only with
    * ingest quiesced ([[compact]]'s contract).
    *
    * 100 TB shape: a cycle's cost is the displaced window's rollup (one
    * bounded pass over the aged days — at a daily cadence, 1/retention-th
    * of the raw table) plus metadata-sized store folds; the serving side
    * stays [[cascadeRollup]]'s store-buckets-plus-raw-remnant scan
    * (ScaleProbe `cascade_serve`). */
  def applyRetention(spark: SparkSession, rawPath: String,
      rawKeepNanos: Long, tiers: Seq[TierSpec], nowNs: Long,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      compactStores: Boolean = false,
      keyCols: Seq[String] = Nil,
      withVariance: Boolean = false): Seq[(String, Long)] = {
    require(tiers.nonEmpty, "applyRetention needs at least one tier")
    val cutoffs = policyCutoffs("applyRetention",
      rawKeepNanos +: tiers.init.map(_.keepNanos), tiers, nowNs)
    tierOff(spark, rawPath, tiers.head.storePath, cutoffs.head,
      tiers.head.bucketNanos, valueCol, tsCol, distinctCol, lgK,
      histBoundsCents, keyCols, withVariance)
    runPolicyMoves(spark, tiers, cutoffs.tail, compactStores)
    tiers.map(_.storePath).zip(cutoffs)
  }

  /** Validated policy cutoffs for one cycle: keep-finiteness per move,
    * [[policyCutoff]] alignment against each RECEIVING tier, then the
    * loud shrink guard — all BEFORE any data moves. */
  private def policyCutoffs(context: String, keeps: Seq[Long],
      receiving: Seq[TierSpec], nowNs: Long): Seq[Long] = {
    val cutoffs = keeps.zip(receiving).map { case (keep, r) =>
      require(keep >= 0 && keep < Long.MaxValue,
        s"$context: keep $keep is not a finite non-negative duration — " +
          "only the LAST tier retains forever")
      policyCutoff(nowNs, keep, r.bucketNanos)
    }
    cutoffs.sliding(2).foreach {
      case Seq(fine, coarse) => require(coarse <= fine,
        s"$context: a coarser tier would cut at $coarse, NEWER than the " +
          s"finer tier's $fine — keeps must not shrink down the cascade " +
          "(after bucket alignment)")
      case _ =>
    }
    cutoffs
  }

  /** One cycle's store→store moves down the cascade plus the optional
    * compaction pass, shared by both policy variants. A fine store that
    * is absent or schema-less (nothing aged that far yet, or fully
    * drained by an equal-keep pass-through) skips its move — and the
    * compaction pass skips those trees too, so a cycle never crashes
    * AFTER its data has already moved. */
  private def runPolicyMoves(spark: SparkSession, tiers: Seq[TierSpec],
      moveCutoffs: Seq[Long], compactStores: Boolean): Unit = {
    def readable(p: String): Boolean = healedOrNone(spark, p).nonEmpty
    tiers.sliding(2).toSeq.zip(moveCutoffs).foreach {
      case (Seq(fine, coarse), cut) =>
        if (readable(fine.storePath))
          tierOffStore(spark, fine.storePath, coarse.storePath, cut,
            coarse.bucketNanos)
      case _ =>
    }
    if (compactStores)
      tiers.map(_.storePath).filter(readable).foreach(compact(spark, _))
  }

  /** [[applyRetention]] for the RAW-LESS mirror lifecycle: the FIRST
    * [[TierSpec]] is the stream-maintained mirror ([[rollupIngest]]'s
    * complete store), its `keepNanos` how long full resolution stays
    * there before aging down the [[tierOffStore]] cascade; the last
    * tier retains forever. Same discipline as the raw-headed policy:
    * clock-injected cutoffs aligned down to each receiving tier's width,
    * deterministic tier keys absorbing crashed or double-run cycles,
    * fine-first move order, loud shrinking-keeps guard, no-op moves
    * skipped. Quiesce (or tolerate replay of) the ingest stream around a
    * cycle — a mirror append racing the trim is the standard streaming
    * at-least-once window the batch-key dedup and horizon scoping
    * already cover. Returns the (receiving storePath, cutoff) pairs. */
  def applyStoreRetention(spark: SparkSession, tiers: Seq[TierSpec],
      nowNs: Long, compactStores: Boolean = false): Seq[(String, Long)] = {
    require(tiers.size >= 2,
      "applyStoreRetention ages a mirror down a cascade — it needs the " +
        "mirror plus at least one coarser tier")
    val cutoffs = policyCutoffs("applyStoreRetention",
      tiers.init.map(_.keepNanos), tiers.tail, nowNs)
    runPolicyMoves(spark, tiers, cutoffs, compactStores)
    tiers.tail.map(_.storePath).zip(cutoffs)
  }

  /** The tier horizon: the highest cutoff any [[tierOff]] /
    * [[tierOffStore]] has appended — everything below it is served from
    * this store, whatever the finer tier still holds. Parsed from the
    * deterministic `tier-<cutoff>` batch keys and from the
    * [[compactKey]]s [[compact]] stamps to carry the horizon THROUGH
    * compaction. None (null) if never tiered. */
  private def horizonExpr: Column = {
    val fromTier = when(col("batch_key").startsWith("tier-"),
      expr("CAST(substring(batch_key, 6) AS LONG)"))
    val fromCompact = expr(
      "CAST(nullif(regexp_extract(batch_key, '^compact-[0-9a-f]+-h(-?[0-9]+)$'" +
        ", 1), '') AS LONG)")
    coalesce(fromTier, fromCompact)
  }

  /** The batch key a compaction stamps on its folded rows: unique per
    * compaction, carrying the tier horizon (`compact-<uuid>-h<cutoff>`)
    * so stitched reads survive the fold. */
  private[storage] def compactKey(horizon: Option[Long]): String = {
    val id = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"
    horizon.fold(id)(h => s"$id-h$h")
  }

  /** A store frame's bucket width and tier horizon in ONE metadata
    * aggregation over its KB rows — the probe behind every width guard,
    * snapshot and compaction (two driver-blocking jobs over the same
    * frame doubled the per-request metadata cost; the routed rows' time
    * is job count, not bytes). The width is None for an empty (fully
    * trimmed) store. A mixed-width store (a writer that bypassed
    * [[append]]'s validation) always fails loudly HERE, worded for the
    * store kind `what`, and never feeds arithmetic. */
  private[storage] def storeMetaProbe(stored: DataFrame, path: String,
      what: String = "rollup store"): (Option[Long], Option[Long]) = {
    val r = stored.agg(collect_set(col("bucket_ns")), max(horizonExpr))
      .head()
    val width = r.getSeq[Long](0).sorted match {
      case Seq() => None
      case Seq(bn) => Some(bn)
      case ws => throw new IllegalStateException(
        s"$what at $path holds MIXED bucket widths " +
          s"${ws.mkString(", ")} — one store holds exactly one grain")
    }
    (width, if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  /** Serving windows for a fine → coarse chain of stitched sources,
    * given each source's OWN horizon (None = serves to ∞, i.e. raw or a
    * mirror store): source i serves `[next present horizon below it ∨
    * since, own horizon ∧ until)`. This is THE exactly-once-per-sample
    * window discipline every stitched read shares: each sample is counted
    * from exactly one tier even DURING a tierOff's append-to-trim window
    * (or after a crash inside it), when the finer tier still holds
    * already-tiered rows. Validates that present horizons run newest
    * (fine) to oldest (coarse). */
  private def tierWindows(context: String, horizons: Seq[Option[Long]],
      since: Option[Long], until: Option[Long])
      : Seq[(Option[Long], Option[Long])] = {
    val presentHs = horizons.flatten
    require(presentHs.sliding(2).forall(w =>
        w.length < 2 || w.head >= w.last),
      s"$context: tier horizons must run newest (fine) to oldest " +
        s"(coarse); got ${presentHs.mkString(", ")}")
    horizons.zipWithIndex.map { case (h, i) =>
      (Seq(horizons.drop(i + 1).flatten.headOption, since).flatten.maxOption,
        Seq(h, until).flatten.minOption)
    }
  }

  /** THE stitch: every part of `list` ([[TierList.parts]]) scoped to its
    * window — each store part through [[storeScoped]], the raw head as one
    * [[rollupRows]] pass at `g` — then folded into one row per `g` bucket
    * ([[mergeFold]]). A raw part whose window is empty is not read at all.
    * Store parts must carry the same dimensions (sketch, histogram,
    * variance); the raw side mirrors them, keyed by the stores' keys. An
    * absent or fully-trimmed store serves nothing. */
  private def stitch(list: TierList,
      parts: Seq[(Option[Tier], Option[Long], Option[Long])], g: Long,
      keyFilter: Option[Column]): DataFrame = {
    val keys = sharedKeys(list)
    val stores = parts.flatMap(_._1)
    // variance, sketch, histogram: each on every store part or on none
    val dims = Seq("sumsq_c", "hll", "hcnt").filter { c =>
      val n = stores.count(_.snap.df.columns.contains(c))
      require(n == 0 || n == stores.size, s"${list.context}: some tiers " +
        s"carry $c and some do not — every tier must be written with the " +
        "same dimensions")
      n > 0
    }
    val cols = (keys ++ Seq("bucket_ts", "bucket_ns", "n", "min_c", "max_c",
      "sum_c") ++ dims ++ dims.filter(_ == "hcnt").map(_ => "hbounds"))
      .map(col)
    val frames = parts.collect {
      case (Some(t), lo, hi) =>
        storeScoped(t.snap, keyFilter.fold(t.snap.df)(t.snap.df.filter), lo,
          hi)
      case (None, lo, hi) if lo.zip(hi).forall { case (l, h) => l < h } =>
        val r = list.raw.get
        rollupRows(graft.operators.TsOps.rangeFilter(rawOf(list, keyFilter),
            lo, hi, r.tsCol), g, r.valueCol, r.tsCol,
          r.distinctCol.filter(_ => dims.contains("hll")), r.lgK,
          if (dims.contains("hcnt")) r.histBoundsCents else Nil, keys,
          withVariance = dims.contains("sumsq_c"))
    }.map(_.select(cols: _*))
    require(frames.nonEmpty, s"${list.context}: no readable store")
    mergeFold(frames.reduce(_.unionByName(_)), g,
      uniformWidth = frames.size == 1)
  }

  /** The ONE key set every store of a tier list shares — horizonless
    * stores included: a keyed store not yet tiered into serves no rows but
    * still declares the dimension, so the stitched schema cannot flip from
    * unkeyed to keyed the day the first tierOff runs. Stores keyed
    * differently (a wiring bug: someone cascaded a host-keyed store into a
    * type-keyed one) fail loudly, never fold across mismatched keys. */
  private def sharedKeys(list: TierList): Seq[String] = {
    val keyed = list.stores.map(t => (t.path, keyColsOf(t.snap.df)))
    keyed.map(_._2.sorted).distinct match {
      case Seq() => Nil
      case Seq(_) => keyed.head._2
      case _ => throw new IllegalStateException(
        s"${list.context}: tiers carry DIFFERENT key sets — " +
          keyed.map { case (p, ks) => s"$p=[${ks.mkString(", ")}]" }
            .mkString("; "))
    }
  }

  /** Stitched read across one raw + one store tier: the rolled-up past
    * UNION the raw rows at-or-after the TIER HORIZON, re-aggregated at
    * `coarseNanos` — tier ranges are disjoint whole buckets (the
    * [[tierOff]] alignment contract), so the merge is the same associative
    * fold as any rollup and the base aggregates equal a direct pass over
    * the never-tiered table bit for bit. The horizon filter (not
    * "whatever raw holds") is load-bearing twice: during [[tierOff]]'s
    * append-to-trim window — and after a crash inside it — raw still
    * holds already-tiered samples, and without the filter the stitched
    * read would double-count them; and a LATE sample older than the
    * horizon that sneaks into raw is deliberately invisible here (the
    * out-of-order-beyond-retention write a TSDB rejects at ingest) rather
    * than sometimes-counted. A never-tiered table (no store yet) degrades
    * to the plain raw rollup. When the store carries `hll` / `hcnt`
    * dimensions, pass `distinctCol` / `histBoundsCents` and the stitched
    * result keeps them — distinct estimates and histogram quantiles
    * survive tiering through the same associative unions compaction uses.
    */
  def tieredRollup(spark: SparkSession, rawPath: String, storePath: String,
      coarseNanos: Long, valueCol: String = "value",
      tsCol: String = "ts", distinctCol: Option[String] = None,
      lgK: Int = 12, histBoundsCents: Seq[Long] = Nil): DataFrame =
    cascadeRollup(spark, rawPath, Seq(storePath), coarseNanos, valueCol,
      tsCol, distinctCol, lgK, histBoundsCents)

  /** Stitched read across a full tier cascade — raw plus stores fine →
    * coarse ("full resolution for a week, hourly for a year, daily
    * forever"), re-aggregated at `coarseNanos` (which must nest every
    * contributing tier's bucket width). Each tier serves exactly its
    * horizon window, so the base aggregates equal a direct pass over the
    * never-tiered table bit for bit, and sketch dimensions survive via
    * their associative unions. A store never tiered into serves nothing;
    * an absent/empty raw tree — everything tiered off — serves zero raw
    * rows instead of failing schema inference. */
  def cascadeRollup(spark: SparkSession, rawPath: String,
      storePaths: Seq[String], coarseNanos: Long,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil): DataFrame = {
    require(storePaths.nonEmpty, "cascadeRollup needs at least one store")
    val list = rawHeaded(spark, "cascadeRollup", rawPath, storePaths,
      valueCol, tsCol, distinctCol, lgK, histBoundsCents)
    stitch(list, list.parts(None, None), coarseNanos, None)
  }

  /** Raw at `rawPath` heading `storePaths` fine → coarse. The raw tree is
    * read only when a part needs it. */
  private def rawHeaded(spark: SparkSession, context: String,
      rawPath: String, storePaths: Seq[String], valueCol: String,
      tsCol: String, distinctCol: Option[String], lgK: Int,
      histBoundsCents: Seq[Long]): TierList = {
    val tiers = openTiers(spark, storePaths, context, mirrorFirst = false)
      .flatten
    // a keyed cascade whose raw tree is fully tiered off still needs the
    // key columns (typed from the store) in the zero-row frame
    val keyFields = tiers.headOption.toSeq.flatMap(t =>
      keyColsOf(t.snap.df).map(t.snap.df.schema(_)))
    TierList(context, Some(RawSide(() => readRawOrEmpty(spark, rawPath,
      tsCol, valueCol, distinctCol, keyFields), valueCol, tsCol, distinctCol,
      lgK, histBoundsCents)), None, tiers)
  }

  /** The RAW-LESS chain: the first store is the stream-maintained mirror
    * (its batch keys are replay ids, so it has NO tier horizon of its
    * own) heading the tiers [[tierOffStore]] aged its old buckets into.
    * The routing floor is the mirror's width — or, when the mirror is
    * absent or fully aged out, the finest tier's. */
  private def mirrorHeaded(spark: SparkSession, context: String,
      storePaths: Seq[String]): TierList = {
    val opened = openTiers(spark, storePaths, context, mirrorFirst = true)
    val tiers = opened.tail.flatten
    TierList(context, None, opened.head, tiers,
      opened.head.orElse(tiers.headOption).fold(1L)(_.width))
  }

  /** Stitched read over a RAW-LESS cascade — the stream-maintained
    * lifecycle: [[graft.streaming.StreamIngest.rollupIngest]] keeps the
    * finest store a complete mirror, and [[tierOffStore]] ages its old
    * buckets down the cascade. The mirror serves `[next tier's horizon,
    * ∞)` — exactly the window raw serves in [[cascadeRollup]] — and each
    * tiered store its own horizon window, so every bucket is counted from
    * exactly one tier even inside a tierOffStore's append-to-trim crash
    * window. Without this read, the two features it composes —
    * stream-maintained stores and store→store tiering — would each work
    * alone but lose data when combined. Tiered stores (all but the first)
    * must carry horizons; a missing/empty tiered store serves nothing. */
  def storeCascadeRollup(spark: SparkSession, storePaths: Seq[String],
      coarseNanos: Long): DataFrame = {
    require(storePaths.size >= 2,
      "storeCascadeRollup stitches a mirror store with its tiers — for " +
        "a single store use rollup()")
    val list = mirrorHeaded(spark, "storeCascadeRollup", storePaths)
    stitch(list, list.parts(None, None), coarseNanos, None)
  }

  /** Self-heal and read a raw table — a reader from its at-rest snapshot
    * ([[Tables.treeAtRest]]), a writer (`atRest = false`) directly; a
    * fully-tiered-off tree (only _SUCCESS left) serves ZERO rows — reads
    * must degrade to the stores, not die on schema inference. */
  private def readRawOrEmpty(spark: SparkSession, rawPath: String,
      tsCol: String, valueCol: String, distinctCol: Option[String],
      keyFields: Seq[StructField] = Nil,
      atRest: Boolean = true): DataFrame = {
    val (fs, rawLive, _) = FileTree.qualified(spark, rawPath)
    AtomicDir.recover(fs, rawLive, "tiered raw table")
    (if (atRest) Tables.treeAtRest(spark, rawPath).map(_.df)
    else FileTree.readOrNone(spark.read.parquet(rawPath))).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
        Seq(StructField(tsCol, LongType), StructField(valueCol, DoubleType))
          ++ distinctCol.map(StructField(_, LongType)) ++ keyFields)))
  }

  /** [[route]] over a full tier cascade: raw plus fine → coarse stores.
    * The finest resolution that still EXISTS varies along the timeline,
    * so the grain clamps to the widest bucket width among the tiers the
    * widened range touches ([[routeGrain]]). A range raw fully holds
    * serves raw at the requested fine grain ("raw"); everything else
    * stitches ("stitched"), reading raw only when its window is
    * non-empty. Unlike [[route]], a store without a horizon here was
    * never tiered into and serves nothing: raw holds its range. */
  def routeCascade(spark: SparkSession, rawPath: String,
      storePaths: Seq[String], since: Long, until: Long, maxPoints: Int,
      valueCol: String = "value", tsCol: String = "ts",
      distinctCol: Option[String] = None, lgK: Int = 12,
      histBoundsCents: Seq[Long] = Nil,
      keyFilter: Option[Column] = None): DataFrame = {
    require(storePaths.nonEmpty, "routeCascade needs at least one store")
    routeTiers(rawHeaded(spark, "routeCascade", rawPath, storePaths,
        valueCol, tsCol, distinctCol, lgK, histBoundsCents),
      since, until, maxPoints, keyFilter)
  }

  /** [[routeCascade]] for the RAW-LESS mirror lifecycle: a mirror store
    * plus its coarser tiers. There is no raw table, so a budget demanding
    * finer than the mirror clamps UP to the mirror's width, then to the
    * widest touched tier. Labeled `source="store"` when only the mirror
    * is touched, `"stitched"` otherwise (an empty mirror over an
    * above-horizon range stitches to the honest zero-row frame). */
  def routeStoreCascade(spark: SparkSession, storePaths: Seq[String],
      since: Long, until: Long, maxPoints: Int,
      keyFilter: Option[Column] = None): DataFrame = {
    require(storePaths.size >= 2,
      "routeStoreCascade routes over a mirror plus tiers — for a " +
        "single store use route()")
    routeTiers(mirrorHeaded(spark, "routeStoreCascade", storePaths), since,
      until, maxPoints, keyFilter)
  }

  /** A route request as a serving surface parsed it: store paths fine →
    * coarse, an optional raw or sample path, the range and point budget,
    * the raw side's columns and an optional key predicate. */
  final case class RouteRequest(stores: Seq[String], raw: Option[String],
      since: Long, until: Long, maxPoints: Int,
      sample: Option[String] = None, valueCol: String = "value",
      tsCol: String = "ts", distinctCol: Option[String] = None,
      histBoundsCents: Seq[Long] = Nil, keyFilter: Option[Column] = None)

  /** THE dispatch from a parsed route request to its router, shared by the
    * query server's route frames and the `graft_route` SQL function: raw +
    * one store → [[route]]; raw + a cascade → [[routeCascade]]; two-plus
    * stores without raw → [[routeStoreCascade]]; a sample + one store
    * without raw → [[prepareSampled]], its sample rows pinned when
    * `pinSample`. */
  def routeRequest(spark: SparkSession, r: RouteRequest,
      pinSample: Boolean = false)
      : DataFrame = (r.sample, r.raw, r.stores) match {
    case (_, _, Seq()) =>
      throw new IllegalArgumentException("a route needs at least one store")
    case (Some(sm), None, Seq(one)) =>
      prepareSampled(spark, one, sm, r.valueCol, pinSample)
        .route(r.since, r.until, r.maxPoints, r.keyFilter)
    case (Some(_), _, _) => throw new IllegalArgumentException(
      "a sample route takes exactly one store and no raw — the sample " +
        "tier IS the fine-zoom source")
    case (None, Some(raw), Seq(one)) =>
      route(spark, one, Tables.treeAtRest(spark, raw).fold(
          spark.read.parquet(raw))(_.df), r.since, r.until,
        r.maxPoints, r.valueCol, r.tsCol, r.distinctCol, 12,
        r.histBoundsCents, r.keyFilter)
    case (None, Some(raw), many) =>
      routeCascade(spark, raw, many, r.since, r.until, r.maxPoints,
        r.valueCol, r.tsCol, r.distinctCol, 12, r.histBoundsCents,
        r.keyFilter)
    case (None, None, many) if many.size >= 2 =>
      routeStoreCascade(spark, many, r.since, r.until, r.maxPoints,
        r.keyFilter)
    case _ => throw new IllegalArgumentException(
      "a single store without raw cannot route — pass raw for the tiered " +
        "lifecycle or two-plus stores for the raw-less mirror")
  }

  /** Fold accumulated per-batch partials back to one row per bucket — the
    * IO compaction that caps file-listing cost as streamed batches pile up,
    * doubling as the durable replay repair (duplicate (bucket_ts,
    * bucket_ns, batch_key) rows collapse before the fold). The tier
    * horizon, if any, is re-stamped into the folded rows' batch key
    * (`compact-<uuid>-h<cutoff>`) so stitched reads survive compaction.
    * Shared `.compact-*` two-rename protocol; run with the ingest stream
    * stopped or quiesced — a batch replayed AFTER its partial was folded
    * is no longer detectable.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    AtomicDir.heal(fs, live, "rollup store")
    AtomicDir.compactPublish(spark, path, "compact rollup") { tmp =>
      val live0 = checkedRead(spark, path)
      val (width, horizon) = storeMetaProbe(live0, path)
      nonEmpty(width, path) // empty and mixed stores fail, never fold
      val key = compactKey(horizon)
      val hasHist = live0.columns.contains("hcnt")
      val cAggs = Seq(sum("n").as("n"), min("min_c").as("min_c"),
        max("max_c").as("max_c"),
        sum("sum_c").cast("decimal(28,2)").as("sum_c")) ++
        (if (live0.columns.contains("sumsq_c"))
          Seq(sum("sumsq_c").cast("decimal(38,4)").as("sumsq_c")) else Nil) ++
        (if (live0.columns.contains("hll"))
          Seq(expr("hll_union_agg(hll, true)").as("hll")) else Nil) ++
        (if (hasHist)
          Seq(udaf(new graft.pipeline.Text.CmsMergeAgg)
            .apply(col("hcnt")).as("hcnt"),
            min("hbounds").as("__hbmin"), max("hbounds").as("__hbmax"))
        else Nil)
      val keys = keyColsOf(live0)
      val folded0 = live0
        .dropDuplicates(keys ++ Seq("bucket_ts", "bucket_ns", "batch_key"))
        .groupBy((keys ++ Seq("bucket_ts", "bucket_ns")).map(col): _*)
        .agg(cAggs.head, cAggs.tail: _*)
      val folded =
        if (!hasHist) folded0
        else folded0 // the schedule must survive the fold — and mixed
          // schedules fail here, not silently mislabel
          .withColumn("hbounds", when(assert_true(
            col("__hbmin") === col("__hbmax"),
            lit("rollup store: partials carry DIFFERENT histogram bound " +
              "schedules — every append must use the store's " +
              "histBoundsCents")).isNull, col("__hbmin")))
          .drop("__hbmin", "__hbmax")
      folded
        .withColumn("batch_key", lit(key))
        .withColumn(WritableStore.PartitionCol, FileTree.dayCol("bucket_ts"))
        .repartition(col(WritableStore.PartitionCol)) // one file per day
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }

  /** Read the store with schema merge and, when any file carries the
    * distinct sketch, an in-plan guard that EVERY row does: a writer that
    * appended hll-less partials into a sketch-bearing store (or vice
    * versa) must fail loudly at the next read — a silent null would make
    * every later distinct estimate undercount the streamed buckets.
    */
  private def checkedRead(spark: SparkSession, path: String): DataFrame =
    Seq("hll" -> "distinctCol", "hcnt" -> "histBoundsCents",
        "sumsq_c" -> "withVariance")
      .foldLeft(spark.read.option("mergeSchema", "true").parquet(path)) {
        case (acc, (c, param)) =>
          if (acc.columns.contains(c))
            acc.withColumn(c, when(assert_true(col(c).isNotNull,
              lit(s"rollup store: mixed $c-bearing and $c-less partials — " +
                s"every append must pass the store's $param")).isNull,
              col(c)))
          else acc
      }
}
