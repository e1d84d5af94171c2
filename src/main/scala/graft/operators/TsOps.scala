package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.BoundLong

/** Time-series operators over frames carrying `ts` as epoch-nano LongType.
  *
  * Scale notes (100 TB target):
  *  - the range filter is a plain comparison on a long column → Catalyst
  *    pushes it into the Parquet scan (row-group min/max skipping replaces the
  *    reference's sorted-block binary search,
  *    `zikeiretsu/src/tsdb/storage/block_list/mod.rs:254-328`);
  *  - the grouped limit avoids a global single-partition window: it computes
  *    the n-th distinct timestamp with a TakeOrderedAndProject (distributed
  *    top-n, no full sort) and re-filters — two scans, both
  *    filter-pushdown-friendly, no stage is single-threaded.
  */
object TsOps {

  /** SQL text for FLOOR division of a long expression by a positive literal:
    * `(x - pmod(x, b)) div b`. Two properties the obvious alternatives lack:
    * integer-exact (a `/` on longs round-trips through double, where epoch-ns
    * magnitudes lose up to ~256 ns before dividing) and floor semantics on
    * negatives (`pmod` is non-negative, so the subtraction lands on the floor
    * multiple; SQL `div` alone truncates toward zero, bucketing pre-epoch
    * timestamps one high — DuckDB's `//` and Java's `Math.floorDiv` both
    * floor, and the oracle comparisons ride the former).
    */
  def floorDivSql(x: String, b: Long): String =
    s"(($x - pmod($x, ${b}L)) div ${b}L)"

  /** [[floorDivSql]]'s companion: the floor MULTIPLE `x - pmod(x, b)` —
    * the start of the width-`b` bucket containing `x`. */
  def floorBucketSql(x: String, b: Long): String =
    s"($x - pmod($x, ${b}L))"

  /** [[floorBucketSql]] over a column, with the width a [[BoundLong]]: a
    * serving fold whose grain differs from the last request's reuses its
    * compiled plan. */
  def floorBucket(x: Column, b: Long): Column = x - pmod(x, BoundLong.lit(b))

  /** THE exact fixed point every integer-exact operator scores in: value →
    * decimal(18,2) (null for null/NaN/non-castable) → CENTS as long. One
    * definition shared by the anomaly/counter/histogram/PAA operators, the
    * streaming twins, and the rollup store — their bit-identical contracts
    * depend on this cast chain never drifting between copies. */
  def centsExpr(valueCol: String): Column =
    (col(valueCol).cast("decimal(18,2)") * 100).cast("long")

  private val DayNs = 86400L * 1000000000L
  private val HourNs = 3600L * 1000000000L

  /** UTC day-of-week of an epoch-nano ts (0 = Monday; epoch day 0 was a
    * Thursday, hence the +4 shift) — pure integer arithmetic, shared by
    * [[heatmap]], [[seasonalProfile]] and the streaming seasonal twin. */
  def dowExpr(tsCol: String): Column =
    expr(s"pmod(${floorDivSql(tsCol, DayNs)} + 4, 7)")

  /** UTC hour-of-day companion of [[dowExpr]] (pmod is non-negative, so
    * plain `div` IS floor division here). */
  def hourExpr(tsCol: String): Column =
    expr(s"pmod($tsCol, ${DayNs}L) div ${HourNs}L")

  /** `[since, until)` — the reference's only WHERE predicate
    * (`time_series_dataframe.rs:355-385`): since inclusive, until exclusive,
    * duplicate timestamps preserved. The bounds are [[BoundLong]]s, so reads
    * that differ only in their range share one compiled plan.
    */
  def rangeFilter(df: DataFrame, since: Option[Long], until: Option[Long],
      tsCol: String = "ts"): DataFrame = {
    val conds: Seq[Column] =
      since.map(s => col(tsCol) >= BoundLong.lit(s)).toSeq ++
        until.map(u => col(tsCol) < BoundLong.lit(u)).toSeq
    conds.reduceOption(_ && _).fold(df)(df.filter)
  }

  /** Tie-preserving head limit: keep all rows whose `ts` is among the `n`
    * smallest **distinct** timestamps — rows sharing the n-th timestamp all
    * survive (`time_series_dataframe.rs:105-153`).
    *
    * Implemented threshold-first: distinct → top-n (TakeOrderedAndProject) →
    * `ts <= threshold` filter, so no global one-partition window at scale.
    */
  def groupedHead(df: DataFrame, n: Int, tsCol: String = "ts"): DataFrame = {
    if (n <= 0) return df.limit(0)
    val nth = df.select(col(tsCol)).distinct()
      .orderBy(col(tsCol).asc).limit(n)
      .agg(max(tsCol)).collect()(0)
    if (nth.isNullAt(0)) df.limit(0)
    else df.filter(col(tsCol) <= BoundLong.lit(nth.getLong(0)))
  }

  /** Tie-preserving tail limit: rows within the `n` largest distinct
    * timestamps. */
  def groupedTail(df: DataFrame, n: Int, tsCol: String = "ts"): DataFrame = {
    if (n <= 0) return df.limit(0)
    val nth = df.select(col(tsCol)).distinct()
      .orderBy(col(tsCol).desc).limit(n)
      .agg(min(tsCol)).collect()(0)
    if (nth.isNullAt(0)) df.limit(0)
    else df.filter(col(tsCol) >= BoundLong.lit(nth.getLong(0)))
  }

  /** Window-based variant of the grouped limit (single-node semantics
    * reference; used to cross-check `groupedHead`/`groupedTail` in tests).
    * The empty `partitionBy` makes it a one-partition plan — do not use at
    * scale. */
  def groupedLimitWindow(df: DataFrame, n: Int, head: Boolean,
      tsCol: String = "ts"): DataFrame = {
    val w =
      if (head) Window.orderBy(col(tsCol).asc)
      else Window.orderBy(col(tsCol).desc)
    df.withColumn("__rk", dense_rank().over(w))
      .filter(col("__rk") <= n).drop("__rk")
  }

  /** Downsample into fixed `bucketNanos` buckets with standard aggregates —
    * the canonical TSDB rollup (beyond the reference surface, which has no
    * aggregation; map-side partial aggregation makes this one shuffle of
    * (bucket × groupCols) cardinality).
    */
  def downsample(df: DataFrame, bucketNanos: Long, valueCol: String,
      groupCols: Seq[String] = Nil, tsCol: String = "ts"): DataFrame = {
    // pmod(x, 0) is null, so a zero width would silently collapse every
    // row into one null bucket instead of failing
    require(bucketNanos > 0, "downsample needs a positive bucket width")
    // integer floor bucket (see [[floorBucketSql]]): Column `/` is double
    // division, losing ~256 ns on epoch-ns magnitudes before the floor
    val bucket = expr(floorBucketSql(tsCol, bucketNanos)).as("bucket_ts")
    df.groupBy(bucket +: groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        min(valueCol).as("min_v"),
        max(valueCol).as("max_v"),
        sum(valueCol).as("sum_v"))
  }

  /** Densify a downsampled frame: emit one row per bucket in
    * `[fromNanos, untilNanos)` even when no data landed there. Buckets come
    * from `spark.range` (distributed, no driver-side materialization);
    * `zeroFill` columns default to 0, everything else stays null in empty
    * buckets. `fromNanos` must be bucket-aligned.
    */
  def fillGaps(agg: DataFrame, bucketNanos: Long, fromNanos: Long,
      untilNanos: Long, bucketCol: String = "bucket_ts",
      zeroFill: Seq[String] = Seq("n")): DataFrame = {
    require(bucketNanos > 0, "fillGaps needs a positive bucket width")
    val spark = agg.sparkSession
    val nBuckets = (untilNanos - fromNanos + bucketNanos - 1) / bucketNanos
    val buckets = spark.range(nBuckets)
      .select((col("id") * bucketNanos + fromNanos).as(bucketCol))
    val joined = buckets.join(agg, Seq(bucketCol), "left_outer")
    zeroFill.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L)))
    }
  }

  /** Rolling time-range aggregates: for every row, count/sum/avg of
    * `valueCol` over `[ts - windowNanos, ts]` within the same key — the
    * classic sliding-window TS analytic, as a range-frame window (one
    * shuffle on the key, no self-join).
    */
  def rollingAgg(df: DataFrame, windowNanos: Long, valueCol: String,
      keyCols: Seq[String], tsCol: String = "ts"): DataFrame = {
    require(windowNanos > 0, "rollingAgg needs a positive trailing window")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      .rangeBetween(-windowNanos, 0)
    df.withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", sum(col(valueCol)).over(w))
      .withColumn("roll_min", min(valueCol).over(w))
      .withColumn("roll_max", max(valueCol).over(w))
  }

  /** Rolling z-score anomaly detection with EXACT integer arithmetic —
    * the alerting query of a metrics store: flag each point whose
    * deviation from its key's trailing-window mean exceeds `k` standard
    * deviations, over windows with at least `minN` points. The z-test is
    * evaluated as a cross-multiplied integer comparison on value CENTS
    * (`(n·c − S)² > k²·(n·Σc² − S²)`, all BIGINT), so the decision is
    * bit-identical across engines — no float threshold anywhere. Bounds:
    * exact while `n · maxCents < ~3·10⁹` per window (10⁵ points of
    * ≤ 10⁴ cents leaves an order of magnitude under Long.Max after
    * squaring); for wider windows, shrink the window or pre-aggregate.
    * Emits the flagged rows with the window stats and the exact
    * comparison terms (`lhs`/`rhs`). One per-key range window — the same
    * shape (and scale story) as [[rollingAgg]].
    */
  def zscoreAnomalies(df: DataFrame, windowNanos: Long, valueCol: String,
      keyCols: Seq[String], k: Int = 2, minN: Long = 10,
      tsCol: String = "ts"): DataFrame = {
    require(windowNanos > 0, "zscoreAnomalies needs a positive window")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      .rangeBetween(-windowNanos, 0)
    val cents = centsExpr(valueCol)
    // count CASTABLE values, not rows: a null/NaN value contributes
    // nothing to the sums, so it must not inflate n either (and the
    // streaming twin, which drops such rows before its state function,
    // then agrees with this window exactly)
    df.withColumn("__c", cents)
      .withColumn("roll_n", count(col("__c")).over(w))
      .withColumn("__s", sum(col("__c")).over(w))
      .withColumn("__sq", sum(col("__c") * col("__c")).over(w))
      .filter(col("roll_n") >= minN)
      .withColumn("lhs",
        (col("roll_n") * col("__c") - col("__s")) *
          (col("roll_n") * col("__c") - col("__s")))
      .withColumn("rhs",
        lit(k.toLong * k) * (col("roll_n") * col("__sq") -
          col("__s") * col("__s")))
      .filter(col("lhs") > col("rhs"))
      .drop("__c", "__s", "__sq")
  }

  /** MAD (median-absolute-deviation) anomaly detection — the robust
    * sibling of [[zscoreAnomalies]]: flag points with
    * `|x − median| > k · MAD` per key. Immune to the contamination that
    * drags a mean/stddev toward the outliers being hunted. EXACT like the
    * z-test: medians of integer cents are half-integers, so `2·median`
    * and the doubled deviations are integers and the decision is the
    * integer comparison `2·dev2 > k·mad4` (dev2 = 2·|x−med|,
    * mad4 = 4·MAD) — no float threshold. Exact `percentile` at the dyadic
    * p=0.5 shuffles each key's column once per stage (the price of
    * exactness; `percentile_approx` is the sketch path when that's too
    * much); the median/MAD frames are per-key (small) and join back
    * broadcast-style.
    */
  def madAnomalies(df: DataFrame, valueCol: String, keyCols: Seq[String],
      k: Int = 3, minN: Long = 10): DataFrame = {
    val keyC = keyCols.map(col)
    val d0 = df.withColumn("__c", centsExpr(valueCol))
      .filter(col("__c").isNotNull)
    // joins back onto the per-key frames are null-SAFE on the keys:
    // groupBy puts NULL-key rows in one group like a window partition
    // would, and a plain equi-join here would silently drop that whole
    // series — the sessionizeChunked <=> discipline, so this operator
    // flags the same series zscoreAnomalies (window-based) sees
    def joinKeyed(big: DataFrame, small: DataFrame): DataFrame = {
      val renamed = small.select(small.columns.map(c =>
        if (keyCols.contains(c)) col(c).as(s"__j_$c") else col(c)): _*)
      val cond = keyCols.map(c => col(c) <=> col(s"__j_$c"))
        .reduceOption(_ && _).getOrElse(lit(true))
      big.join(renamed, cond).drop(keyCols.map(c => s"__j_$c"): _*)
    }
    val med = d0.groupBy(keyC: _*)
      .agg(count(lit(1)).as("n_pts"),
        (expr("percentile(__c, 0.5)") * 2).cast("long").as("med2"))
    val dev = joinKeyed(d0, med)
      .filter(col("n_pts") >= minN)
      .withColumn("dev2", abs(col("__c") * 2 - col("med2")))
    val mad = dev.groupBy(keyC: _*)
      .agg((expr("percentile(dev2, 0.5)") * 2).cast("long").as("mad4"))
    joinKeyed(dev, mad)
      .filter(col("dev2") * 2 > lit(k.toLong) * col("mad4"))
      .drop("__c", "n_pts")
  }

  /** Forward-fill nulls in `valueCols` over bucket order (LOCF — the
    * standard resample fill). Global bucket order uses a single-partition
    * window over the (small) bucket axis when `keyCols` is empty; pass key
    * columns for per-series fills at scale.
    */
  def locf(df: DataFrame, valueCols: Seq[String], keyCols: Seq[String] = Nil,
      orderCol: String = "bucket_ts"): DataFrame = {
    val w0 = if (keyCols.isEmpty) Window.orderBy(col(orderCol))
      else Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val w = w0.rowsBetween(Window.unboundedPreceding, 0)
    valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Linear interpolation of null buckets between known neighbors; edges
    * stay null (no extrapolation). Two windows (prev/next known value and
    * position) + one arithmetic projection.
    */
  def interpolate(df: DataFrame, valueCol: String, keyCols: Seq[String] = Nil,
      orderCol: String = "bucket_ts"): DataFrame = {
    val base = if (keyCols.isEmpty) Window.orderBy(col(orderCol))
      else Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val back  = base.rowsBetween(Window.unboundedPreceding, 0)
    val fwd   = base.rowsBetween(0, Window.unboundedFollowing)
    val vKnownTs = when(col(valueCol).isNotNull, col(orderCol))
    val prevV = last(col(valueCol), ignoreNulls = true).over(back)
    val prevT = last(vKnownTs, ignoreNulls = true).over(back)
    val nextV = first(col(valueCol), ignoreNulls = true).over(fwd)
    val nextT = first(vKnownTs, ignoreNulls = true).over(fwd)
    df.withColumn(valueCol,
      when(col(valueCol).isNotNull, col(valueCol))
        .when(prevV.isNotNull && nextV.isNotNull,
          prevV + (nextV - prevV) *
            ((col(orderCol) - prevT).cast("double") / (nextT - prevT))))
  }

  /** Gap-based sessionization: assign a per-key `session_idx` (1-based)
    * that increments whenever the gap to the previous event exceeds
    * `gapNanos`. One shuffle on (key); the lag/cumsum windows are
    * partitioned, so parallelism = key cardinality (no global window).
    */
  def sessionize(df: DataFrame, gapNanos: Long, keyCols: Seq[String],
      tsCol: String = "ts"): DataFrame = {
    require(gapNanos > 0, "sessionize needs a positive gap")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol).asc)
    val newSession = when(
      lag(col(tsCol), 1).over(w).isNull ||
        (col(tsCol) - lag(col(tsCol), 1).over(w)) > gapNanos, 1L).otherwise(0L)
    df.withColumn("session_idx",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** [[sessionize]] with bounded per-key sequential work — the hot-key
    * variant. The plain form's gap/cumsum window is a sequential scan per
    * key: one pathological key owning 30% of the events serializes 30% of
    * the table into a single task, and AQE's skew handling splits joins,
    * not window partitions. Here the event-level window runs per
    * (key, time-chunk):
    *   1. gap flags and a running flag count local to each chunk;
    *   2. one summary row per (key, chunk) — first/last ts, local flag
    *      total; a per-key window over these TINY rows decides the
    *      chunk-boundary session starts and the per-chunk session-index
    *      offsets, so the per-key-sequential work is O(chunks), not
    *      O(events);
    *   3. offsets joined back on (key, chunk) — co-partitioned with the
    *      flagged events, so no extra exchange on the big side.
    * Output is row-identical to [[sessionize]] (tested, including a
    * planted 30%-hot key). `chunkNanos` trades split granularity against
    * summary count; default 1 day.
    */
  def sessionizeChunked(df: DataFrame, gapNanos: Long, keyCols: Seq[String],
      tsCol: String = "ts",
      chunkNanos: Long = 86400L * 1000000000L): DataFrame = {
    require(chunkNanos > 0, "chunkNanos must be positive")
    require(gapNanos > 0, "sessionizeChunked needs a positive gap")
    val keyC = keyCols.map(col)
    val withChunk =
      df.withColumn("__chunk", expr(floorDivSql(tsCol, chunkNanos)))
    val wLoc = Window.partitionBy(keyC :+ col("__chunk"): _*)
      .orderBy(col(tsCol).asc)
    val lagTs = lag(col(tsCol), 1).over(wLoc)
    val flagged = withChunk
      .withColumn("__ln",
        when(lagTs.isNotNull && (col(tsCol) - lagTs) > gapNanos, 1L)
          .otherwise(0L))
      .withColumn("__lc",
        sum(col("__ln")).over(wLoc.rowsBetween(Window.unboundedPreceding, 0)))
    val summaries = flagged.groupBy(keyC :+ col("__chunk"): _*)
      .agg(min(col(tsCol)).as("__first"), max(col(tsCol)).as("__last"),
        sum(col("__ln")).as("__total"))
    val wKey = Window.partitionBy(keyC: _*).orderBy(col("__chunk").asc)
    val prevLast = lag(col("__last"), 1).over(wKey)
    val offsets = summaries
      .withColumn("__b",
        when(prevLast.isNull || (col("__first") - prevLast) > gapNanos, 1L)
          .otherwise(0L))
      .withColumn("__base",
        coalesce(sum(col("__total") + col("__b"))
          .over(wKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          col("__b"))
      .select(keyCols.map(k => col(k).as(s"__o_$k")) :+
        col("__chunk").as("__o_chunk") :+ col("__base"): _*)
    // null-SAFE key equality: windows group NULL keys into one partition,
    // so a plain equi-join here would silently drop every NULL-key row and
    // break the row-identical contract with sessionize
    val joinCond = (keyCols.map(k => col(k) <=> col(s"__o_$k")) :+
      (col("__chunk") === col("__o_chunk"))).reduce(_ && _)
    flagged.join(offsets, joinCond)
      .withColumn("session_idx", col("__base") + col("__lc"))
      .select((df.columns.map(col) :+ col("session_idx")).toIndexedSeq: _*)
  }

  /** Ordered-funnel analysis — the conversion query of an event store:
    * per key, the earliest completion of `stages` in order, where each
    * stage's event must follow the previous stage's chosen event and the
    * whole funnel closes within `withinNanos` of stage one. Greedy
    * earliest-first matching (stage k = min ts after stage k−1), the
    * common funnel semantics — note its standard caveat: the funnel
    * anchors at the key's EARLIEST stage-one event, so a completion
    * reachable only from a later anchor is not searched. Emits one row
    * per key that completes ALL stages, with each stage's timestamp
    * (`t1`..`tN`).
    *
    * Scale shape: one key-partitioned min-aggregation per stage — k
    * stages = k map-side-combinable shuffles on the key, each over only
    * that stage's events (the type filter pushes to the scan); no
    * windows, no per-key event buffering, so a hot key costs its event
    * count, not memory.
    */
  def funnel(df: DataFrame, keyCols: Seq[String], stages: Seq[String],
      withinNanos: Long, tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val keys = keyCols.map(col)
    val first = df.filter(col(typeCol) === lit(stages.head))
      .groupBy(keys: _*).agg(min(col(tsCol)).as("t1"))
    stages.zipWithIndex.drop(1).foldLeft(first) { case (acc, (st, i)) =>
      val prev = s"t$i"
      val cur = s"t${i + 1}"
      df.filter(col(typeCol) === lit(st))
        .join(acc, keyCols)
        .filter(col(tsCol) > col(prev) &&
          col(tsCol) <= col("t1") + lit(withinNanos))
        .groupBy((keys ++ (1 to i).map(j => col(s"t$j"))): _*)
        .agg(min(col(tsCol)).as(cur))
    }
  }

  /** Cohort retention — the second classic event-store report beside
    * [[funnel]]: users cohorted by their first-activity day, then for
    * each (cohort day, day offset) the count of distinct cohort members
    * active that day. Two keyed shuffles: a per-user min-day aggregation
    * (map-side combinable) and a (cohort, offset)-keyed distinct count
    * over the deduplicated (user, day) activity pairs — row volume after
    * dedup is active-user-days, far below event count. Offset 0 row =
    * cohort size.
    */
  def retention(df: DataFrame, userCol: String, dayNanos: Long,
      tsCol: String = "ts"): DataFrame = {
    require(dayNanos > 0, "retention needs a positive day width")
    val activity = df
      .select(col(userCol), expr(floorDivSql(tsCol, dayNanos)).as("__day"))
      .distinct()
    val cohorts = activity.groupBy(userCol)
      .agg(min(col("__day")).as("cohort_day"))
    activity.join(cohorts, Seq(userCol))
      .withColumn("day_offset", col("__day") - col("cohort_day"))
      .groupBy("cohort_day", "day_offset")
      .agg(count_distinct(col(userCol)).as("n_users"))
  }

  /** Interval (range) join: each `points` row is matched to every
    * `intervals` row of the same key with
    * `startCol <= ts <= endCol`. Spark has no range-join optimizer rule, so
    * the naive formulation is a conditional join that degenerates to
    * per-key nested loops; instead the time axis is discretized at
    * `binNanos`: an interval explodes to the bins it spans, a point maps to
    * exactly one bin, and the join becomes an equi-join on
    * (key, bin) + a residual range predicate — shuffle-partitioned,
    * broadcast-free, no duplicate pairs (each interval covers a point's bin
    * at most once). Pick `binNanos` near the typical interval length: the
    * per-interval explode factor is `len/binNanos + 1`, so too-fine bins
    * inflate the build side, too-coarse bins inflate the residual-filter
    * fan-in (bin cohabitants that don't overlap). Skewed bins (one hot day)
    * are AQE-split like any other shuffle skew.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
      keyCols: Seq[String], startCol: String, endCol: String,
      binNanos: Long, tsCol: String = "ts"): DataFrame = {
    require(binNanos > 0, "binNanos must be positive")
    // a shared non-key name would surface downstream as an ambiguous-
    // reference AnalysisException (or a silent wrong pick) — fail loudly
    // here instead; rename one side first (toleranceJoin r_-prefixes for
    // exactly this reason, but this operator's output schema predates it)
    val overlap =
      points.columns.toSet.intersect(intervals.columns.toSet) -- keyCols
    require(overlap.isEmpty,
      s"intervalJoin: column(s) ${overlap.mkString(", ")} exist on BOTH " +
        "sides beyond the join keys — rename one side before joining")
    // inverted intervals (end < start) can never match the residual
    // predicate, but sequence() would explode them DESCENDING into
    // end-start spurious bins — drop them before the explode
    val binned = intervals.filter(col(endCol) >= col(startCol))
      .withColumn("__bin", explode(sequence(
        expr(floorDivSql(startCol, binNanos)),
        expr(floorDivSql(endCol, binNanos)))))
    points.withColumn("__bin", expr(floorDivSql(tsCol, binNanos)))
      .join(binned, keyCols :+ "__bin")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bin")
  }

  /** Symmetric time-tolerance join: all (left, right) pairs sharing `keyCols`
    * with `|left.ts − right.ts| <= tolNanos` — the temporal-correlation
    * probe ("which clicks surround each error?") whose naive form is a
    * theta join Spark can only plan as a nested loop. Rewritten
    * scale-correct: both sides bucket by `⌊ts/tol⌋`, the LEFT side expands
    * to its bucket ±1 (a row within tol of a right row lands in the same
    * or an adjacent bucket — exactly 3× fan-out, independent of data), the
    * join runs as a hash EQUI-join on (keys, bucket), and the exact
    * `abs(diff)` residual trims the corners. Shuffle volume is 3×|left| +
    * |right|; no plan node ever holds a cross product (PlanAuditSpec pins
    * it). Right columns surface with the `r_` prefix.
    */
  def toleranceJoin(left: DataFrame, right: DataFrame, tolNanos: Long,
      keyCols: Seq[String], tsCol: String = "ts"): DataFrame = {
    require(tolNanos > 0, "toleranceJoin needs a positive tolerance")
    val l = left.withColumn("__b0", expr(floorDivSql(tsCol, tolNanos)))
      .withColumn("__bin", explode(array(col("__b0") - 1, col("__b0"),
        col("__b0") + 1)))
      .drop("__b0")
    val rCols = right.columns
    val r = right.select(rCols.map(c =>
        col(c).as(if (keyCols.contains(c)) c else s"r_$c")): _*)
      .withColumn("__bin", expr(floorDivSql(s"r_$tsCol", tolNanos)))
    l.join(r, keyCols :+ "__bin")
      .filter(abs(col(tsCol) - col(s"r_$tsCol")) <= tolNanos)
      .drop("__bin")
  }

  /** Day-of-week × hour-of-day activity matrix — pure integer arithmetic on
    * the epoch-nano axis (UTC; epoch day 0 = Thursday, hence the +4 shift),
    * so the result is engine-portable without timezone library calls. One
    * map-side-combinable aggregation over at most 168 groups.
    */
  def heatmap(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.select(dowExpr(tsCol).as("dow"), hourExpr(tsCol).as("hour"))
      .groupBy("dow", "hour").agg(count(lit(1)).as("n"))

  /** Per-key inter-event gap statistics: count / min / max / sum of the
    * deltas between consecutive timestamps. The lag window is a per-key
    * sequential scan (same shape as [[sessionize]] — the chunked variant's
    * trick applies if a key is pathologically hot); the aggregation on top
    * is map-side combinable.
    */
  def gapStats(df: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol).asc)
    df.withColumn("__gap", col(tsCol) - lag(col(tsCol), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_gaps"), min("__gap").as("min_gap"),
        max("__gap").as("max_gap"), sum("__gap").as("sum_gap"))
  }

  /** Hopping (sliding) window aggregation: fixed `windowNanos` windows
    * advancing every `slideNanos` (must divide evenly). Each row explodes
    * to the `window/slide` windows containing it — Spark's own
    * `window(ts, w, s)` does exactly this under the hood for timestamp
    * columns; this mirror works on the engine's epoch-nano longs with
    * pure integer arithmetic so results are engine-exact. The fan-out
    * factor is the overlap count (bounded, typically 2-8); the
    * aggregation stays map-side combinable.
    */
  def hoppingDownsample(df: DataFrame, windowNanos: Long, slideNanos: Long,
      valueCol: String, tsCol: String = "ts"): DataFrame = {
    require(slideNanos > 0 && windowNanos % slideNanos == 0,
      "windowNanos must be a positive multiple of slideNanos")
    val k = windowNanos / slideNanos
    df.withColumn("window_start", explode(sequence(
        expr(s"(${floorDivSql(tsCol, slideNanos)} - ${k - 1}L) * ${slideNanos}L"),
        expr(s"${floorDivSql(tsCol, slideNanos)} * ${slideNanos}L"),
        lit(slideNanos))))
      .groupBy("window_start")
      .agg(count(lit(1)).as("n"), min(valueCol).as("min_v"),
        max(valueCol).as("max_v"))
  }

  /** DAU + trailing-`windowDays` active users per day. Runs on the
    * DEDUPLICATED (user, day) activity frame (active-user-days, far below
    * event count); the windowed count avoids a per-day self-join: each
    * activity pair explodes to the ≤ `windowDays` trailing days it serves
    * — a bounded fan-out of the small frame — then one combinable
    * distinct count. Output rows exist for days with ≥ 1 direct active.
    */
  def activeUsers(df: DataFrame, userCol: String, dayNanos: Long,
      windowDays: Int = 7, tsCol: String = "ts"): DataFrame = {
    require(dayNanos > 0, "activeUsers needs a positive day width")
    // windowDays = 0 would build sequence(day, day - 1), which Spark
    // generates DESCENDING — users silently counted toward the wrong day
    require(windowDays >= 1, "activeUsers needs a window of at least 1 day")
    val act = df
      .select(col(userCol), expr(floorDivSql(tsCol, dayNanos)).as("day"))
      .distinct()
    val dau = act.groupBy("day")
      .agg(count_distinct(col(userCol)).as("dau"))
    val wau = act
      .select(col(userCol),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("day"))
      .groupBy("day")
      .agg(count_distinct(col(userCol)).as("wau"))
    dau.join(wau, Seq("day"))
  }

  /** Per-key event-type transition counts — the Markov-chain substrate for
    * session-flow analysis: for each key's event sequence (total order by
    * `orderCols` — pass a tie-breaking id alongside ts so the sequence is
    * deterministic), count (from, to) adjacent pairs. One per-key lead
    * window (sessionizeChunked's trick applies to hot keys) + one
    * map-side-combinable count over a |types|²-bounded key space.
    */
  def transitions(df: DataFrame, keyCols: Seq[String], typeCol: String,
      orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty,
      "transitions needs a total order — pass ts plus a tie-breaking id")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
  }

  /** As-of join: for each left row, the latest right row with
    * `right.ts <= left.ts` (within `toleranceNanos` if >= 0), per matching
    * `keyCols`. Composed from a union + one running `last` window over a
    * packed struct — a single shuffle on (key), no custom physical operator
    * needed, and overlapping left/right column names are fine (right values
    * are emitted with `rightPrefix`).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      toleranceNanos: Long = -1L, tsCol: String = "ts",
      rightPrefix: String = "r_"): DataFrame = {
    val rightVals = right.columns.filterNot(c => c == tsCol || keyCols.contains(c)).toSeq
    val leftVals  = left.columns.filterNot(c => c == tsCol || keyCols.contains(c)).toSeq
    // pack the right payload (ts + values) into one struct column, so a
    // single `last(_, ignoreNulls)` window carries it
    val rPacked = right.select(
      (keyCols :+ tsCol).map(col) :+
        struct((tsCol +: rightVals).map(col): _*).as("__r"): _*)
      .withColumn("__side", lit(0))
    val rStructType = rPacked.schema("__r").dataType
    val lPacked = left
      .withColumn("__r", lit(null).cast(rStructType))
      .withColumn("__side", lit(1))
    val rAligned = leftVals.foldLeft(rPacked) { (d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select(lPacked.columns.map(col).toIndexedSeq: _*)
    val unioned = lPacked.unionByName(rAligned)
    // order (ts, side, payload): right rows precede left rows at equal ts,
    // so a right row at exactly left.ts is visible (<= semantics); among
    // right rows sharing (key, ts) the GREATEST payload struct wins — an
    // explicit tie-break, so the emitted right values are deterministic
    // across runs and partitionings (the counterIncrease/transitions tie-
    // column discipline). Skipped only when the payload holds a map
    // (not orderable) — duplicates are then whichever sorts last.
    def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.forall(f => orderable(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          orderable(a.elementType)
        case _: org.apache.spark.sql.types.MapType => false
        case _ => true
      }
    val ordCols = Seq(col(tsCol).asc, col("__side").asc) ++
      (if (orderable(rStructType)) Seq(col("__r").asc) else Nil)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withLast = unioned
      .withColumn("__last_r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val rTs = col("__last_r").getField(tsCol)
    val keep =
      if (toleranceNanos >= 0)
        col("__last_r").isNotNull && (col(tsCol) - rTs) <= toleranceNanos
      else col("__last_r").isNotNull
    val out = withLast.withColumn("__keep", keep)
    out.select((left.columns.map(col) ++
      (tsCol +: rightVals).map(c =>
        when(col("__keep"), col("__last_r").getField(c))
          .as(rightPrefix + c))).toIndexedSeq: _*)
  }

  /** Seasonal-profile residual anomalies: flags rows whose value deviates
    * from the mean of their OWN seasonal cell (dow × hour-of-day) by more
    * than `k` standard deviations of that cell — "this Monday 9am is
    * abnormal vs ALL Monday 9ams", the calendar-shaped complement of
    * [[zscoreAnomalies]]' trailing window ("abnormal vs the recent past").
    * Same exact integer algebra on value cents: with per-cell n, s = Σc,
    * sq = Σc², flag when (n·c − s)² > k²·(n·sq − s²) — that is
    * |c − s/n| > k·σ_cell — evaluated without division or floats, so the
    * flag set is engine-exact. Squares ride decimal(38,0): n·c and s reach
    * ~1e13 at corpus scale and their squares overflow long.
    *
    * Scale shape: one map-side-combinable aggregation down to ≤ 168 cells,
    * broadcast back onto the scan — NO window and no per-key sort (the
    * trailing z-score pays one), so the whole operator is a partial agg +
    * broadcast hash join over the event scan: embarrassingly scalable.
    * Rows with a non-castable value join their cell but neither count in n
    * nor can flag, matching [[zscoreAnomalies]]' posture.
    */
  /** The ≤ 168-row (dow, hour, cell_n, __s, __sq) seasonal profile both
    * [[seasonalAnomalies]] and the streaming twin score against — built
    * once here so the batch and live paths cannot drift. */
  def seasonalProfile(df: DataFrame, valueCol: String, minN: Long = 10,
      tsCol: String = "ts"): DataFrame = {
    // Σc² accumulates in decimal(38,0), NOT long: c² alone reaches 1e19
    // (> Long.Max) at plausible cent magnitudes, and a wrapped long sum
    // here would silently corrupt every flag decision downstream — the
    // same decimal(38,0) the residual comparison already rides
    val big = (c: Column) => c.cast("decimal(38,0)")
    df.select(dowExpr(tsCol).as("dow"), hourExpr(tsCol).as("hour"),
        centsExpr(valueCol).as("__c"))
      .groupBy("dow", "hour")
      .agg(count(col("__c")).as("cell_n"), sum(col("__c")).as("__s"),
        sum(big(col("__c")) * big(col("__c"))).as("__sq"))
      .filter(col("cell_n") >= minN)
  }

  def seasonalAnomalies(df: DataFrame, valueCol: String, k: Int = 2,
      minN: Long = 10, tsCol: String = "ts"): DataFrame = {
    val cells = seasonalProfile(df, valueCol, minN, tsCol)
    val big = (c: Column) => c.cast("decimal(38,0)")
    df.withColumn("dow", dowExpr(tsCol))
      .withColumn("hour", hourExpr(tsCol))
      .withColumn("__c", centsExpr(valueCol))
      .join(broadcast(cells), Seq("dow", "hour"))
      // every product is decimal×decimal — n·c alone overflows long when
      // cents run past ~1e12 per cell, so no long multiply survives here
      .withColumn("lhs",
        (big(col("cell_n")) * big(col("__c")) - big(col("__s"))) *
          (big(col("cell_n")) * big(col("__c")) - big(col("__s"))))
      .withColumn("rhs",
        big(lit(k.toLong * k)) * (big(col("cell_n")) * big(col("__sq")) -
          big(col("__s")) * big(col("__s"))))
      .filter(col("lhs") > col("rhs"))
      .drop("__c", "__s", "__sq")
  }

  /** PAA (piecewise aggregate approximation) + data-adaptive SAX
    * symbolization per series: segment each key's series into fixed
    * `segmentNanos` chunks, reduce each chunk to (n, Σcents), and assign
    * each segment one of `alphabet` symbols by `ntile` over the segment
    * means WITHIN the key — quantile breakpoints rather than the classic
    * Gaussian ones (a documented engine choice: quantile SAX needs no
    * z-normalization, so the whole operator stays float-free except the
    * ordering key, and adapts to each series' own distribution). Segment
    * means order by IEEE double division — correctly rounded and therefore
    * engine-identical — with the segment start as tie-breaker, so symbol
    * assignment is deterministic and oracle-exact.
    *
    * Scale shape: one combinable (key, segment) aggregation, then one
    * window per key over its ~span/segment segments (bounded by calendar,
    * not by event volume) — the expensive raw scan reduces before any
    * window runs. The symbol string is the series' SHAPE signature; equal
    * words across keys = behaviorally similar periods, found by a
    * GROUP BY on the word ([[saxWords]]) — the SimHash pigeonhole trick
    * applied to time series, no pairwise comparison anywhere.
    */
  def paaSymbols(df: DataFrame, keyCols: Seq[String], segmentNanos: Long,
      alphabet: Int = 4, valueCol: String = "value", tsCol: String = "ts")
      : DataFrame = {
    require(alphabet >= 2, "alphabet must have at least 2 symbols")
    require(segmentNanos > 0, "paaSymbols needs a positive segment width")
    val segs = df
      .withColumn("seg", expr(floorBucketSql(tsCol, segmentNanos)))
      .withColumn("__c", centsExpr(valueCol))
      .groupBy((keyCols.map(col) :+ col("seg")): _*)
      .agg(count(col("__c")).as("seg_n"), sum(col("__c")).as("seg_sum"))
      .filter(col("seg_n") > 0)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("seg_sum").cast("double") / col("seg_n").cast("double"),
        col("seg"))
    segs.withColumn("symbol", ntile(alphabet).over(w))
  }

  /** [[paaSymbols]] folded to one SAX word per key: symbols concatenated in
    * segment-time order. Keys sharing a word have byte-identical activity
    * shapes at the chosen resolution — candidate generation for series
    * similarity via a plain GROUP BY (pigeonhole), the way SimHash buckets
    * near-dup documents. The word is ≤ span/segment characters (calendar-
    * bounded); the fold is `array_sort` over (seg, symbol) structs +
    * `concat`, one combinable agg past the [[paaSymbols]] window.
    */
  def saxWords(df: DataFrame, keyCols: Seq[String], segmentNanos: Long,
      alphabet: Int = 4, valueCol: String = "value", tsCol: String = "ts")
      : DataFrame = {
    require(alphabet <= 26, "symbols render a..z")
    val syms = paaSymbols(df, keyCols, segmentNanos, alphabet, valueCol, tsCol)
    syms
      .withColumn("__sym", chr(col("symbol") + lit(96))) // 1 -> 'a'
      .groupBy(keyCols.map(col): _*)
      .agg(concat_ws("",
        expr("transform(array_sort(collect_list(struct(seg, __sym)))," +
          " p -> p.__sym)")).as("word"),
        count(lit(1)).as("n_segments"))
  }

  /** Counter semantics over a sampled series (the PromQL
    * `increase()`/`resets()` pair over raw samples, no boundary
    * extrapolation): per key in (ts, tie) total order, each sample's delta
    * vs its predecessor; a DROP is a counter reset and the post-reset
    * value itself is the increase. Deltas bucket by the CURRENT sample's
    * floor-div bucket, so a boundary-crossing delta lands in the bucket
    * that observed it — every delta counted exactly once, bucket sums
    * telescope to the full-series increase.
    *
    * Exact integer cents throughout ([[zscoreAnomalies]]'s decimal-cast
    * discipline), so the oracle mirror is bit-identical. One keyed window
    * (single hash shuffle, local sort) + a map-side-combinable agg; state
    * per series is one lag row — the monitoring-counter shape at any
    * cardinality.
    */
  def counterIncrease(df: DataFrame, keyCols: Seq[String],
      bucketNanos: Long, valueCol: String = "value", tsCol: String = "ts",
      tieCol: String = "event_id"): DataFrame = {
    require(bucketNanos > 0, "counterIncrease needs a positive bucket")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    df
      .withColumn("__c", centsExpr(valueCol))
      // drop non-castable samples BEFORE the lag: a null mid-series would
      // otherwise swallow its successor's delta (the successor's lag is
      // null → filtered) and emit a null inc_cents row — and the streaming
      // twin, which filters nulls before its state function, would then
      // disagree with batch on the same drained data
      .filter(col("__c").isNotNull)
      .withColumn("__prev", lag(col("__c"), 1).over(w))
      .filter(col("__prev").isNotNull) // first sample: nothing to diff
      .withColumn("__inc", when(col("__c") >= col("__prev"),
        col("__c") - col("__prev")).otherwise(col("__c")))
      .withColumn("__reset", (col("__c") < col("__prev")).cast("long"))
      .groupBy(keyCols.map(col) :+
        expr(floorDivSql(tsCol, bucketNanos)).as("bucket"): _*)
      .agg(count(lit(1)).as("n_deltas"),
        sum("__inc").as("inc_cents"),
        sum("__reset").as("n_resets"))
  }

  /** Coarsen stored [[counterIncrease]] rows to a wider bucket — the
    * counter RECORDING RULE at rest: because each delta lands in the
    * bucket of the sample that observed it, and a fine bucket nests
    * inside exactly one coarse bucket, the per-bucket sums are
    * ADDITIVELY mergeable — a coarse fold over stored fine rows equals
    * the direct coarse-grain pass bit for bit (no segment summaries, no
    * boundary bookkeeping). `factor` is the integer bucket ratio
    * (e.g. 24 for 1h→1d); buckets are floor-div indexes, so
    * `floorDiv(fineBucket, factor)` IS the coarse index. */
  def counterIncreaseCoarsen(stored: DataFrame, factor: Long,
      keyCols: Seq[String]): DataFrame = {
    require(factor >= 1, s"bucket ratio must be positive: $factor")
    // FLOOR division (not `div`, which truncates toward zero): a
    // pre-epoch fine bucket must land in the coarse bucket BELOW it,
    // exactly as the direct pass's floorDivSql would place its samples
    stored.groupBy(keyCols.map(col) :+
        expr(floorDivSql("bucket", factor)).as("bucket"): _*)
      .agg(sum("n_deltas").as("n_deltas"),
        sum("inc_cents").as("inc_cents"),
        sum("n_resets").as("n_resets"))
  }

  /** Prometheus-style `histogram_quantile` over fixed cumulative buckets,
    * in EXACT integer fixed point (cents). Per key: values land in the
    * smallest bound `le >= cents` (+Inf sentinel above the last bound),
    * bucket counts cumulate in `le` order, and the φ = qNum/qDen quantile
    * is the first bucket whose cumulative count reaches φ·total, linearly
    * interpolated inside it — all comparisons and the interpolation done by
    * integer cross-multiplication and floor division, so the oracle mirror
    * is bit-identical (no float rank anywhere). Prometheus edge semantics
    * kept: a quantile landing in the +Inf bucket reports the highest finite
    * bound; the first bucket interpolates from 0.
    *
    * Scale shape: one narrow map assigns buckets (array literal of ≤ dozens
    * of bounds, codegen'd), one combinable groupBy to |keys|·|bounds| rows,
    * then windows over ≤ |bounds|+1 rows per key — after the first
    * aggregation everything is metadata-sized per key, the monitoring
    * histogram shape at any series cardinality.
    */
  def histogramQuantile(df: DataFrame, keyCols: Seq[String],
      boundsCents: Seq[Long], qNum: Long, qDen: Long,
      valueCol: String = "value"): DataFrame =
    histogramQuantileFromCounts(
      histogramBuckets(df, keyCols, boundsCents, valueCol),
      keyCols, boundsCents, qNum, qDen)

  /** SQL text of a literal long-array for a bounds schedule. */
  def boundsArraySql(boundsCents: Seq[Long]): String =
    s"array(${boundsCents.map(b => s"${b}L").mkString(", ")})"

  /** THE histogram bucket assignment — smallest schedule bound `>=` the
    * exact cents of `valueCol`, +Inf sentinel above the last. One
    * definition shared by the direct operator, the streaming twin, and
    * the rollup store's stored counters: their compose-exactly guarantees
    * depend on this expression staying bit-identical everywhere. */
  def histLeExpr(valueCol: String, boundsCents: Seq[Long]): Column = {
    require(boundsCents.nonEmpty && boundsCents == boundsCents.sorted &&
      boundsCents.distinct == boundsCents,
      "histogram bounds must be ascending and distinct")
    val cents = s"CAST(CAST($valueCol AS DECIMAL(18,2)) * 100 AS LONG)"
    // null/non-castable values get a NULL bucket, not the +Inf sentinel:
    // filter() over a null cents yields an empty array, and the bare
    // coalesce would then count every malformed row as a real +Inf
    // observation — inflating totals and dragging quantiles upward. A
    // null le drops out of every consumer (histogramBuckets filters it,
    // the rollup store's counter sums skip it) — the "neither counts nor
    // flags" posture the other exact operators share.
    when(expr(cents).isNotNull, coalesce(
      expr(s"array_min(filter(${boundsArraySql(boundsCents)}, x -> x >= " +
        s"$cents))"),
      lit(Long.MaxValue)))
  }

  /** [[histogramQuantile]]'s first half: per-key cumulative-bucket counts
    * (one narrow bucket-assign map + a combinable count) — ALSO the
    * streaming twin's complete-mode aggregation, whose state is the
    * |keys|·(|bounds|+1) counter matrix itself. */
  def histogramBuckets(df: DataFrame, keyCols: Seq[String],
      boundsCents: Seq[Long], valueCol: String = "value"): DataFrame =
    df
      .withColumn("le", histLeExpr(valueCol, boundsCents))
      .filter(col("le").isNotNull) // malformed values observe nothing
      .groupBy(keyCols.map(col) :+ col("le"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** [[histogramQuantile]]'s finisher over (keys..., le, cnt) rows — a
    * metadata-sized frame (≤ |bounds|+1 rows per key) whatever produced
    * it: the batch aggregation or a drained streaming sink. */
  def histogramQuantileFromCounts(counts: DataFrame, keyCols: Seq[String],
      boundsCents: Seq[Long], qNum: Long, qDen: Long): DataFrame = {
    require(qNum > 0 && qDen > 0 && qNum <= qDen,
      s"quantile $qNum/$qDen must lie in (0, 1]")
    val inf = Long.MaxValue
    val boundsArr = boundsArraySql(boundsCents)
    val wCum = Window.partitionBy(keyCols.map(col): _*).orderBy(col("le"))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    counts
      .withColumn("cum", sum("cnt").over(wCum))
      // interpolation lower bound comes from the bucket SCHEDULE, not from
      // the previous bucket present in the data — the two differ when
      // intermediate buckets are empty, and Prometheus uses the schedule
      .withColumn("__pl", expr(s"array_max(filter($boundsArr, x -> x < le))"))
      .withColumn("prev_le", coalesce(col("__pl"), lit(0L)))
      .withColumn("total", sum("cnt").over(wAll))
      // first bucket reaching rank φ·total: cum/total >= qNum/qDen
      .filter(col("cum") * qDen >= col("total") * qNum)
      .withColumn("__rn", row_number().over(wCum))
      .filter(col("__rn") === 1)
      .select(keyCols.map(col) :+ col("total").as("n") :+
        when(col("le") === inf, lit(boundsCents.last))
          // Prometheus first-bucket rule: interpolate from 0 only when the
          // schedule's first bound is positive; a non-positive first bound
          // reports the bound itself (promql's quantile.go) — interpolating
          // a negative bucket from 0 would emit a value ABOVE every
          // observation in it
          .when(col("__pl").isNull && col("le") <= 0, col("le"))
          .otherwise(
          col("prev_le") + expr(
            s"((le - prev_le) * ($qNum * total - $qDen * (cum - cnt)))" +
              s" div ($qDen * cnt)")).as("q_cents"): _*)
  }
}
