package graft

import graft.storage.RollupStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RollupStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val H = 3600L * 1000000000L
  private val Day = 86400L * 1000000000L

  /** Three days of samples: two-decimal values so DECIMAL(18,2) is
    * lossless, spread so hour buckets straddle day boundaries. */
  private def raw = Seq(
    (1L * H, 10.25), (2L * H, 3.10), (25L * H, 7.77),
    (26L * H + 7L, 100.01), (49L * H, 0.02), (49L * H + 9L, 5.55)
  ).toDF("ts", "value")

  private def directDaily = raw
    .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", Day))
      .as("bucket_ts"))
    .agg(count(lit(1)).as("n"),
      min(col("value").cast("decimal(18,2)")).as("min_c"),
      max(col("value").cast("decimal(18,2)")).as("max_c"),
      sum(col("value").cast("decimal(18,2)")).as("sum_c"))
    .orderBy("bucket_ts").collect().toSeq

  test("rollup over the 1h store equals the direct daily aggregate") {
    val p = SparkTestBase.tempDir("graft-rollup") + "/store"
    RollupStore.write(raw, p, H)
    val viaStore = RollupStore.rollup(spark, p, Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(viaStore == directDaily)
    // the store is day-partitioned with the WritableStore convention
    val days = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("__day=")).map(_.getName).sorted
    assert(days.toSeq == Seq("__day=1970-01-01", "__day=1970-01-02",
      "__day=1970-01-03"))
  }

  test("range rollup prunes to the requested days and stays exact") {
    val p = SparkTestBase.tempDir("graft-rollup-r") + "/store"
    RollupStore.write(raw, p, H)
    val mid = RollupStore.rollup(spark, p, Day, since = Some(Day),
        until = Some(2 * Day))
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c").collect().toSeq
    assert(mid == directDaily.filter(_.getLong(0) == Day))
    val ex = intercept[IllegalArgumentException] {
      RollupStore.rollup(spark, p, Day, since = Some(Day + 1)).collect()
    }
    assert(ex.getMessage.contains("not aligned"))
  }

  test("aligned writes: each day directory holds one file per write " +
      "operation — never one per task x day") {
    val p = SparkTestBase.tempDir("graft-rollup-files") + "/store"
    // force the hazard shape: many input partitions spanning several days
    RollupStore.write(raw.repartition(8), p, H)
    RollupStore.append(raw.repartition(8), p, "b#1", H)
    RollupStore.compact(spark, p)
    def filesPerDay: Seq[Int] = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("__day=")).toSeq
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    // compact folds to ONE file per day; pre-compact it is one per
    // write operation (base + append = 2), one per task x day never
    assert(filesPerDay.nonEmpty && filesPerDay.forall(_ == 1), filesPerDay)
  }

  test("a replayed append batch cannot double-count") {
    val p = SparkTestBase.tempDir("graft-rollup-a") + "/store"
    val (base, late) = (raw.filter(col("ts") < 2 * Day),
      raw.filter(col("ts") >= 2 * Day))
    RollupStore.write(base, p, H)
    RollupStore.append(late, p, "b#1", H)
    RollupStore.append(late, p, "b#1", H) // at-least-once redelivery
    val viaStore = RollupStore.rollup(spark, p, Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(viaStore == directDaily)
    // compaction folds partials (and the duplicate) to one row per bucket
    RollupStore.compact(spark, p)
    val afterCompact = RollupStore.rollup(spark, p, Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(afterCompact == directDaily)
    assert(spark.read.parquet(p).count() ==
      spark.read.parquet(p).select("bucket_ts").distinct().count())
  }

  test("distinct sketch: store-merged union equals the direct daily pass") {
    import org.apache.spark.sql.DataFrame
    val rows = Seq((1L * H, 1.0, 10L), (2L * H, 2.0, 11L), (3L * H, 3.0, 10L),
      (25L * H, 4.0, 12L), (26L * H, 5.0, 10L), (49L * H, 6.0, 13L))
      .toDF("ts", "value", "uid")
    val p = SparkTestBase.tempDir("graft-rollup-h") + "/store"
    RollupStore.write(rows.filter(col("ts") < 2 * Day), p, H,
      distinctCol = Some("uid"))
    RollupStore.append(rows.filter(col("ts") >= 2 * Day), p, "b#1", H,
      distinctCol = Some("uid"))
    RollupStore.append(rows.filter(col("ts") >= 2 * Day), p, "b#1", H,
      distinctCol = Some("uid")) // replay must not perturb the union
    def ests(df: DataFrame) = df.orderBy("bucket_ts").collect()
      .map(r => (r.getAs[Long]("bucket_ts"), r.getAs[Long]("est"))).toSeq
    val direct = ests(rows
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", Day))
        .as("bucket_ts"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(uid, 12))").as("est")))
    val viaStore = ests(RollupStore.rollup(spark, p, Day)
      .select(col("bucket_ts"), col("distinct_est").as("est")))
    assert(viaStore == direct)
    // small exact cardinalities: the estimate IS the exact count here
    assert(direct.map(_._2) == Seq(2L, 2L, 1L))
    RollupStore.compact(spark, p) // the folded store keeps the sketch
    assert(ests(RollupStore.rollup(spark, p, Day)
      .select(col("bucket_ts"), col("distinct_est").as("est"))) == direct)
  }

  test("route: budget-derived grain answers from the store or raw") {
    val p = SparkTestBase.tempDir("graft-rollup-rt") + "/store"
    RollupStore.write(raw, p, H)
    // 3-day span under a 2-point budget → target 36h → store at 36h
    val wide = RollupStore.route(spark, p, raw, 0L, 3 * Day, maxPoints = 2)
      .orderBy("bucket_ts").collect()
    assert(wide.forall(_.getAs[String]("source") == "store"))
    assert(wide.forall(_.getAs[Long]("grain_ns") == 36L * H))
    val direct36 = raw
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", 36 * H))
        .as("bucket_ts"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)"))
        .as("sum_c"))
      .orderBy("bucket_ts").collect()
    assert(wide.map(r => (r.getAs[Long]("bucket_ts"), r.getAs[Long]("n")))
      .toSeq == direct36.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // a generous budget demands finer-than-stored resolution → raw path
    val fine = RollupStore.route(spark, p, raw, 0L, 3 * Day,
      maxPoints = 1000000000)
    assert(fine.collect().forall(_.getAs[String]("source") == "raw"))
    // serving bounds widen OUTWARD: an unaligned range still answers in
    // whole buckets (rollup's exact-bounds require would have thrown) —
    // and the budget is a HARD cap even after widening adds edge buckets
    val unaligned = RollupStore.route(spark, p, raw, 1L * H + 7L,
      2 * Day + 5L, maxPoints = 2)
    val got = unaligned.count()
    assert(got > 0 && got <= 2, s"budget overrun: $got buckets for 2")
  }

  test("histogram counters: store-merged p90 equals the direct operator") {
    val bounds = Seq(200L, 500L, 800L)
    val p = SparkTestBase.tempDir("graft-rollup-hc") + "/store"
    RollupStore.write(raw.filter(col("ts") < 2 * Day), p, H,
      histBoundsCents = bounds)
    RollupStore.append(raw.filter(col("ts") >= 2 * Day), p, "b#1", H,
      histBoundsCents = bounds)
    RollupStore.append(raw.filter(col("ts") >= 2 * Day), p, "b#1", H,
      histBoundsCents = bounds) // replay collapses in the dedup
    def p90(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("bucket_ts").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n"),
        r.getAs[Long]("q_cents"))).toSeq
    def viaStore() = p90(graft.operators.TsOps.histogramQuantileFromCounts(
      RollupStore.histogramCounts(RollupStore.rollup(spark, p, Day),
        bounds, Seq("bucket_ts")), Seq("bucket_ts"), bounds, 90L, 100L))
    val direct = p90(graft.operators.TsOps.histogramQuantile(
      raw.withColumn("bucket_ts",
        expr(graft.operators.TsOps.floorBucketSql("ts", Day))),
      Seq("bucket_ts"), bounds, 90L, 100L))
    assert(viaStore() == direct)
    RollupStore.compact(spark, p) // the schedule survives the fold
    assert(viaStore() == direct)
    // a mismatched schedule must fail loudly, never mislabel counters
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    val wrongRead = intercept[Exception] {
      graft.operators.TsOps.histogramQuantileFromCounts(
        RollupStore.histogramCounts(RollupStore.rollup(spark, p, Day),
          Seq(100L, 300L, 900L), Seq("bucket_ts")),
        Seq("bucket_ts"), Seq(100L, 300L, 900L), 90L, 100L).collect()
    }
    assert(chain(wrongRead).contains("does not match"), chain(wrongRead))
    RollupStore.append(raw.limit(1), p, "b#2", H,
      histBoundsCents = Seq(100L, 300L, 900L))
    val wrongAppend = intercept[Exception] {
      RollupStore.rollup(spark, p, Day).collect()
    }
    assert(chain(wrongAppend).contains("DIFFERENT histogram bound"),
      chain(wrongAppend))
  }

  test("tiering: stitched read equals the never-tiered table; idempotent") {
    val base = SparkTestBase.tempDir("graft-rollup-t")
    val rawP = new java.io.File(base, "raw").getPath
    val stP = new java.io.File(base, "store").getPath
    raw.write.parquet(rawP)
    def stitched() = RollupStore.tieredRollup(spark, rawP, stP, Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    // never tiered: the stitched read degrades to the plain raw rollup
    assert(stitched() == directDaily)
    // crash window: the store append landed but the raw rewrite did not —
    // pre-seed the EXACT tier partial the retry will also write
    RollupStore.append(raw.filter(col("ts") < Day), stP, s"tier-$Day", H)
    // INSIDE the window the stitched read must already be exact: the tier
    // horizon excludes raw's not-yet-trimmed pre-cutoff rows
    assert(stitched() == directDaily)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H)
    assert(stitched() == directDaily) // the duplicate collapsed
    assert(spark.read.parquet(rawP).agg(min("ts")).head().getLong(0) >= Day)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H)
    assert(stitched() == directDaily) // full-retry idempotent
    // tier further: day 2 off too, stitched still exact
    RollupStore.tierOff(spark, rawP, stP, cutoff = 2 * Day, bucketNanos = H)
    assert(stitched() == directDaily)
    val ex = intercept[IllegalArgumentException] {
      RollupStore.tierOff(spark, rawP, stP, cutoff = Day + 1, bucketNanos = H)
    }
    assert(ex.getMessage.contains("aligned"))
  }

  test("tierOff trims a foreign-partitioned raw tree instead of leaving " +
      "rows to double-count next cycle") {
    val base = SparkTestBase.tempDir("graft-rollup-fp")
    val rawP = new java.io.File(base, "raw").getPath
    val stP = new java.io.File(base, "store").getPath
    // an externally-written hive layout (not the __day convention): no
    // top-level *.parquet, no __day= dirs — the trim must still rewrite,
    // not silently no-op (the next cycle would re-append the same rows
    // under a different tier key, double-counting forever)
    raw.withColumn("pday", expr("ts div 86400000000000L").cast("int"))
      .write.partitionBy("pday").parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H)
    assert(spark.read.parquet(rawP).agg(min("ts")).head().getLong(0) >= Day)
    // the rewrite preserves the foreign layout: pday= dirs survive, no
    // root-level data files — the external writer's next partitioned
    // append would otherwise hit conflicting directory structures
    val entries = new java.io.File(rawP).listFiles().map(_.getName)
    assert(entries.exists(_.startsWith("pday=")), entries.toSeq)
    assert(!entries.exists(_.endsWith(".parquet")), entries.toSeq)
    val stitched = RollupStore.tieredRollup(spark, rawP, stP, Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(stitched == directDaily)
    // a second, higher cutoff keeps the answer exact (no double count)
    RollupStore.tierOff(spark, rawP, stP, cutoff = 2 * Day, bucketNanos = H)
    assert(RollupStore.tieredRollup(spark, rawP, stP, Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq == directDaily)
  }

  test("tiering fast path: a day-partitioned raw trims by directory drop") {
    val base = SparkTestBase.tempDir("graft-rollup-tf")
    val rawP = new java.io.File(base, "raw").getPath
    val stP = new java.io.File(base, "store").getPath
    raw.withColumn(graft.storage.WritableStore.PartitionCol,
        date_from_unix_date(expr(
          "(ts - pmod(ts, 86400000000000L)) div 86400000000000L")
          .cast("int")).cast("string"))
      .write.partitionBy(graft.storage.WritableStore.PartitionCol)
      .parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = 2 * Day, bucketNanos = H)
    val dirs = new java.io.File(rawP).listFiles()
      .filter(_.getName.startsWith("__day=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("__day=1970-01-03")) // days 1-2 dropped whole
    val viaStore = RollupStore.tieredRollup(spark, rawP, stP, Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(viaStore == directDaily)
  }

  test("route is tier-aware: a pre-horizon range can never serve a " +
      "silently partial answer") {
    val base = SparkTestBase.tempDir("graft-rollup-rta")
    val rawP = new java.io.File(base, "raw").getPath
    val stP = new java.io.File(base, "store").getPath
    raw.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H)
    val rawNow = spark.read.parquet(rawP) // day 1 is GONE from raw
    assert(rawNow.count() < raw.count())
    def hourly(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("bucket_ts").collect()
      .map(r => (r.getAs[Long]("bucket_ts"), r.getAs[Long]("n"))).toSeq
    val directH = hourly(raw
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", H))
        .as("bucket_ts")).agg(count(lit(1)).as("n")))
    // a budget demanding finer-than-stored grain over the tiered range:
    // pre-fix this served ONLY the post-horizon raw remnant as "raw" —
    // now it clamps to the stored grain and stitches, complete
    val fine = RollupStore.route(spark, stP, rawNow, 0L, 3 * Day,
      maxPoints = 1000000000)
    assert(fine.collect().forall(_.getAs[String]("source") == "stitched"))
    assert(fine.collect().forall(_.getAs[Long]("grain_ns") == H))
    assert(hourly(fine) == directH) // equals the never-tiered answer
    // the same at a coarse budget: stitched, and equal to the untiered
    // route at that budget (36h grain)
    val coarse = RollupStore.route(spark, stP, rawNow, 0L, 3 * Day,
      maxPoints = 2)
    assert(coarse.collect().forall(_.getAs[String]("source") == "stitched"))
    val untieredStore = SparkTestBase.tempDir("graft-rollup-rtb") + "/st"
    RollupStore.write(raw, untieredStore, H)
    val want = RollupStore.route(spark, untieredStore, raw, 0L, 3 * Day,
      maxPoints = 2)
    assert(hourly(coarse) == hourly(want))
    // a fine-budget range entirely AT/AFTER the horizon still serves raw
    // at the requested fine grain
    val post = RollupStore.route(spark, stP, rawNow, Day, 3 * Day,
      maxPoints = 1000000000)
    assert(post.collect().forall(_.getAs[String]("source") == "raw"))
    assert(post.agg(sum("n")).head().getLong(0) ==
      raw.filter(col("ts") >= Day).count())
  }

  test("route tests the horizon against the WIDENED lower bound: a " +
      "first bucket dipping below it stitches instead of serving raw") {
    // grain fitting here converges to g=3740s: the widened first bucket
    // starts at 86020s — BELOW the Day horizon even though the requested
    // since (88200s) is above it. A raw-only serve would emit a first
    // bucket silently missing the tiered-off 86100s sample it claims to
    // cover; the router must clamp and stitch instead.
    val S = 1000000000L
    val rows = Seq((86100L * S, 1.00), (89000L * S, 2.00),
      (100000L * S, 3.00), (120000L * S, 4.00)).toDF("ts", "value")
    val base = SparkTestBase.tempDir("graft-rollup-wlo")
    val rawP = new java.io.File(base, "raw").getPath
    val stP = new java.io.File(base, "store").getPath
    rows.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H)
    val rawNow = spark.read.parquet(rawP)
    assert(rawNow.agg(min("ts")).head().getLong(0) >= Day)
    val served = RollupStore.route(spark, stP, rawNow,
      since = 88200L * S, until = 122200L * S, maxPoints = 10)
    val got = served.select("bucket_ts", "n", "sum_c", "grain_ns", "source")
      .orderBy("bucket_ts").collect()
    assert(got.forall(_.getAs[String]("source") == "stitched"), got.toSeq)
    val g = got.head.getAs[Long]("grain_ns")
    // the clamped grain's widened window, aggregated over the
    // NEVER-TIERED table — every served bucket must match it exactly
    val lo = (88200L * S) / g * g
    val hi = ((122200L * S - 1) / g + 1) * g
    val want = rows.filter(col("ts") >= lo && col("ts") < hi)
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", g))
        .as("bucket_ts"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_c"))
      .orderBy("bucket_ts").collect()
    assert(got.map(r => (r.getAs[Long]("bucket_ts"), r.getAs[Long]("n"),
        r.getAs[java.math.BigDecimal]("sum_c").doubleValue())).toSeq ==
      want.map(r => (r.getAs[Long]("bucket_ts"), r.getAs[Long]("n"),
        r.getAs[java.math.BigDecimal]("sum_c").doubleValue())).toSeq)
  }

  test("sketch dimensions survive tiering — and compaction keeps the " +
      "horizon") {
    val rows = Seq((1L * H, 1.50, 10L), (2L * H, 2.25, 11L),
      (3L * H, 9.00, 10L), (25L * H, 4.75, 12L), (26L * H, 5.00, 10L),
      (49L * H, 6.50, 13L), (50L * H, 0.25, 10L))
      .toDF("ts", "value", "uid")
    val bounds = Seq(200L, 500L, 800L)
    val base = SparkTestBase.tempDir("graft-rollup-sd")
    val rawP = new java.io.File(base, "raw").getPath
    val stP = new java.io.File(base, "store").getPath
    rows.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H,
      distinctCol = Some("uid"), histBoundsCents = bounds)
    def stitched() = RollupStore.tieredRollup(spark, rawP, stP, Day,
      distinctCol = Some("uid"), histBoundsCents = bounds)
    val directEst = rows
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", Day))
        .as("bucket_ts"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(uid, 12))").as("est"))
      .orderBy("bucket_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def ests() = stitched().select(col("bucket_ts"),
        col("distinct_est").as("est"))
      .orderBy("bucket_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ests() == directEst)
    def p90(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("bucket_ts").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("q_cents"))).toSeq
    val directP90 = p90(graft.operators.TsOps.histogramQuantile(
      rows.withColumn("bucket_ts",
        expr(graft.operators.TsOps.floorBucketSql("ts", Day))),
      Seq("bucket_ts"), bounds, 90L, 100L))
    def storedP90() = p90(graft.operators.TsOps.histogramQuantileFromCounts(
      RollupStore.histogramCounts(stitched(), bounds, Seq("bucket_ts")),
      Seq("bucket_ts"), bounds, 90L, 100L))
    assert(storedP90() == directP90)
    // compaction folds the tier partials — the horizon must ride through
    // in the compact batch key, or the stitched read would double-count
    // raw's not-yet-trimmed rows after the next tierOff crash window
    RollupStore.compact(spark, stP)
    assert(ests() == directEst)
    assert(storedP90() == directP90)
    // and a post-compact tierOff keeps composing (append after compact:
    // the at-rest decimal type is pinned, so schema merge stays clean)
    RollupStore.tierOff(spark, rawP, stP, cutoff = 2 * Day, bucketNanos = H,
      distinctCol = Some("uid"), histBoundsCents = bounds)
    assert(ests() == directEst)
    assert(storedP90() == directP90)
  }

  test("cascade: raw → 1h → 1d tiers stitch exactly and retries are " +
      "idempotent at every level") {
    val rows = Seq((1L * H, 1.50, 10L), (2L * H, 2.25, 11L),
      (25L * H, 4.75, 12L), (26L * H, 5.00, 10L),
      (49L * H, 6.50, 13L), (50L * H, 0.25, 10L))
      .toDF("ts", "value", "uid")
    val base = SparkTestBase.tempDir("graft-rollup-cc")
    val rawP = new java.io.File(base, "raw").getPath
    val stH = new java.io.File(base, "st-1h").getPath
    val stD = new java.io.File(base, "st-1d").getPath
    rows.write.parquet(rawP)
    val directDailyD = rows
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", Day))
        .as("bucket_ts"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_c"),
        expr("hll_sketch_estimate(hll_sketch_agg(uid, 12))").as("est"))
      .orderBy("bucket_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).doubleValue(), r.getLong(3))).toSeq
    def viaCascade() = RollupStore.cascadeRollup(spark, rawP,
        Seq(stH, stD), Day, distinctCol = Some("uid"))
      .orderBy("bucket_ts").collect()
      .map(r => (r.getAs[Long]("bucket_ts"), r.getAs[Long]("n"),
        r.getAs[java.math.BigDecimal]("sum_c").doubleValue(),
        r.getAs[Long]("distinct_est"))).toSeq
    // level 1: days 0-1 leave raw for the hourly store
    RollupStore.tierOff(spark, rawP, stH, cutoff = 2 * Day, bucketNanos = H,
      distinctCol = Some("uid"))
    assert(viaCascade() == directDailyD)
    // level 2: day 0 leaves the hourly store for the daily store
    RollupStore.tierOffStore(spark, stH, stD, cutoff = Day,
      coarseBucketNanos = Day)
    assert(viaCascade() == directDailyD)
    // the hourly store physically dropped its day-0 directory
    val dirs = new java.io.File(stH).listFiles()
      .filter(_.getName.startsWith("__day=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("__day=1970-01-02"))
    // retries at both levels collapse under the deterministic tier keys
    RollupStore.tierOffStore(spark, stH, stD, cutoff = Day,
      coarseBucketNanos = Day)
    assert(viaCascade() == directDailyD)
    RollupStore.tierOff(spark, rawP, stH, cutoff = 2 * Day, bucketNanos = H,
      distinctCol = Some("uid"))
    assert(viaCascade() == directDailyD)
    // tiering off the ENTIRE raw table: reads degrade to the stores
    // instead of dying on schema inference over an empty tree
    RollupStore.tierOff(spark, rawP, stH, cutoff = 3 * Day, bucketNanos = H,
      distinctCol = Some("uid"))
    assert(viaCascade() == directDailyD)
    // and a RETRY over the now-empty raw tree no-ops instead of dying on
    // schema inference (the completed-full-trim crash-retry path)
    RollupStore.tierOff(spark, rawP, stH, cutoff = 3 * Day, bucketNanos = H,
      distinctCol = Some("uid"))
    assert(viaCascade() == directDailyD)
  }

  test("routeCascade: the grain clamps to the coarsest tier the range " +
      "touches; narrower ranges serve finer") {
    val rows = Seq((1L * H, 1.50), (2L * H, 2.25), (25L * H, 4.75),
      (26L * H, 5.00), (49L * H, 6.50), (50L * H, 0.25))
      .toDF("ts", "value")
    val base = SparkTestBase.tempDir("graft-rollup-crt")
    val rawP = new java.io.File(base, "raw").getPath
    val stH = new java.io.File(base, "st-1h").getPath
    val stD = new java.io.File(base, "st-1d").getPath
    rows.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stH, cutoff = 2 * Day, bucketNanos = H)
    RollupStore.tierOffStore(spark, stH, stD, cutoff = Day,
      coarseBucketNanos = Day)
    // raw holds day 2 at sample level; the 1h store day 1; the 1d store
    // day 0. A fine budget over all three days touches the DAILY tier →
    // clamp to 1d, stitched, equal to the never-tiered daily aggregate
    def slim(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("bucket_ts").collect()
      .map(r => (r.getAs[Long]("bucket_ts"), r.getAs[Long]("n"))).toSeq
    val all = RollupStore.routeCascade(spark, rawP, Seq(stH, stD),
      0L, 3 * Day, maxPoints = 1000000)
    assert(all.collect().forall(r => r.getAs[String]("source") == "stitched"
      && r.getAs[Long]("grain_ns") == Day))
    assert(slim(all) == slim(rows.groupBy(
        expr(graft.operators.TsOps.floorBucketSql("ts", Day))
          .as("bucket_ts")).agg(count(lit(1)).as("n"))))
    // the middle day touches only the 1h tier → hourly grain
    val mid = RollupStore.routeCascade(spark, rawP, Seq(stH, stD),
      Day, 2 * Day, maxPoints = 1000000)
    assert(mid.collect().forall(r => r.getAs[String]("source") == "stitched"
      && r.getAs[Long]("grain_ns") == H))
    assert(mid.agg(sum("n")).head().getLong(0) == 2L)
    // the raw window alone still serves at the requested fine grain
    val recent = RollupStore.routeCascade(spark, rawP, Seq(stH, stD),
      2 * Day, 3 * Day, maxPoints = 1000000)
    assert(recent.collect().forall(_.getAs[String]("source") == "raw"))
    assert(recent.agg(sum("n")).head().getLong(0) == 2L)
  }

  test("storeCascadeRollup: a stream-maintained mirror stitches with its " +
      "tiers; late below-horizon replays stay invisible") {
    val base = SparkTestBase.tempDir("graft-rollup-mir")
    val stH = new java.io.File(base, "st1h").getPath
    val stD = new java.io.File(base, "st1d").getPath
    // the mirror: base write + a replay-keyed append, as rollupIngest
    // leaves it — batch keys carry NO tier horizon
    RollupStore.write(raw.filter(col("ts") < 2 * Day), stH, H)
    RollupStore.append(raw.filter(col("ts") >= 2 * Day), stH, "ab12#1", H)
    def stitched() = RollupStore.storeCascadeRollup(spark, Seq(stH, stD),
        Day).select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    // nothing tiered yet: the mirror alone answers
    assert(stitched() == directDaily)
    RollupStore.tierOffStore(spark, stH, stD, cutoff = Day,
      coarseBucketNanos = Day)
    assert(stitched() == directDaily)
    // a retried cycle is a no-op (nothing below the cutoff remains)
    RollupStore.tierOffStore(spark, stH, stD, cutoff = Day,
      coarseBucketNanos = Day)
    assert(stitched() == directDaily)
    // an at-least-once replay of an OLD micro-batch lands below the
    // horizon after tiering: the horizon scope makes it deterministically
    // invisible instead of sometimes-double-counted
    RollupStore.append(raw.filter(col("ts") < Day), stH, "ab12#0", H)
    assert(stitched() == directDaily)
    // stitch order is mirror-first: a horizonless store later in the
    // chain is a wiring bug, not a silent skip
    val ex = intercept[IllegalArgumentException] {
      RollupStore.storeCascadeRollup(spark, Seq(stD, stH), Day).collect()
    }
    assert(ex.getMessage.contains("no tier horizon"))
  }

  test("routeStoreCascade: budgets clamp up to the mirror's width, then " +
      "to touched tiers — never a partial answer") {
    val base = SparkTestBase.tempDir("graft-rollup-rsm")
    val stH = new java.io.File(base, "st1h").getPath
    val stD = new java.io.File(base, "st1d").getPath
    RollupStore.write(raw, stH, H)
    RollupStore.tierOffStore(spark, stH, stD, cutoff = Day,
      coarseBucketNanos = Day)
    // a huge budget over the post-horizon range: no raw exists, so the
    // finest servable grain is the mirror's 1h buckets
    val fine = RollupStore.routeStoreCascade(spark, Seq(stH, stD),
      Day, 3 * Day, maxPoints = 1000000)
    assert(fine.collect().forall(r => r.getAs[Long]("grain_ns") == H &&
      r.getAs[String]("source") == "store"))
    assert(fine.agg(sum("n")).head().getLong(0) == 4L) // days 2-3 samples
    // the same budget over the whole span touches the daily tier: grain
    // clamps to 1d and the stitched answer equals the direct daily pass
    val all = RollupStore.routeStoreCascade(spark, Seq(stH, stD),
      0L, 3 * Day, maxPoints = 1000000)
    assert(all.collect().forall(r => r.getAs[Long]("grain_ns") == Day &&
      r.getAs[String]("source") == "stitched"))
    assert(all.select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq == directDaily)
    // ingest stopped and EVERYTHING aged out: the router's fine floor
    // falls back to the finest present tier and still serves the
    // complete answer instead of dying on the empty mirror
    RollupStore.tierOffStore(spark, stH, stD, cutoff = 3 * Day,
      coarseBucketNanos = Day)
    val aged = RollupStore.routeStoreCascade(spark, Seq(stH, stD),
      0L, 3 * Day, maxPoints = 1000000)
    assert(aged.select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq == directDaily)
  }

  test("applyRetention: one declarative cycle builds the exact layout; " +
      "reapply and compact are no-ops on the answer") {
    val base = SparkTestBase.tempDir("graft-rollup-pol")
    val rawP = new java.io.File(base, "raw").getPath
    val stH = new java.io.File(base, "st1h").getPath
    val stD = new java.io.File(base, "st1d").getPath
    raw.write.parquet(rawP)
    val tiers = Seq(RollupStore.TierSpec(stH, H, keepNanos = 2 * Day),
      RollupStore.TierSpec(stD, Day))
    def cascade() = RollupStore.cascadeRollup(spark, rawP, Seq(stH, stD),
        Day).select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    // now = end of day 3: keep 1 day raw, 1h for 2 days, daily below
    val applied = RollupStore.applyRetention(spark, rawP,
      rawKeepNanos = Day, tiers, nowNs = 3 * Day)
    assert(applied == Seq(stH -> (2 * Day), stD -> Day))
    // layout: raw holds day 3, the 1h tier day 2, the 1d tier day 1
    assert(spark.read.parquet(rawP).agg(min("ts")).head()
      .getLong(0) >= 2 * Day)
    val hRange = spark.read.parquet(stH)
      .agg(min("bucket_ts"), max("bucket_ts")).head()
    assert(hRange.getLong(0) >= Day && hRange.getLong(1) < 2 * Day)
    assert(spark.read.parquet(stD).agg(max("bucket_ts")).head()
      .getLong(0) < Day)
    assert(cascade() == directDaily)
    // a double-run (crash retry, overlapping cron) changes nothing
    RollupStore.applyRetention(spark, rawP, Day, tiers, nowNs = 3 * Day)
    assert(cascade() == directDaily)
    // the maintenance variant folds partials without changing the answer
    RollupStore.applyRetention(spark, rawP, Day, tiers, nowNs = 3 * Day,
      compactStores = true)
    assert(cascade() == directDaily)
    // a mid-day cron clock still floors cutoffs to the DAY boundary —
    // the trim stays on the __day directory-drop fast path instead of
    // rewriting the retained raw tree every cycle
    val applied2 = RollupStore.applyRetention(spark, rawP, Day, tiers,
      nowNs = 3 * Day + 5 * H)
    assert(applied2 == Seq(stH -> (2 * Day), stD -> Day))
    assert(cascade() == directDaily)
  }

  test("applyRetention: the clock advances and new samples arrive " +
      "between cycles; every cycle stays exact") {
    val base = SparkTestBase.tempDir("graft-rollup-pol2")
    val rawP = new java.io.File(base, "raw").getPath
    val stH = new java.io.File(base, "st1h").getPath
    val stD = new java.io.File(base, "st1d").getPath
    val tiers = Seq(RollupStore.TierSpec(stH, H, keepNanos = 2 * Day),
      RollupStore.TierSpec(stD, Day))
    // day 1-2 samples exist when the first cycle runs at end of day 2
    raw.filter(col("ts") < 2 * Day).write.parquet(rawP)
    RollupStore.applyRetention(spark, rawP, Day, tiers, nowNs = 2 * Day)
    // live ingest lands day 3 before the next cycle
    raw.filter(col("ts") >= 2 * Day).write.mode("append").parquet(rawP)
    RollupStore.applyRetention(spark, rawP, Day, tiers, nowNs = 3 * Day)
    val got = RollupStore.cascadeRollup(spark, rawP, Seq(stH, stD), Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(got == directDaily)
    // day 1 aged through BOTH tiers across the two cycles
    assert(spark.read.parquet(stD).agg(max("bucket_ts")).head()
      .getLong(0) < Day)
  }

  test("applyRetention: nothing old enough yet skips the cascade move; " +
      "shrinking keeps fail loudly before any data moves") {
    val base = SparkTestBase.tempDir("graft-rollup-pol3")
    val rawP = new java.io.File(base, "raw").getPath
    val stH = new java.io.File(base, "st1h").getPath
    val stD = new java.io.File(base, "st1d").getPath
    raw.write.parquet(rawP)
    val tiers = Seq(RollupStore.TierSpec(stH, H, keepNanos = 20 * Day),
      RollupStore.TierSpec(stD, Day))
    // keeps exceed the data's age: no move, no phantom store, no error
    RollupStore.applyRetention(spark, rawP, rawKeepNanos = 10 * Day,
      tiers, nowNs = 3 * Day)
    assert(spark.read.parquet(rawP).count() == raw.count())
    assert(!new java.io.File(stD).exists())
    assert(RollupStore.cascadeRollup(spark, rawP, Seq(stH, stD), Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq == directDaily)
    // a coarser tier retaining SHORTER than the finer one above it is a
    // policy bug: fail before any cutoff is applied
    val ex = intercept[IllegalArgumentException] {
      RollupStore.applyRetention(spark, rawP, rawKeepNanos = 2 * Day,
        Seq(RollupStore.TierSpec(stH, H, keepNanos = Day),
          RollupStore.TierSpec(stD, Day)), nowNs = 3 * Day)
    }
    assert(ex.getMessage.contains("shrink"))
    assert(spark.read.parquet(rawP).count() == raw.count()) // untouched
  }

  test("applyRetention: equal keeps drain the middle tier into a " +
      "pass-through; the compaction pass must not crash on it") {
    val base = SparkTestBase.tempDir("graft-rollup-pol4")
    val rawP = new java.io.File(base, "raw").getPath
    val stH = new java.io.File(base, "st1h").getPath
    val stD = new java.io.File(base, "st1d").getPath
    raw.write.parquet(rawP)
    // raw keep == 1h keep: every sample the raw move displaces is
    // immediately old enough for the daily tier too, so the 1h store is
    // fully drained within the same cycle — compactStores must skip the
    // schema-less leftover tree instead of dying after the moves
    RollupStore.applyRetention(spark, rawP, rawKeepNanos = Day,
      Seq(RollupStore.TierSpec(stH, H, keepNanos = Day),
        RollupStore.TierSpec(stD, Day)),
      nowNs = 3 * Day, compactStores = true)
    val got = RollupStore.cascadeRollup(spark, rawP, Seq(stH, stD), Day)
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(got == directDaily)
    // days 1-2 really did pass straight through to the daily tier
    assert(spark.read.parquet(stD).agg(max("bucket_ts")).head()
      .getLong(0) < 2 * Day)
  }

  test("applyStoreRetention: the mirror ages down its cascade by clock; " +
      "cycles are exact and idempotent") {
    val base = SparkTestBase.tempDir("graft-rollup-msr")
    val stH = new java.io.File(base, "st1h").getPath
    val stD = new java.io.File(base, "st1d").getPath
    val tiers = Seq(RollupStore.TierSpec(stH, H, keepNanos = Day),
      RollupStore.TierSpec(stD, Day))
    // wave 1 arrives, then a cycle at end of day 2; wave 2, cycle at day 3
    RollupStore.write(raw.filter(col("ts") < 2 * Day), stH, H)
    val applied = RollupStore.applyStoreRetention(spark, tiers,
      nowNs = 2 * Day)
    assert(applied == Seq(stD -> Day))
    RollupStore.append(raw.filter(col("ts") >= 2 * Day), stH, "ab12#7", H)
    RollupStore.applyStoreRetention(spark, tiers, nowNs = 3 * Day,
      compactStores = true)
    def stitched() = RollupStore.storeCascadeRollup(spark, Seq(stH, stD),
        Day).select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(stitched() == directDaily)
    // day 1 AND day 2 aged out across the two cycles; day 3 still 1h
    assert(spark.read.parquet(stD).agg(max("bucket_ts")).head()
      .getLong(0) < 2 * Day)
    assert(spark.read.parquet(stH).agg(min("bucket_ts")).head()
      .getLong(0) >= 2 * Day)
    // a double-run changes nothing
    RollupStore.applyStoreRetention(spark, tiers, nowNs = 3 * Day)
    assert(stitched() == directDaily)
    val ex = intercept[IllegalArgumentException] {
      RollupStore.applyStoreRetention(spark,
        Seq(RollupStore.TierSpec(stH, H, keepNanos = 10 * Day),
          RollupStore.TierSpec(stD, Day, keepNanos = Day),
          RollupStore.TierSpec(new java.io.File(base, "st1w").getPath,
            7 * Day)), nowNs = 30 * Day)
    }
    assert(ex.getMessage.contains("shrink"))
  }

  test("an append with a different bucket width fails loudly") {
    val p = SparkTestBase.tempDir("graft-rollup-mw") + "/store"
    RollupStore.write(raw, p, H)
    val ex = intercept[IllegalArgumentException] {
      RollupStore.append(raw, p, "b#1", H / 2)
    }
    assert(ex.getMessage.contains("mix grains"))
  }

  test("a coarse width that does not nest fails loudly, never silently") {
    val p = SparkTestBase.tempDir("graft-rollup-g") + "/store"
    RollupStore.write(raw, p, H)
    val ex = intercept[Exception] {
      RollupStore.rollup(spark, p, H + 1).collect() // 1ns off a multiple
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    assert(chain(ex).contains("multiple"))
  }

  /** Keyed fixture: two series (hosts) interleaved over three days, with
    * a per-row user id so the distinct sketch dimension rides too. */
  private def keyedRaw = Seq(
    (1L * H, 10.25, "a", 1L), (2L * H, 3.10, "b", 2L),
    (25L * H, 7.77, "a", 1L), (26L * H + 7L, 100.01, "a", 3L),
    (49L * H, 0.02, "b", 2L), (49L * H + 9L, 5.55, "a", 4L),
    (50L * H, 6.25, "b", 5L)
  ).toDF("ts", "value", "host", "user_id")

  private def directKeyedDaily = keyedRaw
    .groupBy(col("host"),
      expr(graft.operators.TsOps.floorBucketSql("ts", Day)).as("bucket_ts"))
    .agg(count(lit(1)).as("n"),
      min(col("value").cast("decimal(18,2)")).as("min_c"),
      max(col("value").cast("decimal(18,2)")).as("max_c"),
      sum(col("value").cast("decimal(18,2)")).as("sum_c"))
    .orderBy("host", "bucket_ts").collect().toSeq

  test("keyed store: per-key rollup equals the direct grouped aggregate, " +
      "and dropping the dimension folds across keys exactly") {
    val p = SparkTestBase.tempDir("graft-rollup-k") + "/store"
    RollupStore.write(keyedRaw, p, H, keyCols = Seq("host"))
    val viaStore = RollupStore.rollup(spark, p, Day)
      .select("host", "bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("host", "bucket_ts").collect().toSeq
    assert(viaStore == directKeyedDaily)
    // keepKeys = no keys: the cross-key fold equals the UNKEYED daily
    // aggregate of the same rows — associativity across keys, proven
    val folded = RollupStore.rollup(spark, p, Day, keepKeys = Some(Nil))
      .select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    val direct = keyedRaw
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", Day))
        .as("bucket_ts"))
      .agg(count(lit(1)).as("n"),
        min(col("value").cast("decimal(18,2)")).as("min_c"),
        max(col("value").cast("decimal(18,2)")).as("max_c"),
        sum(col("value").cast("decimal(18,2)")).as("sum_c"))
      .orderBy("bucket_ts").collect().toSeq
    assert(folded == direct)
    // an unknown keepKeys name fails loudly, never silently regroups
    val ex = intercept[IllegalArgumentException] {
      RollupStore.rollup(spark, p, Day, keepKeys = Some(Seq("nope")))
    }
    assert(ex.getMessage.contains("not among the store's keys"))
  }

  test("keyed store: replayed appends dedup PER KEY and compaction " +
      "preserves the dimension") {
    val p = SparkTestBase.tempDir("graft-rollup-kr") + "/store"
    val (base, late) = (keyedRaw.filter(col("ts") < 2 * Day),
      keyedRaw.filter(col("ts") >= 2 * Day))
    RollupStore.write(base, p, H, keyCols = Seq("host"))
    RollupStore.append(late, p, "b#1", H, keyCols = Seq("host"))
    RollupStore.append(late, p, "b#1", H, keyCols = Seq("host")) // replay
    def daily = RollupStore.rollup(spark, p, Day)
      .select("host", "bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("host", "bucket_ts").collect().toSeq
    assert(daily == directKeyedDaily)
    RollupStore.compact(spark, p)
    assert(daily == directKeyedDaily)
    // one folded row per (key, bucket) after compaction
    val st = spark.read.parquet(p)
    assert(st.count() ==
      st.select("host", "bucket_ts").distinct().count())
  }

  test("keyed store: reserved key names and key-set drift fail loudly") {
    val p = SparkTestBase.tempDir("graft-rollup-kg") + "/store"
    val exR = intercept[IllegalArgumentException] {
      RollupStore.write(keyedRaw.withColumnRenamed("host", "bucket_ns"),
        p, H, keyCols = Seq("bucket_ns"))
    }
    assert(exR.getMessage.contains("reserved"))
    RollupStore.write(keyedRaw, p, H, keyCols = Seq("host"))
    // a keyless append into a keyed store must fail, not land null keys
    val exK = intercept[IllegalArgumentException] {
      RollupStore.append(keyedRaw, p, "b#2", H)
    }
    assert(exK.getMessage.contains("one store holds exactly one key set"))
  }

  test("keyed store: a TWO-key dimension folds to any key subset exactly") {
    val rows = Seq(
      (1L * H, 10.25, "a", "east"), (2L * H, 3.10, "b", "west"),
      (25L * H, 7.77, "a", "west"), (26L * H, 100.01, "a", "east"),
      (49L * H, 0.02, "b", "east"), (50L * H, 5.55, "a", "west")
    ).toDF("ts", "value", "host", "dc")
    val p = SparkTestBase.tempDir("graft-rollup-k2") + "/store"
    RollupStore.write(rows, p, H, keyCols = Seq("host", "dc"))
    def direct(ks: Seq[String]) = rows
      .groupBy(ks.map(col) :+
        expr(graft.operators.TsOps.floorBucketSql("ts", Day))
          .as("bucket_ts"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_c"))
      .orderBy((ks :+ "bucket_ts").map(col): _*).collect().toSeq
    def viaStore(keep: Option[Seq[String]], ks: Seq[String]) =
      RollupStore.rollup(spark, p, Day, keepKeys = keep)
        .select((ks ++ Seq("bucket_ts", "n", "sum_c")).map(col): _*)
        .orderBy((ks :+ "bucket_ts").map(col): _*).collect().toSeq
    // full dimension, a strict subset of it, and the empty fold
    assert(viaStore(None, Seq("host", "dc")) == direct(Seq("host", "dc")))
    assert(viaStore(Some(Seq("dc")), Seq("dc")) == direct(Seq("dc")))
    assert(viaStore(Some(Nil), Nil) == direct(Nil))
  }

  test("variance dimension: (n, sum, sumsq) survive replayed appends, " +
      "compaction, tiering, and the router's raw fallback — and the " +
      "derived stats match Spark's own var_pop") {
    val base = SparkTestBase.tempDir("graft-rollup-var")
    val p = base + "/store"
    val (early, late) = (raw.filter(col("ts") < 2 * Day),
      raw.filter(col("ts") >= 2 * Day))
    RollupStore.write(early, p, H, withVariance = true)
    RollupStore.append(late, p, "b#1", H, withVariance = true)
    RollupStore.append(late, p, "b#1", H, withVariance = true) // replay
    def direct(g: Long) = raw
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", g))
        .as("bucket_ts"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)")).cast("decimal(38,4)")
          .as("sumsq_c"))
      .orderBy("bucket_ts").collect().toSeq
    def viaStore = RollupStore.rollup(spark, p, Day)
      .select("bucket_ts", "n", "sumsq_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(viaStore == direct(Day))
    RollupStore.compact(spark, p)
    assert(viaStore == direct(Day), "compaction changed the sums")
    // the derived stats equal Spark's own population variance
    val derived = RollupStore.varianceStats(RollupStore.rollup(spark, p,
        Day)).select("bucket_ts", "var_pop").orderBy("bucket_ts")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expect = raw.groupBy(expr(graft.operators.TsOps
        .floorBucketSql("ts", Day)).as("bucket_ts"))
      .agg(var_pop("value").as("v")).orderBy("bucket_ts")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    derived.zip(expect).foreach { case ((b1, v1), (b2, v2)) =>
      assert(b1 == b2 && math.abs(v1 - v2) <= 1e-9 * math.max(1.0, v2),
        s"bucket $b1: $v1 vs $v2")
    }
    // tiering: the dimension rides tierOff and the stitched read
    val rawP = base + "/raw"
    val stP = base + "/tiered"
    raw.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H,
      withVariance = true)
    assert(RollupStore.tieredRollup(spark, rawP, stP, Day)
      .select("bucket_ts", "n", "sumsq_c")
      .orderBy("bucket_ts").collect().toSeq == direct(Day))
    // the router's raw fast path serves the same schema (sumsq included)
    val fine = RollupStore.route(spark, stP, spark.read.parquet(rawP),
      Day, 3 * Day, 2000)
    assert(fine.columns.contains("sumsq_c"), fine.columns.mkString(","))
    // a dimension-less append into a variance store fails loudly on read
    RollupStore.append(late, p, "b#2", H)
    val ex = intercept[Exception] {
      RollupStore.rollup(spark, p, Day).collect()
    }
    assert(ex.getMessage.contains("withVariance"), ex.getMessage)
  }

  test("route keyFilter: one series served identically to filtering the " +
      "full answer — store, stitched, and raw paths; non-key rejected") {
    val base = SparkTestBase.tempDir("graft-rollup-kf")
    val rawP = base + "/raw"
    val stP = base + "/store"
    keyedRaw.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H,
      keyCols = Seq("host"))
    val raw = spark.read.parquet(rawP)
    def served(maxPoints: Int, f: Option[org.apache.spark.sql.Column]) =
      RollupStore.route(spark, stP, raw, 0L, 3 * Day, maxPoints,
          keyFilter = f)
        .select("host", "bucket_ts", "n", "min_c", "max_c", "sum_c",
          "grain_ns", "source")
        .orderBy("host", "bucket_ts").collect().toSeq
    // coarse budget (stitched) and fine budget (clamped-stitch): the
    // pushed filter equals filtering the unfiltered answer after the fact
    for (mp <- Seq(3, 2000)) {
      val all = served(mp, None)
      val one = served(mp, Some(col("host") === "a"))
      assert(one == all.filter(_.getString(0) == "a"), s"maxPoints=$mp")
    }
    // a range raw fully holds at a fine budget: the raw path prunes too
    val rawOnly = RollupStore.route(spark, stP, raw, Day, 3 * Day, 2000,
        keyFilter = Some(col("host") === "b"))
      .select("host", "bucket_ts", "n").orderBy("bucket_ts").collect()
    assert(rawOnly.forall(_.getString(0) == "b") && rawOnly.nonEmpty)
    // a predicate over a value column must fail loudly before any fold
    val ex = intercept[IllegalArgumentException] {
      RollupStore.route(spark, stP, raw, 0L, 3 * Day, 3,
        keyFilter = Some(col("sum_c") > 5))
    }
    assert(ex.getMessage.contains("non-key column"))
    // cascade router: same one-series contract through the tier chain
    val oneCascade = RollupStore.routeCascade(spark, rawP, Seq(stP),
        0L, 3 * Day, 3, keyFilter = Some(col("host") === "a"))
      .select("host", "bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("host", "bucket_ts").collect().toSeq
    val allCascade = RollupStore.routeCascade(spark, rawP, Seq(stP),
        0L, 3 * Day, 3)
      .select("host", "bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("host", "bucket_ts").collect().toSeq
    assert(oneCascade == allCascade.filter(_.getString(0) == "a"))
  }

  test("keyed store: a stitched read BEFORE the first tierOff already " +
      "carries the dimension — the schema cannot flip when tiering starts") {
    val base = SparkTestBase.tempDir("graft-rollup-kn")
    val rawP = base + "/raw"
    val stP = base + "/store"
    keyedRaw.write.parquet(rawP)
    // the mirror-style store exists (keyed) but was never tiered into:
    // it serves no rows, yet declares the key schema
    RollupStore.write(keyedRaw, stP, H, keyCols = Seq("host"))
    val st = RollupStore.tieredRollup(spark, rawP, stP, Day)
      .select("host", "bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("host", "bucket_ts").collect().toSeq
    assert(st == directKeyedDaily)
  }

  test("keyed store: tiering keeps the dimension and the stitched read " +
      "equals the never-tiered grouped aggregate — sketch dim included") {
    val base = SparkTestBase.tempDir("graft-rollup-kt")
    val rawP = base + "/raw"
    val stP = base + "/store"
    keyedRaw.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stP, cutoff = Day, bucketNanos = H,
      distinctCol = Some("user_id"), keyCols = Seq("host"))
    val st = RollupStore.tieredRollup(spark, rawP, stP, Day,
        distinctCol = Some("user_id"))
      .select("host", "bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("host", "bucket_ts").collect().toSeq
    assert(st == directKeyedDaily)
    // tiny cardinalities: the sketch estimate is exact here
    val est = RollupStore.tieredRollup(spark, rawP, stP, Day,
        distinctCol = Some("user_id"))
      .select(col("host"), col("bucket_ts"),
        col("distinct_est").cast("long").as("d"))
      .orderBy("host", "bucket_ts").collect().toSeq
    val exact = keyedRaw.groupBy(col("host"),
        expr(graft.operators.TsOps.floorBucketSql("ts", Day))
          .as("bucket_ts"))
      .agg(countDistinct("user_id").as("d"))
      .orderBy("host", "bucket_ts").collect().toSeq
    assert(est == exact)
    // and the tier-aware router stitches the keyed answer completely
    val routed = RollupStore.route(spark, stP, spark.read.parquet(rawP),
        0L, 3 * Day, maxPoints = 100000, distinctCol = Some("user_id"))
      .select("host", "bucket_ts", "n")
      .orderBy("host", "bucket_ts").collect().toSeq
    val exactH = keyedRaw.groupBy(col("host"),
        expr(graft.operators.TsOps.floorBucketSql("ts", H)).as("bucket_ts"))
      .agg(count(lit(1)).as("n"))
      .orderBy("host", "bucket_ts").collect().toSeq
    assert(routed == exactH)
  }

  test("routeSampled: coarse budgets serve the exact store with a zero " +
      "variance bar; fine budgets serve HT estimates from the sample; " +
      "tiered stores are rejected loudly") {
    val Min = 60L * 1000000000L
    val base = SparkTestBase.tempDir("graft-route-aqp")
    val rawP = base + "/raw"
    val stP = base + "/store"
    val smP = base + "/sample"
    // two days, ids dense enough that a 1/2 sample is non-trivial
    val ev = (0L until 200L).map(i =>
      (i, (i % 48) * H, ((i % 7) + 1).toDouble + 0.25))
      .toDF("event_id", "ts", "value")
    ev.write.parquet(rawP)
    RollupStore.write(ev, stP, H)
    graft.storage.SampleStore.build(ev, smP, idCol = "event_id",
      bits = 1) // rate 1/2
    // coarse: 2 points over 2 days -> 1-day grain >= 1h -> exact store
    val coarse = RollupStore.routeSampled(spark, stP, smP, 0L, 2 * Day,
        maxPoints = 2).orderBy("bucket_ts").collect()
    assert(coarse.map(_.getAs[String]("source")).toSeq ==
      Seq("store", "store"))
    assert(coarse.map(_.getAs[Long]("rate_den")).toSeq == Seq(1L, 1L))
    assert(coarse.map(_.getAs[Long]("est_var_cents2")).toSeq ==
      Seq(0L, 0L))
    val exactDaily = ev
      .groupBy(expr(graft.operators.TsOps.floorBucketSql("ts", Day))
        .as("b")).agg(count(lit(1)).as("n"),
        sum(graft.operators.TsOps.centsExpr("value")).as("sc"))
      .orderBy("b").collect()
    assert(coarse.map(r => (r.getAs[Long]("bucket_ts"),
        r.getAs[Long]("est_count"), r.getAs[Long]("est_sum_cents"))).toSeq
      == exactDaily.map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSeq)
    // fine: 120 points over 2h -> 1-minute grain < 1h -> the SAMPLE
    // serves, with the rate and a positive variance bar riding along
    val fine = RollupStore.routeSampled(spark, stP, smP, 0L, 2 * H,
        maxPoints = 120).orderBy("bucket_ts").collect()
    assert(fine.nonEmpty)
    assert(fine.forall(_.getAs[String]("source") == "sample"))
    assert(fine.forall(_.getAs[Long]("rate_den") == 2L))
    assert(fine.forall(_.getAs[Long]("grain_ns") == Min))
    assert(fine.forall(_.getAs[Long]("est_var_cents2") > 0L))
    // brute-force HT twin over the deterministic 1-bit membership
    val kept = (0L until 200L).filter { i =>
      java.lang.Long.parseLong(
        SparkTestBase.md5hex(i.toString).substring(0, 8), 16) < (1L << 31)
    }.filter(i => (i % 48) * H < 2 * H)
    val expected = kept.groupBy(i => ((i % 48) * H / Min) * Min)
      .map { case (b, is) =>
        (b, is.size.toLong, is.size * 2L,
          is.map(i => ((i % 7) + 1) * 100L + 25L).sum * 2L)
      }.toSeq.sortBy(_._1)
    assert(fine.map(r => (r.getAs[Long]("bucket_ts"),
        r.getAs[Long]("n_sample"), r.getAs[Long]("est_count"),
        r.getAs[Long]("est_sum_cents"))).toSeq == expected)
    // a tiered store's post-horizon range lives in raw — loud, never
    // silently partial
    val stT = base + "/store-tiered"
    val rawT = base + "/raw-tiered"
    ev.write.parquet(rawT)
    RollupStore.tierOff(spark, rawT, stT, cutoff = Day, bucketNanos = H)
    val eTier = intercept[IllegalArgumentException] {
      RollupStore.routeSampled(spark, stT, smP, 0L, 2 * Day, 2)
    }
    assert(eTier.getMessage.contains("tier horizon"))
  }

  test("routeSampled keyed: both zooms carry the key dimension, the key " +
      "predicate prunes the sampled scan, value-column predicates loud; " +
      "stratified sample stores serve with per-row rates") {
    val Min = 60L * 1000000000L
    val base = SparkTestBase.tempDir("graft-route-aqp-k")
    val stP = base + "/store"
    val smP = base + "/sample"
    val ev = (0L until 400L).map(i =>
      (i, (i % 4) * H, if (i % 2 == 0) "web" else "db",
        ((i % 7) + 1).toDouble + 0.25))
      .toDF("event_id", "ts", "host", "value")
    RollupStore.write(ev, stP, H, keyCols = Seq("host"))
    graft.storage.SampleStore.build(ev, smP, idCol = "event_id",
      bits = 1)
    // coarse keyed: per-host daily EXACT rows, key column riding
    val coarse = RollupStore.routeSampled(spark, stP, smP, 0L, Day,
        maxPoints = 1).orderBy("host").collect()
    assert(coarse.map(_.getAs[String]("host")).toSeq == Seq("db", "web"))
    assert(coarse.forall(_.getAs[String]("source") == "store"))
    assert(coarse.map(_.getAs[Long]("est_count")).sum == 400L)
    // fine keyed + pushdown: only the filtered series, per-minute HT
    val fine = RollupStore.routeSampled(spark, stP, smP, 0L, 2 * H,
        maxPoints = 120,
        keyFilter = Some(col("host") === "web"))
      .orderBy("bucket_ts").collect()
    assert(fine.nonEmpty)
    assert(fine.forall(_.getAs[String]("host") == "web"))
    assert(fine.forall(_.getAs[String]("source") == "sample"))
    val kept = (0L until 400L).filter { i =>
      java.lang.Long.parseLong(
        SparkTestBase.md5hex(i.toString).substring(0, 8), 16) < (1L << 31)
    }.filter(i => i % 2 == 0 && (i % 4) * H < 2 * H)
    val expected = kept.groupBy(i => (i % 4) * H)
      .map { case (b, is) => (b, is.size.toLong, is.size * 2L) }
      .toSeq.sortBy(_._1)
    assert(fine.map(r => (r.getAs[Long]("bucket_ts"),
      r.getAs[Long]("n_sample"), r.getAs[Long]("est_count"))).toSeq
      == expected)
    // a value-column predicate is rejected loudly before any IO
    val eVal = intercept[IllegalArgumentException] {
      RollupStore.routeSampled(spark, stP, smP, 0L, Day, 1,
        keyFilter = Some(col("value") > 1.0))
    }
    assert(eVal.getMessage.contains("non-key"))
    // a STRATIFIED sample store serves the fine zoom with per-row rates
    // (rate_den = the coarsest contributing rate; the variance column
    // carries the exact per-row weighting)
    val smS = base + "/sample-strat"
    graft.storage.SampleStore.buildStratified(ev, smS,
      idCol = "event_id", stratumCol = "host", minRows = 30,
      maxBits = 8)
    val stU = base + "/store-unkeyed"
    RollupStore.write(ev, stU, H)
    val fineS = RollupStore.routeSampled(spark, stU, smS, 0L, 2 * H,
        maxPoints = 120).orderBy("bucket_ts").collect()
    assert(fineS.nonEmpty)
    assert(fineS.forall(_.getAs[String]("source") == "sample"))
    // 200 rows per host: largest b with 200 >= 30*2^b -> b=2 (rate 4)
    assert(fineS.forall(_.getAs[Long]("rate_den") == 4L))
  }

  /** (bucket_ts, n, sum_c, source) of a routed answer, in bucket order. */
  private def routed(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, java.math.BigDecimal, String)] =
    df.orderBy("bucket_ts").collect().map(r => (r.getAs[Long]("bucket_ts"),
      r.getAs[Long]("n"), r.getAs[java.math.BigDecimal]("sum_c"),
      r.getAs[String]("source"))).toSeq

  test("route on an empty or mixed-width store fails on the first call " +
      "and on every repeated call") {
    val base = SparkTestBase.tempDir("graft-rollup-bad")
    val good = base + "/good"
    RollupStore.write(raw, good, H)
    // a store tree holding the store's columns and no row
    val empty = base + "/empty"
    spark.read.parquet(good).filter(lit(false)).write.parquet(empty)
    // a second grain appended past the width guard
    val mixed = base + "/mixed"
    RollupStore.write(raw, mixed, H)
    RollupStore.append(raw, mixed, "b#2h", 2 * H, validateWidth = false)
    for (_ <- 1 to 2) {
      val e = intercept[IllegalArgumentException] {
        RollupStore.route(spark, empty, raw, 0L, 3 * Day, maxPoints = 2)
      }
      assert(e.getMessage == s"rollup store at $empty is empty")
      val m = intercept[IllegalStateException] {
        RollupStore.route(spark, mixed, raw, 0L, 3 * Day, maxPoints = 2)
      }
      assert(m.getMessage.contains(s"rollup store at $mixed holds MIXED " +
        s"bucket widths $H, ${2 * H}"), m.getMessage)
    }
  }

  test("route snapshots follow the store: append shows new buckets, " +
      "compact keeps the answer, tierOff turns it stitched") {
    val base = SparkTestBase.tempDir("graft-rollup-snap")
    val stP = base + "/store"
    RollupStore.write(raw.filter(col("ts") < 2 * Day), stP, H)
    def coarse() = routed(RollupStore.route(spark, stP, raw, 0L, 3 * Day,
      maxPoints = 2))
    val before = coarse()
    assert(before.map(_._2).sum == 4L && before.forall(_._4 == "store"))
    assert(coarse() == before) // warm
    RollupStore.append(raw.filter(col("ts") >= 2 * Day), stP, "b#1", H)
    val appended = coarse()
    assert(appended.map(_._2).sum == raw.count(), appended)
    RollupStore.compact(spark, stP)
    assert(coarse() == appended)
    // a store mirroring only days 1-2, then day 0 tiered off raw: the
    // store gains a horizon, so the next route must stitch
    val rawP = base + "/raw"
    val tierP = base + "/tiered"
    raw.write.parquet(rawP)
    RollupStore.write(raw.filter(col("ts") >= Day), tierP, H)
    def tiered() = routed(RollupStore.route(spark, tierP,
      spark.read.parquet(rawP), 0L, 3 * Day, maxPoints = 2))
    assert(tiered().forall(_._4 == "store"))
    RollupStore.tierOff(spark, rawP, tierP, cutoff = Day, bucketNanos = H)
    val stitched = tiered()
    assert(stitched.forall(_._4 == "stitched"), stitched)
    assert(stitched.map(t => (t._1, t._2, t._3)) ==
      appended.map(t => (t._1, t._2, t._3)))
  }

  test("a warm route over an unchanged store builds its plan with zero " +
      "Spark jobs") {
    val base = SparkTestBase.tempDir("graft-rollup-warm")
    val stP = base + "/store"
    val rawP = base + "/raw"
    raw.write.parquet(rawP)
    RollupStore.write(raw, stP, H)
    def build() = RollupStore.route(spark, stP, spark.read.parquet(rawP),
      0L, 3 * Day, maxPoints = 2)
    val (cold, coldJobs) = SparkTestBase.countJobs(build())
    assert(coldJobs > 0) // the probe ran, and the counter sees it
    val (warm, warmJobs) = SparkTestBase.countJobs(build())
    assert(warmJobs == 0)
    assert(routed(warm) == routed(cold))
    // a rollup opens the same snapshot
    val (daily, rollupJobs) =
      SparkTestBase.countJobs(RollupStore.rollup(spark, stP, Day))
    assert(rollupJobs == 0)
    assert(daily.select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq == directDaily)
  }

  test("route refuses a budget no grain fits instead of overrunning it") {
    // a one-point budget over a range holding epoch 0: every grain's
    // widened range is two buckets, until the arithmetic overflows
    val stP = SparkTestBase.tempDir("graft-rollup-nofit") + "/store"
    RollupStore.write(raw, stP, H)
    val e = intercept[IllegalArgumentException] {
      RollupStore.route(spark, stP, raw, -H, H, maxPoints = 1)
    }
    assert(e.getMessage.contains("no grain fits"), e.getMessage)
  }

  test("a horizonless store beside raw: route serves it as the complete " +
      "mirror, routeCascade as never tiered into") {
    val base = SparkTestBase.tempDir("graft-rollup-hz")
    val (rawP, stP) = (base + "/raw", base + "/store")
    raw.write.parquet(rawP)
    RollupStore.write(raw, stP, H)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket_ts", "n", "sum_c", "grain_ns", "source")
        .orderBy("bucket_ts").collect().toSeq
    val mirror = rows(RollupStore.route(spark, stP,
      spark.read.parquet(rawP), 0L, 3 * Day, maxPoints = 2))
    val cascade = rows(RollupStore.routeCascade(spark, rawP, Seq(stP), 0L,
      3 * Day, maxPoints = 2))
    assert(mirror.map(_.getString(4)).distinct == Seq("store"))
    assert(cascade.map(_.getString(4)).distinct == Seq("raw"))
    // the same 36h buckets either way
    assert(mirror.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) ==
      cascade.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))))
  }

  test("a warm cascade route whose range ends below the finest horizon " +
      "reads no raw and builds with zero Spark jobs") {
    val base = SparkTestBase.tempDir("graft-rollup-noraw")
    val rawP = base + "/raw"
    val (stH, stD) = (base + "/st1h", base + "/st1d")
    raw.write.parquet(rawP)
    RollupStore.tierOff(spark, rawP, stH, cutoff = 2 * Day, bucketNanos = H)
    RollupStore.tierOffStore(spark, stH, stD, cutoff = Day,
      coarseBucketNanos = Day)
    def build() = RollupStore.routeCascade(spark, rawP, Seq(stH, stD), 0L,
      2 * Day, maxPoints = 2)
    val cold = build()
    val (warm, jobs) = SparkTestBase.countJobs(build())
    assert(jobs == 0, s"$jobs jobs")
    val got = warm.select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq
    assert(got == directDaily.filter(_.getLong(0) < 2 * Day))
    assert(cold.select("source").distinct().collect().map(_.getString(0))
      .toSeq == Seq("stitched"))
    // and a warm route whose raw window [2 days, 3 days) is non-empty:
    // the raw side is served from its at-rest snapshot, no schema job
    def withRaw() = RollupStore.routeCascade(spark, rawP, Seq(stH, stD),
      0L, 3 * Day, maxPoints = 3)
    withRaw()
    val (warmRaw, rawJobs) = SparkTestBase.countJobs(withRaw())
    assert(rawJobs == 0, s"$rawJobs jobs")
    assert(warmRaw.select("bucket_ts", "n", "min_c", "max_c", "sum_c")
      .orderBy("bucket_ts").collect().toSeq == directDaily)
  }
}
