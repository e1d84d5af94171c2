package graft

import java.time.ZoneOffset

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.ql.{Engine, Output}
import graft.storage.{DataPoint, RollupStore, SampleStore, Tables, WritableStore}

/** The serving path's plans: requests that differ only in their range or
  * their route grain reuse the code compiled for the first of them, range
  * bounds still prune the scan, and a store route small enough for one
  * file split runs without an exchange. */
class ServingPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Sec = 1000000000L
  private val Min = 60L * Sec
  private val H = 60L * Min
  private val Day = 24L * H
  private val T0 = 1709251200L * Sec // 2024-03-01T00:00:00Z

  /** Two days of one-minute points: `m` cached-read, `d` day-partitioned. */
  private lazy val dbDir: String = {
    val dir = SparkTestBase.tempDir("graft-serve-plan-db")
    val points = (0L until 2L * 24 * 60).map(i =>
      DataPoint(T0 + i * Min, Seq((i % 97).toDouble + 0.25)))
    for ((name, byDay) <- Seq("m" -> false, "d" -> true)) {
      val st = new WritableStore(spark, dir, name,
        Seq(StructField("v", DoubleType)), partitionByDay = byDay)
      st.pushMulti(points)
      st.persist()
    }
    dir
  }

  /** A one-minute rollup store over the same two days, with its raw table
    * and a 1/2 sample beside it. */
  private lazy val stores: (String, String, String) = {
    val base = SparkTestBase.tempDir("graft-serve-plan-st")
    val ev = (0L until 2L * 24 * 60).map(i =>
      (i, T0 + i * Min, (i % 97).toDouble + 0.25))
      .toDF("event_id", "ts", "value")
    val (rawP, stP, smP) = (base + "/raw", base + "/store", base + "/sample")
    ev.write.parquet(rawP)
    RollupStore.write(ev, stP, Min)
    SampleStore.build(ev, smP, idCol = "event_id", bits = 1)
    (rawP, stP, smP)
  }

  /** Classes Janino compiled while `body` ran: 0 when every generated
    * source was already in Spark's code cache. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** Run a request once to warm its shape, then with other bounds: the
    * classes the second run compiled, which must be none. */
  private def recompiles(warm: => Any, other: => Any): Long = {
    warm
    compiles(other)._2
  }

  private def json(e: Engine, q: String): String =
    Output.columnJson(e.frame(q), ZoneOffset.UTC, false)

  test("serving code is compiled once per query shape") {
    val e = new Engine(spark, dbDir)
    def read(opts: String, from: String, hours: Int): String =
      json(e, s"with format_datetime = false$opts select * from m " +
        s"where ts in ('$from', +$hours hours)")
    val cached = recompiles(
      read("", "2024-03-01 01:00", 6), read("", "2024-03-01 09:30", 12))
    def fresh(from: String, hours: Int): String =
      json(e, "with format_datetime = false, use_cache = false select * " +
        s"from d where ts in ('$from', +$hours hours)")
    val uncached = recompiles(
      fresh("2024-03-01 01:00", 6), fresh("2024-03-02 03:00", 2))
    val (rawP, stP, smP) = stores
    def route(since: Long, until: Long, points: Int): DataFrame =
      RollupStore.route(spark, stP, spark.read.parquet(rawP), since, until,
        points)
    val routed = recompiles(route(T0, T0 + Day, 24).collect(),
      route(T0 + 2 * H, T0 + 14 * H, 6).collect())
    assert(route(T0 + 2 * H, T0 + 14 * H, 6).select("grain_ns", "source")
      .distinct().as[(Long, String)].collect().toSeq == Seq((2 * H, "store")))
    // finer than the stored minute: raw answers, at 30 s, then 20 s
    val rawZoom = recompiles(route(T0, T0 + H, 120).collect(),
      route(T0 + 5 * H, T0 + 6 * H, 180).collect())
    val router = RollupStore.prepareSampled(spark, stP, smP,
      pinSample = false)
    val (zoomed, sampled) =
      try (recompiles(router.route(T0, T0 + Day, 24).collect(),
          router.route(T0 + 2 * H, T0 + 14 * H, 6).collect()),
        recompiles(router.route(T0, T0 + H, 120).collect(),
          router.route(T0 + 5 * H, T0 + 6 * H, 180).collect()))
      finally router.close()
    val counts = Map("cached read" -> cached, "use_cache = false read" ->
      uncached, "untiered route" -> routed, "raw fine zoom" -> rawZoom,
      "sampled exact zoom" -> zoomed, "sampled fine zoom" -> sampled)
    assert(counts.values.forall(_ == 0L), s"classes compiled: $counts")
  }

  /** The FileScan node's `key: [...]` list, expression ids dropped. */
  private def scanField(df: DataFrame, key: String): String = {
    val p = df.queryExecution.executedPlan.toString
    val m = s"""$key: \\[([^\\]]*)\\]""".r.findFirstMatchIn(p)
      .getOrElse(fail(s"no $key in\n$p"))
    m.group(1).replaceAll("#\\d+", "")
  }

  test("a bound-literal range read keeps its pushed and partition filters") {
    dbDir
    val (since, until) = (T0 + 5 * H, T0 + 30 * H)
    val bound = Tables.readRange(spark, dbDir, "d", Some(since), Some(until))
    val pushed = scanField(bound, "PushedFilters")
    assert(pushed.contains(s"GreaterThanOrEqual(ts,$since)") &&
      pushed.contains(s"LessThan(ts,$until)"), pushed)
    // the same scope written with plain literals plans the same scan
    val plain = spark.read.parquet(new java.io.File(dbDir, "d").getPath)
      .filter(col("ts") >= lit(since) && col("ts") < lit(until) &&
        col("__day") >= lit("2024-03-01") && col("__day") <= lit("2024-03-02"))
    val parts = scanField(bound, "PartitionFilters")
    assert(parts.contains("2024-03-01") && parts.contains("2024-03-02"), parts)
    assert(parts == scanField(plain, "PartitionFilters"))
    assert(pushed == scanField(plain, "PushedFilters"))
  }

  test("a store route under one file split runs in one stage, and the " +
      "split plan answers the same rows") {
    val base = SparkTestBase.tempDir("graft-serve-plan-split")
    val stP = base + "/store"
    val ev = (0L until 2L * 24 * 60).map(i =>
      (T0 + i * Min, (i % 97).toDouble + 0.25)).toDF("ts", "value")
    val late = ev.filter(col("ts") >= T0 + Day)
    RollupStore.write(ev.filter(col("ts") < T0 + Day), stP, Min)
    RollupStore.append(late, stP, "b#1", Min)
    RollupStore.append(late, stP, "b#1", Min) // a replayed batch
    def route(): DataFrame = RollupStore.route(spark, stP,
      spark.read.parquet("/nonexistent"), T0 + 20 * H, T0 + 40 * H, 20)
    def rows(df: DataFrame) =
      df.select("bucket_ts", "n", "min_c", "max_c", "sum_c", "grain_ns")
        .orderBy("bucket_ts").collect().toSeq
    val small = route()
    val (one, jobs) = SparkTestBase.countJobs(rows(small))
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(!smallPlan.contains("Exchange"), smallPlan)
    assert(jobs == 1, s"$jobs jobs")
    // the replay is dropped: each hour bucket holds its 60 points once
    assert(one.size == 20 && one.forall(_.getLong(1) == 60L), one)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val split = route()
      assert(rows(split) == one)
      val splitPlan = split.queryExecution.executedPlan.toString
      assert(splitPlan.contains("Exchange"), splitPlan)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  /** A one-minute mirror over two days whose first day aged into a
    * one-hour tier: the raw-less lifecycle. */
  private lazy val mirrorTiers: (String, String) = {
    val base = SparkTestBase.tempDir("graft-serve-plan-mirror")
    val (stM, stH) = (base + "/st1m", base + "/st1h")
    val ev = (0L until 2L * 24 * 60).map(i =>
      (T0 + i * Min, (i % 97).toDouble + 0.25)).toDF("ts", "value")
    RollupStore.write(ev, stM, Min)
    RollupStore.tierOffStore(spark, stM, stH, cutoff = T0 + Day,
      coarseBucketNanos = H)
    (stM, stH)
  }

  /** The physical plan, exchanges planned, before adaptive execution
    * runs it. */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def hourly(df: DataFrame): Seq[(Long, Long, Long, String)] =
    df.select("bucket_ts", "n", "grain_ns", "source").orderBy("bucket_ts")
      .as[(Long, Long, Long, String)].collect().toSeq

  test("a raw-less mirror-only route under one file split runs one job " +
      "without an exchange") {
    val (stM, stH) = mirrorTiers
    def route(): DataFrame = RollupStore.routeStoreCascade(spark,
      Seq(stM, stH), T0 + 26 * H, T0 + 40 * H, 14)
    route() // opens both snapshots
    val df = route()
    val (rows, jobs) = SparkTestBase.countJobs(hourly(df))
    assert(rows.map(r => (r._3, r._4)).distinct == Seq((H, "store")), rows)
    assert(rows.size == 14 && rows.forall(_._2 == 60L), rows)
    assert(jobs == 1, s"$jobs jobs")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("a stitched raw-less route has no exchange below its union") {
    val (stM, stH) = mirrorTiers
    def route(): DataFrame = RollupStore.routeStoreCascade(spark,
      Seq(stM, stH), T0 + 20 * H, T0 + 40 * H, 20)
    val rows = hourly(route())
    assert(rows.map(r => (r._3, r._4)).distinct == Seq((H, "stitched")),
      rows)
    assert(rows.size == 20 && rows.forall(_._2 == 60L), rows)
    val plan = physical(route())
    val unions = plan.collect { case u: UnionExec => u }
    assert(unions.size == 1, plan)
    assert(unions.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      unions.head)
  }
}
