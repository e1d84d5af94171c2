package graft

import graft.storage.CounterStore
import graft.operators.TsOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The counter recording rule's at-rest lifecycle: batch-keyed appends
  * with replay dedup, compaction, the cutoff-keyed coarsening tier, and
  * every loud guard — all gated against the direct
  * [[TsOps.counterIncrease]] pass over the never-stored samples. */
class CounterStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val H = 3600L * 1000000000L
  private val Day = 86400L * 1000000000L

  /** Three days of per-host counter samples with a mid-series reset on
    * each host (value drops → the post-reset value IS the increase). */
  private def samples = Seq(
    ("a", 1L * H, 1L, 10.00), ("a", 2L * H, 2L, 12.50),
    ("a", 25L * H, 3L, 20.00), ("a", 26L * H, 4L, 3.00), // reset
    ("a", 49L * H, 5L, 9.00),
    ("b", 1L * H + 7L, 6L, 5.00), ("b", 24L * H, 7L, 2.00), // reset
    ("b", 50L * H, 8L, 2.25)
  ).toDF("host", "ts", "event_id", "value")

  private def inc1h = TsOps.counterIncrease(samples, Seq("host"), H,
    tieCol = "event_id")

  private def directDaily = TsOps.counterIncrease(samples, Seq("host"),
      Day, tieCol = "event_id")
    .orderBy("host", "bucket").collect().toSeq

  private def readDaily(p: String) =
    CounterStore.read(spark, p, factor = 24L)
      .orderBy("host", "bucket").collect().toSeq

  test("lifecycle: base + append + REPLAYED append + compact all read " +
      "back as the direct daily pass; compaction folds to one row each") {
    val p = SparkTestBase.tempDir("graft-ctr-life") + "/store"
    val split = 24L // hour-bucket index of day 1
    CounterStore.write(inc1h.filter(col("bucket") < split), p, H)
    val late = inc1h.filter(col("bucket") >= split)
    CounterStore.append(late, p, "b#1", H)
    assert(readDaily(p) == directDaily)
    CounterStore.append(late, p, "b#1", H) // at-least-once redelivery
    assert(readDaily(p) == directDaily, "replayed append double-counted")
    CounterStore.compact(spark, p)
    assert(readDaily(p) == directDaily, "compaction changed the answer")
    val st = spark.read.parquet(p)
    assert(st.count() == st.select("host", "bucket").distinct().count())
  }

  test("tierOff: coarsening tier + whole-day trim serve the direct pass; " +
      "a full retry AND a crash-window retry (append landed, trim did " +
      "not) both collapse in the deterministic tier key") {
    val base = SparkTestBase.tempDir("graft-ctr-tier")
    val fineP = base + "/fine"
    val coarseP = base + "/coarse"
    CounterStore.write(inc1h, fineP, H)
    // crash simulation: the tier append lands, the trim never runs —
    // exactly the window a nightly job dies in. The REAL tierOff then
    // retries: its identical tier-keyed append must dedup away and the
    // stitched read must never double-count the overlap window.
    CounterStore.append(
      CounterStore.read(spark, fineP, 24L, until = Some(2 * Day)),
      coarseP, s"tier-${2 * Day}", Day)
    CounterStore.tierOff(spark, fineP, coarseP, cutoff = 2 * Day,
      factor = 24L)
    assert(CounterStore.readTiered(spark, fineP, coarseP, 24L)
      .orderBy("host", "bucket").collect().toSeq == directDaily)
    // the fine store trimmed by directory drop: only day-2 rows remain
    assert(spark.read.parquet(fineP).agg(min("bucket")).head().getLong(0)
      >= 48L)
    CounterStore.tierOff(spark, fineP, coarseP, cutoff = 2 * Day,
      factor = 24L) // full no-op retry
    assert(CounterStore.readTiered(spark, fineP, coarseP, 24L)
      .orderBy("host", "bucket").collect().toSeq == directDaily)
    // a never-tiered pair degrades to the fine read
    val lone = base + "/lone"
    CounterStore.write(inc1h, lone, H)
    assert(CounterStore.readTiered(spark, lone, base + "/absent", 24L)
      .orderBy("host", "bucket").collect().toSeq == directDaily)
  }

  test("route: budget-fitted grains over the tiered pair equal the " +
      "direct pass at every probe; pre-horizon budgets clamp to the " +
      "coarse width, post-horizon ranges serve fine") {
    val base = SparkTestBase.tempDir("graft-ctr-route")
    val fineP = base + "/fine"
    val coarseP = base + "/coarse"
    CounterStore.write(inc1h, fineP, H)
    CounterStore.tierOff(spark, fineP, coarseP, cutoff = 2 * Day,
      factor = 24L)
    def direct(g: Long, lo: Long, hi: Long) =
      TsOps.counterIncrease(
          samples.filter(col("ts") >= lo && col("ts") < hi),
          Seq("host"), g, tieCol = "event_id")
        .orderBy("host", "bucket").collect().toSeq
    // NOTE the fixture property making direct() a fair oracle at window
    // edges: every delta and its observing sample sit in the same g
    // bucket as its predecessor's bucket boundary allows — true here
    // because windows are whole g buckets and the series' first sample
    // in each window emits nothing on both sides only when the
    // PREDECESSOR is also inside the window. Probes therefore use
    // [0, ...) ranges so no cross-window lag is lost on either side.
    for ((mp, expG, expSrc) <- Seq(
        (2, Day * 2, "stitched"), // 3-day span / 2 pts → 2-day grain
        (3, Day, "stitched"),     // clamps to the daily tier
        (3000, Day, "stitched"))) { // fine budget BELOW horizon: clamps
      val df = CounterStore.route(spark, fineP, Some(coarseP), 0L,
        3 * Day, mp)
      val rows = df.select("host", "bucket", "n_deltas", "inc_cents",
        "n_resets").orderBy("host", "bucket").collect().toSeq
      val meta = df.select("grain_ns", "source").distinct().collect()
      assert(meta.length == 1 && meta.head.getLong(0) == expG &&
        meta.head.getString(1) == expSrc, s"mp=$mp: ${meta.toSeq}")
      assert(rows == direct(expG, 0L, 3 * Day), s"mp=$mp")
    }
    // key pushdown: one series routed equals the per-series slice of the
    // unfiltered answer; a value-column predicate is rejected loudly
    val one = CounterStore.route(spark, fineP, Some(coarseP), 0L,
        3 * Day, 3, keyFilter = Some(col("host") === "a"))
      .select("host", "bucket", "n_deltas", "inc_cents", "n_resets")
      .orderBy("host", "bucket").collect().toSeq
    assert(one == direct(Day, 0L, 3 * Day).filter(_.getString(0) == "a"))
    val exK = intercept[IllegalArgumentException] {
      CounterStore.route(spark, fineP, Some(coarseP), 0L, 3 * Day, 3,
        keyFilter = Some(col("inc_cents") > 5))
    }
    assert(exK.getMessage.contains("non-key column"), exK.getMessage)
    // a range fine fully holds serves at the budget's own fine grain
    val fineDf = CounterStore.route(spark, fineP, Some(coarseP),
      2 * Day, 3 * Day, 3000)
    assert(fineDf.select("grain_ns", "source").distinct().collect()
      .toSeq.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((H, "store")))
    assert(fineDf.select("host", "bucket", "n_deltas", "inc_cents",
        "n_resets").orderBy("host", "bucket").collect().toSeq ==
      TsOps.counterIncrease(samples, Seq("host"), H, tieCol = "event_id")
        .filter(col("bucket") >= 48L).orderBy("host", "bucket")
        .collect().toSeq)
  }

  /** The routed rows without the grain/source columns, in order. */
  private def routedRows(df: org.apache.spark.sql.DataFrame) =
    df.select("host", "bucket", "n_deltas", "inc_cents", "n_resets")
      .orderBy("host", "bucket").collect().toSeq

  test("a warm route (stitched and fine-only) and a warm readTiered over " +
      "unchanged stores build their plans with zero Spark jobs") {
    val base = SparkTestBase.tempDir("graft-ctr-warm")
    val fineP = base + "/fine"
    val coarseP = base + "/coarse"
    CounterStore.write(inc1h, fineP, H)
    CounterStore.tierOff(spark, fineP, coarseP, cutoff = 2 * Day,
      factor = 24L)
    for ((name, build) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "stitched route" -> (() => CounterStore.route(spark, fineP,
          Some(coarseP), 0L, 3 * Day, 3)),
        "fine-only route" -> (() => CounterStore.route(spark, fineP,
          Some(coarseP), 2 * Day, 3 * Day, 3000)),
        "readTiered" -> (() => CounterStore.readTiered(spark, fineP,
          coarseP, 24L)))) {
      val cold = build()
      val (warm, warmJobs) = SparkTestBase.countJobs(build())
      assert(warmJobs == 0, s"$name: $warmJobs jobs")
      assert(warm.orderBy("host", "bucket").collect().toSeq ==
        cold.orderBy("host", "bucket").collect().toSeq, name)
    }
  }

  test("route snapshots follow the stores: append shows new buckets, " +
      "compact keeps the answer, tierOff turns it stitched") {
    val base = SparkTestBase.tempDir("graft-ctr-snap")
    val fineP = base + "/fine"
    val coarseP = base + "/coarse"
    CounterStore.write(inc1h.filter(col("bucket") < 48L), fineP, H)
    def daily() = CounterStore.route(spark, fineP, Some(coarseP), 0L,
      3 * Day, 3)
    val before = routedRows(daily())
    assert(before == directDaily.filter(_.getAs[Long]("bucket") < 2L))
    assert(routedRows(daily()) == before) // warm
    CounterStore.append(inc1h.filter(col("bucket") >= 48L), fineP, "b#1",
      H)
    assert(routedRows(daily()) == directDaily, "append not seen")
    CounterStore.compact(spark, fineP)
    assert(routedRows(daily()) == directDaily, "compact changed the answer")
    assert(daily().select("source").distinct().collect().map(_.getString(0))
      .toSeq == Seq("store"))
    CounterStore.tierOff(spark, fineP, coarseP, cutoff = 2 * Day,
      factor = 24L)
    val tiered = daily()
    assert(tiered.select("source").distinct().collect().map(_.getString(0))
      .toSeq == Seq("stitched"))
    assert(routedRows(tiered) == directDaily, "tierOff changed the answer")
  }

  test("aligned writes: every day directory holds ONE parquet file after " +
      "write, append, and compact — never one per task x day") {
    val p = SparkTestBase.tempDir("graft-ctr-files") + "/store"
    // force the hazard shape: many input partitions spanning several days
    CounterStore.write(inc1h.filter(col("bucket") < 24L).repartition(8),
      p, H)
    CounterStore.append(inc1h.filter(col("bucket") >= 24L).repartition(8),
      p, "b#1", H)
    CounterStore.compact(spark, p)
    def filesPerDay: Seq[Int] = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("__day=")).toSeq
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(filesPerDay.nonEmpty && filesPerDay.forall(_ == 1), filesPerDay)
    assert(readDaily(p) == directDaily)
  }

  test("loud guards: mixed grain, key-set drift, unaligned cutoff, and " +
      "raw-sample input all fail before landing") {
    val p = SparkTestBase.tempDir("graft-ctr-guard") + "/store"
    CounterStore.write(inc1h, p, H)
    val exG = intercept[IllegalArgumentException] {
      CounterStore.append(inc1h, p, "b#2", Day)
    }
    assert(exG.getMessage.contains("mix grains"))
    val exK = intercept[IllegalArgumentException] {
      CounterStore.append(
        inc1h.withColumnRenamed("host", "node"), p, "b#2", H)
    }
    assert(exK.getMessage.contains("one store holds exactly one key set"))
    val exC = intercept[IllegalArgumentException] {
      CounterStore.tierOff(spark, p, p + "_c", cutoff = Day + H,
        factor = 24L)
    }
    assert(exC.getMessage.contains("not aligned"))
    val exS = intercept[IllegalArgumentException] {
      CounterStore.write(samples, p + "_raw", H)
    }
    assert(exS.getMessage.contains("not raw samples"))
  }
}
