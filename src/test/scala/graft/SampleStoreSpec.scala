package graft

import graft.storage.SampleStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The deterministic AQP sample tier: membership is a pure function of
  * the id, estimates are exact integer scale-ups, and the lifecycle
  * (build / batch-keyed append / replay / compact) never double-counts
  * a sampled row — all gated against a brute-force Scala re-derivation
  * of the same sample. */
class SampleStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Day = 86400L * 1000000000L

  /** Two days of events; ids chosen densely so the 1/16 md5 sample is
    * non-empty and split across both days. */
  private def events = (0L until 400L).map { i =>
    (i, (i % 48) * Day / 24 , if (i % 2 == 0) "a" else "b",
      (i % 7).toDouble + 0.25)
  }.toDF("event_id", "ts", "etype", "value")

  /** Brute-force twin: the same md5-prefix membership in plain Scala. */
  private def memberIds: Set[Long] =
    (0L until 400L).filter(i =>
      SparkTestBase.md5hex(i.toString).startsWith("0")).toSet

  private def expected: Seq[(String, Long, Long, Long, Long)] = {
    val rows = (0L until 400L).filter(memberIds).map { i =>
      (if (i % 2 == 0) "a" else "b",
        math.round(((i % 7).toDouble + 0.25) * 100))
    }
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
      (g, rs.size.toLong, rs.size.toLong * 16L, rs.map(_._2).sum * 16L,
        rs.map(x => x._2 * x._2).sum * 16L * 15L)
    }
  }

  private def estRows(p: String) =
    SampleStore.estimate(spark, p, Seq("etype"), "value")
      .orderBy("etype").collect()
      .map(r => (r.getAs[String]("etype"), r.getAs[Long]("n_sample"),
        r.getAs[Long]("est_count"), r.getAs[Long]("est_sum_cents"),
        r.getAs[Long]("est_var_cents2"))).toSeq

  test("lifecycle: build + append + REPLAYED append + compact estimate " +
      "exactly the brute-force sample; day scoping prunes") {
    val p = SparkTestBase.tempDir("graft-aqp-life") + "/store"
    val early = events.filter(col("ts") < Day)
    val late = events.filter(col("ts") >= Day)
    SampleStore.build(early, p, idCol = "event_id")
    SampleStore.append(late, p, "b#1", idCol = "event_id")
    assert(estRows(p) == expected)
    SampleStore.append(late, p, "b#1", idCol = "event_id") // redelivery
    assert(estRows(p) == expected, "replayed append double-counted")
    SampleStore.compact(spark, p)
    assert(estRows(p) == expected, "compaction changed the answer")
    // day-2 scope: only day-2 sampled rows contribute
    val d2 = SampleStore.estimate(spark, p, Seq("etype"), "value",
        since = Some(Day)).agg(sum("n_sample")).head().getLong(0)
    val d2exp = memberIds.count(i => (i % 48) * Day / 24 >= Day).toLong
    assert(d2 == d2exp)
    // membership is uncorrelated sanity: sample is non-trivial
    assert(expected.map(_._2).sum > 0)
  }

  test("stratified: rare strata kept whole, big ones thinned; frozen " +
      "rate map on append; HT estimate matches brute force") {
    val df = ((0L until 600L).map(i => (i, (i % 2) * Day / 2, "big", 1.0))
      ++ (1000L until 1020L).map(i => (i, Day / 2, "small", 2.0)))
      .toDF("event_id", "ts", "g", "value")
    val p = SparkTestBase.tempDir("graft-aqp-strat") + "/store"
    SampleStore.buildStratified(df, p, "event_id", "g", minRows = 30,
      maxBits = 8)
    // big: 600 >= 30*2^4 -> bits=4 (1/16), and 600 < 30*2^5 stops the
    // ladder there; small: 20 < 60 -> bits=0 (keep ALL)
    val rows = spark.read.parquet(p)
    val rates = rows.select("g", "rate_den").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates == Map("big" -> 16L, "small" -> 1L))
    assert(rows.filter($"g" === "small").count() == 20)
    val bigKept = (0L until 600L).filter(i =>
      SparkTestBase.md5hex(i.toString).startsWith("0"))
    val est = SampleStore.open(spark, p).estimate(Seq("g"), "value")
      .orderBy("g").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n_sample"),
        r.getAs[Long]("est_count"), r.getAs[Long]("est_sum_cents"),
        r.getAs[Long]("est_var_cents2")))
    assert(est.toSeq == Seq(
      // keep-all strata carry ZERO sampling variance — the error bar
      // says so exactly
      ("big", bigKept.size.toLong, bigKept.size * 16L,
        bigKept.size * 100L * 16L, bigKept.size * 100L * 100L * 16L * 15L),
      ("small", 20L, 20L, 20L * 200L, 0L)))
    // append under the FROZEN map: stored 1/16 for big, keep-all for a
    // stratum the map never saw
    val batch = ((2000L until 2100L).map(i => (i, Day, "big", 1.0))
      ++ (3000L until 3005L).map(i => (i, Day, "new", 3.0)))
      .toDF("event_id", "ts", "g", "value")
    SampleStore.appendStratified(batch, p, "b1", "event_id")
    val rows2 = spark.read.parquet(p)
    assert(rows2.filter($"g" === "new").count() == 5)
    val bigKept2 = (2000L until 2100L).filter(i =>
      SparkTestBase.md5hex(i.toString).startsWith("0"))
    assert(rows2.filter($"g" === "big").count() ==
      bigKept.size + bigKept2.size)
    // a uniform append into a stratified store fails loudly
    val e = intercept[IllegalArgumentException] {
      SampleStore.append(batch, p, "b2", idCol = "event_id")
    }
    assert(e.getMessage.contains("STRATIFIED"))
  }

  test("estimateQuantile: HT-weighted quantile equals the replicated " +
      "brute-force multiset across strata") {
    // ONE group spanning two strata with different rates — the weighting
    // must bite: each kept big-stratum row stands in for 16 copies
    val df = ((0L until 600L).map(i => (i, 0L, "big", 1.0))
      ++ (1000L until 1020L).map(i => (i, 0L, "small", 9.0)))
      .toDF("event_id", "ts", "g", "value")
      .withColumn("grp", lit("all"))
    val p = SparkTestBase.tempDir("graft-aqp-q") + "/store"
    SampleStore.buildStratified(df, p, "event_id", "g", minRows = 30,
      maxBits = 8)
    val bigKept = (0L until 600L).count(i =>
      SparkTestBase.md5hex(i.toString).startsWith("0"))
    val multiset = Seq.fill(bigKept * 16)(100L) ++ Seq.fill(20)(900L)
    def qCont(xs: Seq[Long], prob: Double): Double = {
      val s = xs.sorted
      val pos = prob * (s.size - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < s.size) s(lo) * (1 - frac) + s(lo + 1) * frac
      else s(lo).toDouble
    }
    val r = SampleStore.open(spark, p)
      .estimateQuantile(Seq("grp"), "value", probs = Seq(0.5, 0.75, 0.99))
      .collect()(0)
    assert(r.getAs[Long]("n_sample") == bigKept + 20)
    assert(r.getAs[Double]("q50") == qCont(multiset, 0.5))
    assert(r.getAs[Double]("q75") == qCont(multiset, 0.75))
    // the tail quantile reaches the rare stratum's (fully kept) values
    assert(r.getAs[Double]("q99") == qCont(multiset, 0.99))
    assert(qCont(multiset, 0.99) > 100.0)
  }

  test("trimBelow: whole-day directory drops, idempotent, retained-window " +
      "estimates unchanged; sub-day cutoff rejected") {
    val p = SparkTestBase.tempDir("graft-aqp-trim") + "/store"
    SampleStore.build(events, p, idCol = "event_id") // spans 2 days
    def dayDirs = new java.io.File(p).listFiles()
      .count(_.getName.startsWith("__day="))
    def d2est = SampleStore.open(spark, p)
      .estimate(Seq("etype"), "value", since = Some(Day))
      .orderBy("etype").collect().toSeq
    assert(dayDirs == 2)
    val before = d2est
    SampleStore.trimBelow(spark, p, Day)
    assert(dayDirs == 1, "day-0 directory should be gone")
    assert(d2est == before, "retained-window estimate changed")
    SampleStore.trimBelow(spark, p, Day) // retry: idempotent no-op
    assert(dayDirs == 1 && d2est == before)
    val e = intercept[IllegalArgumentException] {
      SampleStore.trimBelow(spark, p, Day + 1)
    }
    assert(e.getMessage.contains("day-floor"))
  }

  test("guards: mixed rate, mixed id column, mixed ts column, absent " +
      "store all fail loudly") {
    val p = SparkTestBase.tempDir("graft-aqp-guard") + "/store"
    SampleStore.build(events, p, idCol = "event_id", bits = 4)
    val eRate = intercept[IllegalArgumentException] {
      SampleStore.append(events, p, "b#2", idCol = "event_id",
        bits = 8)
    }
    assert(eRate.getMessage.contains("mix rates"))
    val eCol = intercept[IllegalArgumentException] {
      SampleStore.append(events.withColumnRenamed("event_id", "eid")
        .withColumn("event_id", col("eid")), p, "b#3", idCol = "eid")
    }
    assert(eCol.getMessage.contains("membership function"))
    val eTs = intercept[IllegalArgumentException] {
      SampleStore.append(events.withColumn("ts2", col("ts")), p, "b#4",
        idCol = "event_id", tsCol = "ts2", bits = 4)
    }
    assert(eTs.getMessage.contains("time column"))
    // a snapshot validated, then an append at another rate: the listing
    // changed, so every later open validates again, and fails
    SampleStore.open(spark, p)
    SampleStore.append(events, p, "b#5", idCol = "event_id", bits = 8,
      validateRate = false)
    for (_ <- 1 to 2) {
      val eOpen = intercept[IllegalStateException](SampleStore.open(spark, p))
      assert(eOpen.getMessage.contains("MIXED rates"), eOpen.getMessage)
    }
    intercept[IllegalArgumentException] {
      SampleStore.estimate(spark, p + "-absent", Seq("etype"), "value")
    }
  }

  test("bit-level rates: a 1/8 store (bits = 3, not a power of 16) " +
      "matches the brute-force bit-prefix membership exactly") {
    val p = SparkTestBase.tempDir("graft-aqp-bits") + "/store"
    SampleStore.build(events, p, idCol = "event_id", bits = 3)
    // first 3 bits of md5 zero <=> first-8-hex-chars value < 2^29
    val kept = (0L until 400L).filter { i =>
      java.lang.Long.parseLong(
        SparkTestBase.md5hex(i.toString).substring(0, 8), 16) < (1L << 29)
    }
    val rows = spark.read.parquet(p)
    assert(rows.select("event_id").collect().map(_.getLong(0)).toSet ==
      kept.toSet)
    assert(rows.select("rate_den").distinct().head().getLong(0) == 8L)
    val total = SampleStore.estimate(spark, p, Seq("etype"), "value")
      .agg(sum("n_sample"), sum("est_count")).head()
    assert(total.getLong(0) == kept.size.toLong)
    assert(total.getLong(1) == kept.size * 8L)
  }

  test("stratified bit ladder: strata land within 2x of the minRows " +
      "evidence target instead of the hex ladder's 16x") {
    // 30*2^3=240 <= 250 < 480=30*2^4 -> bits=3 (rate 1/8): a rate the
    // hex-char ladder (16^p) could never pick
    val df = (0L until 250L).map(i => (i, 0L, "mid", 1.0))
      .toDF("event_id", "ts", "g", "value")
    val p = SparkTestBase.tempDir("graft-aqp-ladder") + "/store"
    SampleStore.buildStratified(df, p, "event_id", "g", minRows = 30,
      maxBits = 8)
    val rates = spark.read.parquet(p).select("rate_den").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(rates == Seq(8L))
  }

  test("null-stratum batches are rejected at append, mirroring build") {
    val df = (0L until 100L).map(i => (i, 0L, "g1", 1.0))
      .toDF("event_id", "ts", "g", "value")
    val p = SparkTestBase.tempDir("graft-aqp-nullstrat") + "/store"
    SampleStore.buildStratified(df, p, "event_id", "g", minRows = 10,
      maxBits = 4)
    val bad = Seq((9000L, 0L, null.asInstanceOf[String], 1.0))
      .toDF("event_id", "ts", "g", "value")
    val e = intercept[IllegalArgumentException] {
      SampleStore.appendStratified(bad, p, "b1", "event_id")
    }
    assert(e.getMessage.contains("null"))
  }

  test("open() rejects a stratified store with mixed per-stratum rates " +
      "(a mis-rated writer fails the read, never mis-scales it)") {
    val df = (0L until 200L).map(i => (i, 0L, "g1", 1.0))
      .toDF("event_id", "ts", "g", "value")
    val p = SparkTestBase.tempDir("graft-aqp-misrate") + "/store"
    SampleStore.buildStratified(df, p, "event_id", "g", minRows = 10,
      maxBits = 4)
    // simulate a mis-rated writer: rewrite one stored row's rate_den
    val rows = spark.read.parquet(p)
    rows.limit(1).withColumn("rate_den", lit(2L))
      .write.mode("append").partitionBy("__day").parquet(p)
    val e = intercept[IllegalStateException] {
      SampleStore.open(spark, p)
    }
    assert(e.getMessage.contains("MIXED rates within"))
  }

  test("estimateQuantile rejects probs colliding on rounded labels") {
    val p = SparkTestBase.tempDir("graft-aqp-qlabel") + "/store"
    SampleStore.build(events, p, idCol = "event_id")
    val e = intercept[IllegalArgumentException] {
      SampleStore.open(spark, p)
        .estimateQuantile(Seq("etype"), "value",
          probs = Seq(0.251, 0.2549))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("layout round-trip: v1/v2/v3 stores all open and estimate " +
      "identically; appends require a stamped tree; compact upgrades") {
    val base = SparkTestBase.tempDir("graft-aqp-layout")
    val p3 = base + "/v3"
    val p2 = base + "/v2"
    val p1 = base + "/v1"
    SampleStore.build(events, p3, idCol = "event_id")
    // v3 stamps the version on every row
    assert(spark.read.parquet(p3).select("layout_version").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(SampleStore.LayoutVersion))
    // rewrite as a v2 layout (round 12: ts_col, no layout_version) and
    // as a v1 layout (rounds 10-11: neither)
    spark.read.parquet(p3).drop("layout_version")
      .write.partitionBy("__day").parquet(p2)
    spark.read.parquet(p3).drop("layout_version").drop("ts_col")
      .write.partitionBy("__day").parquet(p1)
    for ((p, v) <- Seq((p1, 1), (p2, 2), (p3, 3))) {
      val h = SampleStore.open(spark, p)
      assert(h.tsCol == "ts", s"v$v store did not resolve ts_col")
      assert(estRows(p) == expected, s"v$v estimates diverged")
      // readers see the inferred version even on unstamped trees
      assert(h.rows.select("layout_version").distinct()
        .collect().map(_.getInt(0)).toSeq == Seq(v), s"v$v inference")
    }
    // appending stamped rows into an unstamped tree would give the
    // store per-file schemas (the serving read samples ONE footer) —
    // writers reject pre-v3 trees loudly instead
    for (p <- Seq(p1, p2)) {
      val e = intercept[IllegalStateException] {
        SampleStore.append(events.limit(0), p, "b#legacy",
          idCol = "event_id")
      }
      assert(e.getMessage.contains("compact"), e.getMessage)
    }
    // compact is the one-shot upgrade: merged-schema read, whole tree
    // rewritten at the current layout — appends then proceed
    for (p <- Seq(p1, p2)) {
      SampleStore.compact(spark, p)
      assert(spark.read.parquet(p).select("ts_col", "layout_version")
        .distinct().collect().map(r => (r.getString(0), r.getInt(1)))
        .toSeq == Seq(("ts", SampleStore.LayoutVersion)),
        s"compact did not stamp $p")
      assert(estRows(p) == expected, "upgrade changed the estimates")
      SampleStore.append(events.limit(0), p, "b#post", idCol = "event_id")
    }
    // and a MIXED tree (stamped files landed on an unstamped store
    // before the guard existed) repairs through the same merged-schema
    // compact: legacy rows' null self-descriptions fold onto the
    // defaults instead of poisoning the store
    val pm = base + "/mixed"
    spark.read.parquet(p3).drop("layout_version").drop("ts_col")
      .write.partitionBy("__day").parquet(pm)
    // land stamped files beside the unstamped ones: a byte-identical
    // replay of the base batch, so the read-side (id, batch_key) dedup
    // collapses the duplicate rows and only the SCHEMA mix is under test
    SampleStore.build(events, base + "/donor", idCol = "event_id")
    spark.read.parquet(base + "/donor")
      .write.mode("append").partitionBy("__day").parquet(pm)
    // on the MIXED tree the append guard must fail DETERMINISTICALLY:
    // it reads every file's footer (a directory read samples one, so it
    // used to pass or fail by listing order; a mergeSchema read unions,
    // so one stamped file would mask every unstamped sibling)
    val em = intercept[IllegalStateException] {
      SampleStore.append(events.limit(0), pm, "b#mix", idCol = "event_id")
    }
    assert(em.getMessage.contains("compact"), em.getMessage)
    SampleStore.compact(spark, pm)
    assert(spark.read.parquet(pm).select("ts_col", "layout_version")
      .distinct().collect().map(r => (r.getString(0), r.getInt(1)))
      .toSeq == Seq(("ts", SampleStore.LayoutVersion)))
    assert(estRows(pm) == expected, "mixed-tree repair changed estimates")
  }
}
