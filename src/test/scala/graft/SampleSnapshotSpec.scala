package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.storage.{RollupStore, SampleStore}

/** The pinned-handle SNAPSHOT contract (round-13 fix): `open(pin =
  * true)` serves the open-time store even when a same-session append
  * lands afterwards. A plain persist() of the directory read does NOT
  * give this — Spark's own writers refresh the file index of every
  * cached plan over the written path (`recacheByPath`), so the
  * "snapshot" silently went fresh whenever the cache entry survived
  * (and the round-12 wire test observed staleness only because an
  * unrelated failed prepare's unpersist had evicted the shared entry,
  * freezing the stale listing by accident — nondeterministic either
  * way). The pin now reads the explicit open-time file list, making the
  * snapshot a property of the PLAN: deterministic staleness, recompute-
  * safe on executor loss, appends visible exactly through the refresh
  * verb (re-open / re-prepare). */
class SampleSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val H = 3600L * 1000000000L

  private def mk(lo: Long, hi: Long) = (lo until hi).map { i =>
    (i, (i % 4) * H, if (i < 50) "hot" else "cold", 1.0)
  }.toDF("event_id", "ts", "band", "value")

  private def nOf(h: SampleStore.SampleHandle): Long =
    h.estimate(Seq("band"), "value").agg(sum("n_sample"))
      .head().getLong(0)

  test("uniform pinned handle serves the open-time snapshot across a " +
      "same-session append; a fresh open sees the growth") {
    val p = SparkTestBase.tempDir("graft-snap-u") + "/s"
    SampleStore.build(mk(0, 400), p, idCol = "event_id", bits = 1)
    val pinned = SampleStore.open(spark, p, pin = true)
    try {
      val n1 = nOf(pinned)
      SampleStore.append(mk(400, 800), p, "b2", idCol = "event_id",
        bits = 1)
      assert(nOf(pinned) == n1,
        "pinned handle must serve the open-time snapshot")
      // an UNPINNED handle reads latest; a re-open (the refresh verb)
      // sees the appended batch
      assert(nOf(SampleStore.open(spark, p)) > n1)
      // a warm unpinned open validates nothing again: no Spark job
      assert(SparkTestBase.countJobs(SampleStore.open(spark, p))._2 == 0)
      val reopened = SampleStore.open(spark, p, pin = true)
      try assert(nOf(reopened) > n1)
      finally reopened.close()
    } finally pinned.close()
  }

  test("stratified pinned handle holds its snapshot too, under the " +
      "frozen rate map") {
    val p = SparkTestBase.tempDir("graft-snap-s") + "/s"
    SampleStore.buildStratified(mk(0, 400), p, idCol = "event_id",
      stratumCol = "band", minRows = 30, maxBits = 8)
    val pinned = SampleStore.open(spark, p, pin = true)
    try {
      val n1 = nOf(pinned)
      SampleStore.appendStratified(mk(400, 800), p, "b2",
        idCol = "event_id")
      assert(nOf(pinned) == n1,
        "stratified pinned handle must serve the open-time snapshot")
      assert(nOf(SampleStore.open(spark, p)) > n1)
      // a warm unpinned open validates nothing again: no Spark job
      assert(SparkTestBase.countJobs(SampleStore.open(spark, p))._2 == 0)
    } finally pinned.close()
  }

  test("pin across compaction: a block-losing pinned handle FAILS " +
      "LOUDLY on recompute, never serves a silent mixture; re-open " +
      "re-prepares") {
    val p = SparkTestBase.tempDir("graft-snap-c") + "/s"
    SampleStore.build(mk(0, 400), p, idCol = "event_id", bits = 1)
    val pinned = SampleStore.open(spark, p, pin = true)
    try {
      val n1 = nOf(pinned)
      // a rewrite REPLACES the open-time files the pin's plan names.
      // Spark alone would NOT make this loud: the compact's write
      // triggers recacheByPath, which refreshes the explicit file-list
      // index, drops the deleted files with a listing WARN, and
      // recaches the pin as EMPTY — the handle would serve zeros
      // (observed before the round-14 guard; the estimate returned a
      // null sum, not an error). The inputFiles guard makes the next
      // estimate throw instead.
      SampleStore.compact(spark, p)
      val ex = intercept[IllegalStateException](nOf(pinned))
      assert(ex.getMessage.contains("refresh"), ex.getMessage)
      // same guard covers the executor-loss-after-compact case (blocks
      // gone, recompute over deleted files)
      pinned.rows.unpersist(blocking = true)
      val ex2 = intercept[IllegalStateException](nOf(pinned))
      assert(ex2.getMessage.contains("open-time files"), ex2.getMessage)
      // the refresh verb re-prepares over the compacted tree; the
      // compacted store holds the same logical rows
      val re = SampleStore.open(spark, p, pin = true)
      try assert(nOf(re) == n1) finally re.close()
    } finally pinned.close()
  }

  test("prepared sampled router: fine zoom stays on the open-time " +
      "sample; a re-prepare serves the appended batch") {
    val base = SparkTestBase.tempDir("graft-snap-r")
    val stP = base + "/store"
    val smP = base + "/sample"
    RollupStore.write(mk(0, 400), stP, H)
    SampleStore.build(mk(0, 400), smP, idCol = "event_id", bits = 1)
    val router = RollupStore.prepareSampled(spark, stP, smP)
    def n(r: RollupStore.SampledRouter): Long =
      r.route(0, 2 * H, 120).agg(sum("n_sample")).head().getLong(0)
    try {
      val n1 = n(router)
      SampleStore.append(mk(400, 800), smP, "b2", idCol = "event_id",
        bits = 1)
      assert(n(router) == n1,
        "prepared router must serve the open-time sample snapshot")
      val re = RollupStore.prepareSampled(spark, stP, smP)
      try assert(n(re) > n1) finally re.close()
    } finally router.close()
  }
}
