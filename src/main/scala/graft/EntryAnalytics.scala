package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.TimeNano
import graft.operators.TsOps
import graft.pipeline.{Dedup, Multimodal, Similarity, Text}
import graft.ql.Engine
import graft.storage.Tables
import graft.EntryFixtures._

/** The analytics / TPC-H-ish query family (join, agg, window, rollup
  * stores, counters, AQP, streaming twins of the ts tier). */
private[graft] object EntryAnalytics {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_downsample_1h" -> ((s, d) => {
      val ev = t(s, d, "events")
      // integer floor bucket, not floor(ts/b): Column `/` is double
      // division, and epoch-ns magnitudes round to ~256 ns before the
      // floor — a ts within that of a bucket boundary would bucket
      // differently than the oracle's integer arithmetic
      ev.groupBy(expr(TsOps.floorBucketSql("ts", BucketH)).as("bucket_ts"))
        .agg(count(lit(1)).as("n"), min("value").as("min_v"),
          max("value").as("max_v"), dsum(col("value")).as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "agg_downsample_gapfill" -> ((s, d) => {
      val day = 86400L * 1000000000L
      val ev = t(s, d, "events")
      val agg = ev.groupBy(expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(count(lit(1)).as("n"), min("value").as("min_v"),
          max("value").as("max_v"), dsum(col("value")).as("sum_v"))
      TsOps.fillGaps(agg, day, ns("2023-12-25"), ns("2024-02-05"))
        .orderBy("bucket_ts")
    }),
    "agg_hopping_24h_6h" -> ((s, d) =>
      // sliding 24h windows every 6h (4× overlap fan-out, combinable agg)
      TsOps.hoppingDownsample(t(s, d, "events"),
        24L * 3600 * 1000000000L, 6L * 3600 * 1000000000L, "value")
        .orderBy("window_start")),
    "ts_retention" -> ((s, d) =>
      // cohort retention matrix: users grouped by first-activity day,
      // distinct actives per (cohort day, day offset)
      TsOps.retention(tsUs(t(s, d, "events")), "user_id",
        dayNanos = 86400L * 1000000000L)
        .orderBy("cohort_day", "day_offset")),
    "ts_interval_join" -> ((s, d) => {
      // attribute purchases to 1h-gap sessions via the binned range join;
      // bin = 1h ≈ typical session length, so explode factor stays ~1-2
      val ev = tsUs(t(s, d, "events"))
      val sessions = TsOps.sessionize(ev.select("user_id", "ts"),
          3600L * 1000000000L, Seq("user_id"))
        .groupBy("user_id", "session_idx")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      TsOps.intervalJoin(purchases, sessions, Seq("user_id"),
          "session_start", "session_end", binNanos = 3600L * 1000000000L)
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("purchase_value"))
        .orderBy("user_id", "session_idx")
    }),
    "ts_heatmap" -> ((s, d) =>
      // dow × hour activity matrix (UTC, integer epoch arithmetic)
      TsOps.heatmap(tsUs(t(s, d, "events"))).orderBy("dow", "hour")),
    "ts_concurrency" -> ((s, d) => {
      // concurrent-session load curve: sessions sampled at hour ticks —
      // the intervalJoin reused keyless (grid has no user), with a
      // distributed spark.range grid, never a driver-side tick array
      val hour = 3600L * 1000000000L
      val ev = tsUs(t(s, d, "events"))
      val sess = TsOps.sessionize(ev.select("user_id", "ts"), hour,
          Seq("user_id"))
        .groupBy("user_id", "session_idx")
        .agg(min("ts").as("s"), max("ts").as("e"))
        .select("s", "e")
      val grid = s.range(ns("2023-12-25") / hour, ns("2024-02-05") / hour)
        .select((col("id") * hour).as("ts"))
      TsOps.intervalJoin(grid, sess, Nil, "s", "e", binNanos = hour)
        .groupBy("ts").agg(count(lit(1)).as("n_active"))
        .orderBy("ts")
    }),
    "agg_value_quantiles" -> ((s, d) =>
      // exact dyadic quartiles of value CENTS per event type — integer
      // inputs + p ∈ {.25, .5, .75} make the interpolation bit-exact
      // (the text_length_quantiles discipline on the events table)
      tsUs(t(s, d, "events"))
        .select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .filter(col("c").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("percentile(c, 0.25)").as("p25"),
          expr("percentile(c, 0.5)").as("p50"),
          expr("percentile(c, 0.75)").as("p75"))
        .orderBy("event_type")),
    "ts_event_features" -> ((s, d) => {
      // ML feature extraction: each event with its sequence context —
      // previous/next type and gaps, per-user ordinal — one window over
      // the (ts, event_id) total order, no self-joins
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      tsUs(t(s, d, "events"))
        .select("event_id", "ts", "user_id", "event_type")
        .withColumn("seq_idx", row_number().over(w).cast("long"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("gap_prev", col("ts") - lag(col("ts"), 1).over(w))
        .withColumn("gap_next", lead(col("ts"), 1).over(w) - col("ts"))
        .orderBy("event_id")
    }),
    "ts_transitions" -> ((s, d) =>
      // event-type transition matrix per user sequence ((ts, event_id)
      // total order) — the session-flow Markov substrate
      TsOps.transitions(
        tsUs(t(s, d, "events"))
          .select("user_id", "ts", "event_id", "event_type"),
        Seq("user_id"), "event_type", Seq("ts", "event_id"))
        .orderBy("from_type", "to_type")),
    "ts_counter_increase" -> ((s, d) =>
      // reset-aware counter semantics (PromQL increase()/resets() over
      // raw samples): per-user daily delta sums in exact cents, a value
      // drop counts the post-reset value — the monitoring-counter read
      // of a sampled series
      TsOps.counterIncrease(
        tsUs(t(s, d, "events")).select("user_id", "ts", "event_id", "value"),
        Seq("user_id"), 86400L * 1000000000L)
        .orderBy("user_id", "bucket")),
    "rollup_counter_store" -> ((s, d) => {
      // the counter recording rule AT REST with the full store lifecycle:
      // hourly increase rows land as a base write plus a batch-keyed
      // append PLUS that append replayed (at-least-once redelivery), and
      // the daily read still equals the direct pass — replay dedup +
      // additive partial merges + compaction, the rollup-store discipline
      // on the monitoring-counter tier (shares ts_counter_increase's
      // oracle). Deltas land in the observing sample's bucket, so one
      // counterIncrease pass feeds arbitrary append splits losslessly.
      graft.storage.CounterStore.read(s, counterStore1h(s, d),
          factor = 24L)
        .orderBy("user_id", "bucket")
    }),
    "rollup_counter_tiered" -> ((s, d) => {
      // the cutoff-keyed coarsening tier: pre-Jan-10 hourly buckets fold
      // 24x into a daily store under the deterministic tier-<cutoff> key
      // (run TWICE — the retry collapses in the replay dedup), the fine
      // store trims by whole-day directory drops, and the stitched daily
      // read equals the never-tiered direct pass (same shared oracle)
      val (fineP, coarseP) = counterTierPaths(s, d)
      graft.storage.CounterStore.readTiered(s, fineP, coarseP,
          factor = 24L)
        .orderBy("user_id", "bucket")
    }),
    "rollup_counter_route" -> ((s, d) => {
      // budget routing on the counter tier: the month-wide 40-point
      // budget clamps to the daily coarse tier below its horizon, the
      // hourly fine store folds 24x above it, and the stitched indexes
      // telescope to the direct daily pass (shares ts_counter_increase's
      // oracle plus the grain/source contract)
      val (fineP, coarseP) = counterTierPaths(s, d)
      graft.storage.CounterStore.route(s, fineP, Some(coarseP),
          ns("2024-01-01"), ns("2024-01-31"), maxPoints = 40)
        .orderBy("user_id", "bucket")
    }),
    "stream_counter_store" -> ((s, d) => {
      // the counter store MAINTAINED BY the stream: cross-batch lag in
      // the state store (one long per series), per-batch increase rows
      // appended under replay-stable keys — the rollupIngest discipline
      // on the counter tier; the daily read over the streamed store
      // equals the batch recording rule (shares ts_counter_increase's
      // oracle)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-sctr-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "store").getPath
      val src = eventStream(s, d)
      val qy = graft.streaming.StreamIngest.counterIngest(src, p,
        new java.io.File(base, "ck").getPath, 3600L * 1000000000L,
        trigger = org.apache.spark.sql.streaming.Trigger.Once())
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_counter_store: ingest did not finish")
      }
      graft.storage.CounterStore.read(s, p, factor = 24L)
        .orderBy("user_id", "bucket")
    }),
    "aqp_event_stats" -> ((s, d) => {
      // approximate query processing from the deterministic at-rest
      // sample tier (1/32 by md5 bit-prefix membership — a rate the old
      // hex ladder could not express): grouped counts and cents sums
      // estimated as sample-aggregate × 32 — an exact integer scale-up
      // of a reproducible sample, so the ESTIMATES themselves hash-match
      // the DuckDB mirror (which re-derives the same sample from raw).
      // The store behind it is built + appended + REPLAY-appended +
      // compacted: the estimate sees each sampled row exactly once
      // through the whole lifecycle
      graft.storage.SampleStore.estimate(s, aqpStorePath(s, d),
          Seq("event_type"), "value")
        .orderBy("event_type")
    }),
    "aqp_window" -> ((s, d) => {
      // time-scoped estimates: the [since, until) scope prunes whole
      // __day directories off the sample scan before the aggregate
      // (PlanAuditSpec pins the PartitionFilters) — at 100 TB a
      // ten-day-window estimate reads ten days of the 1/16 sample,
      // not the store
      graft.storage.SampleStore.open(s, aqpStorePath(s, d))
        .estimate(Seq("event_type"), "value",
          since = Some(ns("2024-01-10")), until = Some(ns("2024-01-20")))
        .orderBy("event_type")
    }),
    "aqp_stratified" -> ((s, d) => {
      // STRATIFIED AQP (the BlinkDB observation): the exponential
      // value-band strata (~8.7k/1.1k/150/22/1 at sf0.01) keep almost no
      // tail evidence at a uniform 1/16 — per-stratum rates freeze at
      // build so every band keeps >= minRows expected rows (rare bands
      // keep ALL), and the Horvitz-Thompson estimate stays exact
      // integer: the oracle re-derives the identical rate map from the
      // same raw counts and hash-matches every estimate
      graft.storage.SampleStore.open(s, aqpStratifiedPath(s, d))
        .estimate(Seq("band"), "value")
        .orderBy("band")
    }),
    "aqp_retained" -> ((s, d) => {
      // retention on the sample tier: the trim drops whole day
      // directories below the cutoff (run TWICE — idempotent), and
      // estimates over the retained window equal the windowed oracle —
      // a sample outliving the raw table's retention estimates nothing
      // a query may legally read
      val cutoff = ns("2024-01-10")
      val p = modelStorePaths.computeIfAbsent(d + "#aqpr", _ => {
        val sp = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-aqpr-$processId-${dirTag(d)}").getPath
        graft.storage.SampleStore.build(t(s, d, "events"), sp,
          idCol = "event_id")
        graft.storage.SampleStore.trimBelow(s, sp, cutoff)
        graft.storage.SampleStore.trimBelow(s, sp, cutoff) // retry: no-op
        sp
      })
      graft.storage.SampleStore.open(s, p)
        .estimate(Seq("event_type"), "value", since = Some(cutoff))
        .orderBy("event_type")
    }),
    "stream_aqp_stratified" -> ((s, d) => {
      // the STRATIFIED sample tier maintained by the stream: rates
      // freeze on the seed half-month at build (the BlinkDB offline
      // plan), micro-batches of the second half sample themselves under
      // the FROZEN map — strata the seed never saw keep ALL their rows
      // (the rare-band tail at sf0.01 exercises exactly that path) —
      // and the oracle re-derives the seed-frozen map + keep-all
      // fallback from raw, hash-matching every estimate
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-saqps-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "store").getPath
      val split = ns("2024-01-16")
      val bandExpr = expr("cast(floor(value / 100) as long)")
      val ev = t(s, d, "events").withColumn("band", bandExpr)
      graft.storage.SampleStore.buildStratified(
        ev.filter(col("ts") < split), p, idCol = "event_id",
        stratumCol = "band", minRows = 50L, maxBits = 8)
      val src = eventStream(s, d)
        .withColumn("band", bandExpr)
        .filter(col("ts") >= split) // batches PARTITION the source
      val qy = graft.streaming.StreamIngest.sampleIngestStratified(src,
        p, new java.io.File(base, "ck").getPath, idCol = "event_id")
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_aqp_stratified: ingest did not finish")
      }
      graft.storage.SampleStore.open(s, p)
        .estimate(Seq("band"), "value")
        .orderBy("band")
    }),
    "aqp_quantiles" -> ((s, d) => {
      // quantile ESTIMATES from the stratified sample, grouped by a
      // DIFFERENT axis than the strata — each event_type group spans
      // value bands with different rates, so the Horvitz-Thompson
      // weighting genuinely bites: percentile(c, p, rate_den) is the
      // exact percentile of the multiset where each row repeats its
      // inverse inclusion probability, and the oracle reproduces it by
      // literally replicating the sampled rows
      graft.storage.SampleStore.open(s, aqpStratifiedPath(s, d))
        .estimateQuantile(Seq("event_type"), "value")
        .orderBy("event_type")
    }),
    "aqp_error_report" -> ((s, d) => {
      // the honesty artifact an AQP surface must show beside every
      // estimate: per group, sampled estimate vs exact count and the
      // integer-permille error — both engines compute both sides, so the
      // report itself is exactly mirrored (at 100 TB the exact side is
      // the once-a-day audit; the estimate is the interactive path)
      val exact = t(s, d, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n_exact"))
      graft.storage.SampleStore.estimate(s, aqpStorePath(s, d),
          Seq("event_type"), "value")
        .select("event_type", "est_count")
        .join(exact, "event_type")
        .withColumn("err_permille",
          expr("abs(est_count - n_exact) * 1000 div n_exact"))
        .orderBy("event_type")
    }),
    "rollup_route_aqp" -> ((s, d) => {
      // the two serving tiers COMPOSED — the actual dashboard contract
      // at 100 TB (coarse-first, error-bounded drill-in): a 1440-point
      // budget over one day fits a 1-minute grain, finer than the
      // stored 1h buckets, so the budget beats every exact tier and the
      // router answers from the 1/32 sample store with source="sample",
      // rate_den, and the HT variance bar riding the columns — where
      // route() would have re-aggregated the raw table. The oracle
      // re-derives the same sample and buckets it identically, so the
      // routed ESTIMATES hash-match
      graft.storage.RollupStore.routeSampled(s, rollupStore1h(s, d),
          aqpStorePath(s, d), ns("2024-01-05"), ns("2024-01-06"),
          maxPoints = 1440)
        .orderBy("bucket_ts")
    }),
    "rollup_route_aqp_keyed" -> ((s, d) => {
      // the KEYED router composed with the sample tier: "one series,
      // zoomed" at a finer-than-stored grain — the key predicate prunes
      // the sampled scan BEFORE the aggregate (route()'s key-pushdown
      // contract on the sampled path) and the fine zoom serves
      // per-series HT estimates carrying the same key columns the exact
      // keyed store path emits
      // month span / 1488 points = exactly a 30-minute grain, finer
      // than the stored hour — the sampled path, with enough sampled
      // click evidence at every test scale
      graft.storage.RollupStore.routeSampled(s, keyedStore1h(s, d),
          aqpStorePath(s, d), ns("2024-01-01"), ns("2024-02-01"),
          maxPoints = 1488,
          keyFilter = Some(col("event_type") === "click"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_route_aqp_stratified" -> ((s, d) => {
      // the keyed routed fine zoom over a STRATIFIED sample store: the
      // strata are value bands with frozen per-stratum rates, so one
      // 30-minute bucket mixes rows carrying DIFFERENT rate_den — the
      // Horvitz-Thompson weighting genuinely bites (rare bands ride at
      // bits = 0, rate 1, contributing zero variance; dense bands thin
      // and scale up) and the bucket's rate_den label is the coarsest
      // contributing rate, not a constant. The oracle re-derives the
      // frozen stratum→rate map from raw (the same 2× ladder) and
      // hash-matches every estimate
      graft.storage.RollupStore.routeSampled(s, keyedStore1h(s, d),
          aqpStratifiedPath(s, d), ns("2024-01-01"), ns("2024-02-01"),
          maxPoints = 1488,
          keyFilter = Some(col("event_type") === "click"))
        .orderBy("event_type", "bucket_ts")
    }),
    "stream_aqp_ingest" -> ((s, d) => {
      // the sample tier MAINTAINED BY the stream: membership is a pure
      // function of the row id (zero state), micro-batches append their
      // survivors under replay-stable keys, and estimates from the
      // streamed store equal the one-shot batch build (shared
      // aqp_event_stats oracle)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-saqp-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "store").getPath
      val qy = graft.streaming.StreamIngest.sampleIngest(eventStream(s, d),
        p, new java.io.File(base, "ck").getPath, idCol = "event_id",
        bits = 5)
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_aqp_ingest: ingest did not finish")
      }
      graft.storage.SampleStore.estimate(s, p, Seq("event_type"), "value")
        .orderBy("event_type")
    }),
    "ts_gaps" -> ((s, d) =>
      // per-user inter-event gap stats (ingest-cadence profiling)
      TsOps.gapStats(tsUs(t(s, d, "events")).select("user_id", "ts"),
        Seq("user_id")).orderBy("user_id")),
    "ts_funnel" -> ((s, d) => {
      // conversion funnel view→click→purchase per user, closing within
      // 7 days of the first view; greedy earliest-first stage matching
      val ev = tsUs(t(s, d, "events"))
        .select("user_id", "ts", "event_type")
      TsOps.funnel(ev, Seq("user_id"), Seq("view", "click", "purchase"),
        withinNanos = 7L * 86400 * 1000000000L)
        .orderBy("user_id")
    }),
    "ts_zscore_anomaly" -> ((s, d) => {
      // alerting: points > 2σ from their user's trailing-7d mean over
      // windows of ≥ 10 points; the z-test is an exact integer
      // comparison on cents, so the flag set hash-matches SQL
      val ev = tsUs(t(s, d, "events"))
        .select("event_id", "ts", "user_id", "value")
      TsOps.zscoreAnomalies(ev, 7L * 86400 * 1000000000L, "value",
        Seq("user_id"), k = 2, minN = 10)
        .select("event_id", "ts", "user_id", "value", "roll_n", "lhs", "rhs")
        .orderBy("event_id")
    }),
    "ts_mad_anomaly" -> ((s, d) =>
      // robust outliers: |x − median| > 3·MAD per user, decided by the
      // exact integer comparison on doubled/quadrupled cent units
      TsOps.madAnomalies(
        tsUs(t(s, d, "events"))
          .select("event_id", "ts", "user_id", "value"),
        "value", Seq("user_id"), k = 3, minN = 10)
        .select("event_id", "ts", "user_id", "value", "med2", "dev2", "mad4")
        .orderBy("event_id")),
    "ts_seasonal_anomaly" -> ((s, d) =>
      // calendar-shaped alerting: points > 2σ from their OWN seasonal cell
      // (dow × hour) mean — one 168-row profile agg + broadcast join, no
      // window; the residual test is exact integer algebra on cents
      TsOps.seasonalAnomalies(t(s, d, "events"), "value", k = 2, minN = 10)
        .select("event_id", "ts", "dow", "hour", "cell_n", "value")
        .orderBy("event_id")),
    "ts_paa_symbols" -> ((s, d) =>
      // per-user PAA over 6h segments + quantile-SAX symbol (alphabet 4);
      // symbols assigned by ntile over IEEE-exact mean ordering, so the
      // (user, segment) → symbol map is engine-identical
      TsOps.paaSymbols(t(s, d, "events"), Seq("user_id"),
          6L * 3600 * 1000000000L, alphabet = 4)
        .select(col("user_id"), col("seg"), col("seg_n"), col("seg_sum"),
          col("symbol").cast("long").as("symbol"))
        .orderBy("user_id", "seg")),
    "ts_sax_words" -> ((s, d) =>
      // one SAX word per user: activity-shape fingerprint; equal words
      // across users = behaviorally similar series, found by GROUP BY —
      // the SimHash pigeonhole applied to time series
      TsOps.saxWords(t(s, d, "events"), Seq("user_id"),
          6L * 3600 * 1000000000L, alphabet = 4)
        .select("user_id", "word", "n_segments")
        .orderBy("user_id")),
    "ts_ewma" -> ((s, d) =>
      // integer EWMA (α = 1/16) per user in one sorted partition pass;
      // the floor-division recurrence is engine-defined, so a DuckDB
      // recursive CTE reproduces every scaled state bit-for-bit
      graft.operators.RecurrenceOps.ewma(t(s, d, "events"), Seq("user_id"),
          alphaLog2 = 4)
        .select(col("user_id"), col("ts"), col("id").as("event_id"),
          col("cents"), col("ewma_num"), col("ewma_cents"))
        .orderBy("user_id", "ts", "event_id")),
    "ts_holt" -> ((s, d) =>
      // level+trend smoothing (α=1/8, β=1/16, 2^20 fixed point) with the
      // one-step forecast — the recurrence tier's forecasting member;
      // every division floors, so the recursive CTE reproduces all state
      graft.operators.RecurrenceOps.holt(t(s, d, "events"), Seq("user_id"))
        .select(col("user_id"), col("ts"), col("id").as("event_id"),
          col("cents"), col("level_num"), col("trend_num"), col("fc1_cents"))
        .orderBy("user_id", "ts", "event_id")),
    "ts_cusum" -> ((s, d) =>
      // two-sided integer CUSUM drift detector per user (target 50.00,
      // slack 5.00, threshold 200.00), sequential state in the same
      // sorted-fold tier; alarms reset the statistic (page test)
      graft.operators.RecurrenceOps.cusum(t(s, d, "events"), Seq("user_id"),
          targetCents = 5000L, slackCents = 500L, thresholdCents = 20000L)
        .select(col("user_id"), col("ts"), col("id").as("event_id"),
          col("cents"), col("s_pos"), col("s_neg"), col("alarm"))
        .orderBy("user_id", "ts", "event_id")),
    "text_compress_ratio" -> ((s, d) =>
      // entropy-class quality signal. raw_bytes (UTF-8 length) is
      // VALUE-oracled; the DEFLATE output itself is zlib-implementation-
      // defined (see Scaladoc), so the oracle-facing view carries
      // ratio_ok — an in-plan bounds gate (compressed within (0,
      // raw + 64], ratio in sane basis points) — instead of raw zlib
      // bytes, the approx-sketch convention
      // the ratio band only applies past a raw-size floor: DEFLATE's ~8
      // constant overhead bytes push ratio_bps over any fixed band for
      // docs shorter than ~9 UTF-8 bytes, so tiny docs are gated on the
      // absolute comp_bytes bound alone (corpus-independent either way)
      Text.compressionRatio(t(s, d, "documents"), "doc_id", "text")
        .filter(col("raw_bytes").isNotNull) // empty/null text, like oracle
        .select(col("doc_id"), col("raw_bytes"),
          (col("comp_bytes") > 0 &&
            col("comp_bytes") <= col("raw_bytes") + 64 &&
            (col("raw_bytes") < 16L ||
              col("ratio_bps").between(1L, 12000L)))
            .cast("long").as("ratio_ok"))
        .orderBy("doc_id")),
    "dedup_containment" -> ((s, d) =>
      // asymmetric quote/subset detection: pairs where >= 60% of EITHER
      // side's shingles appear in the other — catches the embedded-
      // paragraph case symmetric jaccard structurally misses
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.6)
        .orderBy("id1", "id2")),
    "dedup_fuzzy_pairs" -> ((s, d) =>
      // typo-grade near-dup: pairs whose normalized 40-char prefix keys
      // are within edit distance 1, via SymSpell deletion-neighborhood
      // blocking (complete recall, no all-pairs) + levenshtein verify.
      // The oracle is the INDEPENDENT brute-force all-pairs scan
      Dedup.fuzzyPairs(t(s, d, "documents"), "doc_id", "text", keyLen = 40)
        .orderBy("doc_a", "doc_b")),
    "sketch_overlap" -> ((s, d) => {
      // cross-source vocabulary overlap from at-rest HLL sketches: exact
      // per-pair intersections are VALUE-oracled; est_ok gates the
      // inclusion-exclusion estimate within 8% of the exact union (the
      // error scale inclusion-exclusion actually has)
      val docs = t(s, d, "documents")
      val est = Text.tokenOverlapSketch(docs, "text", "lang")
      val tok = docs.select(col("lang"),
        explode(Text.tokens(col("text"))).as("tok")).distinct()
      val exact = tok.select(col("lang").as("group_a"), col("tok"))
        .join(tok.select(col("lang").as("group_b"), col("tok")), "tok")
        .filter(col("group_a") < col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(count(lit(1)).as("n_int"))
      val perLang = tok.groupBy("lang")
        .agg(count(lit(1)).as("n_distinct"))
      est.join(exact, Seq("group_a", "group_b"))
        .join(perLang.select(col("lang").as("group_a"),
          col("n_distinct").as("__na")), "group_a")
        .join(perLang.select(col("lang").as("group_b"),
          col("n_distinct").as("__nb")), "group_b")
        // 8% of the exact union, with an absolute floor of 4: at small
        // unions the relative bound collapses below HLL's integer
        // discretization and the gate would flip on a ±1 estimate —
        // corpus-independent where a bare percentage is not
        .select(col("group_a"), col("group_b"), col("n_int"),
          (abs(col("est_intersect") - col("n_int")) <=
            greatest(
              (col("__na") + col("__nb") - col("n_int")) * 0.08,
              lit(4.0)))
            .cast("long").as("est_ok"))
        .orderBy("group_a", "group_b")
    }),
    "graph_pagerank" -> ((s, d) => {
      // link authority over the bidirectional customer↔supplier trade
      // graph (node ids disambiguated by parity); 3 integer supersteps,
      // every arithmetic step a floor division the unrolled SQL oracle
      // reproduces exactly
      val pairs = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.GraphOps.pageRank(edges, iters = 3)
        .orderBy("node")
    }),
    "graph_triangles" -> ((s, d) => {
      // clustering density of the part co-purchase graph (parts linked
      // when one order contains both — per-order pair fan-out is bounded
      // by order size, never corpus²); the oracle counts the same
      // triangles via the ORDER-INDEPENDENT a<b<c three-join, so it
      // validates the degree-ordered orientation independently
      val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      // pair enumeration via per-order sorted part arrays: ONE groupBy
      // shuffle (the equivalent self-join shuffles both sides and joins),
      // fan-out still bounded by order size — measured 14% off the whole
      // row at sf0.1; the un-distincted pair stream feeds triangles'
      // single normalize+distinct as before
      val pairs = li.groupBy("l_orderkey")
        .agg(array_sort(collect_set("l_partkey")).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(" +
            "slice(ps, i + 2, greatest(size(ps) - i - 1, 0)), " +
            "y -> struct(x as src, y as dst))))")).as("e"))
        .select(col("e.src"), col("e.dst"))
      graft.operators.GraphOps.triangles(pairs)
    }),
    "ts_tolerance_join" -> ((s, d) => {
      // symmetric temporal correlation: clicks within ±1h of each error
      // by the same user — planned as a hash equi-join on (user, tol
      // bucket) with 3× left fan-out, never the nested loop the raw theta
      // predicate would force
      val ev = t(s, d, "events")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      TsOps.toleranceJoin(errs, clicks, 3600L * 1000000000L, Seq("user_id"))
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts").as("err_ts"), col("r_event_id").as("clk_id"),
          col("r_ts").as("clk_ts"),
          (col("r_ts") - col("ts")).as("delta_ns"))
        .orderBy("user_id", "err_id", "clk_id")
    }),
    "ts_path_trigrams" -> ((s, d) => {
      // top 3-step behavioral paths: two lead windows in the per-user
      // (ts, id) total order, then one combinable count over the ≤|types|³
      // path space — output is metadata-sized at any event volume
      val w = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      t(s, d, "events").select("user_id", "ts", "event_id", "event_type")
        .withColumn("t2", lead("event_type", 1).over(w))
        .withColumn("t3", lead("event_type", 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("t2").as("s2"),
          col("t3").as("s3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
        .limit(20)
    }),
    "graph_kcore" -> ((s, d) => {
      // the 30-core of the customer↔supplier trade graph: peeling drops
      // the loosely-attached fringe (few trade links) and keeps the
      // densely-inter-linked core — convergence is data-verified: the
      // oracle unrolls 6 peel rounds (no-ops past the fixpoint)
      val pairs = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(
          least(col("o_custkey") * 2, col("l_suppkey") * 2 + 1).as("src"),
          greatest(col("o_custkey") * 2, col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // maxRounds pinned to the oracle's unroll depth: convergence in
      // <= 6 rounds is the invariant the oracle equality needs, so a
      // 7-round graph must fail HERE, not surface as an oracle mismatch
      graft.operators.GraphOps.kCore(pairs, k = 30, maxRounds = 6)
    }),
    "rollup_store_daily" -> ((s, d) => {
      // continuous-aggregate routing: daily stats answered from the
      // at-rest 1h rollup store alone — the oracle aggregates the RAW
      // table, so equality proves the store's partials compose exactly
      val day = 86400L * 1000000000L
      graft.storage.RollupStore.rollup(s, rollupStore1h(s, d), day)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "rollup_route" -> ((s, d) => {
      // the dashboard contract: a 30-day range under a 40-point budget
      // routes to the STORE at the derived 19h grain (the budget applies
      // to the outward-WIDENED bounds, so 18h's 41 whole buckets re-derive
      // to 19h's 39) — the oracle re-derives the same grain over raw, so
      // equality proves the routing arithmetic, the widened-budget
      // contract, and the store's composition at a non-day grain
      graft.storage.RollupStore.route(s, rollupStore1h(s, d),
          t(s, d, "events"), ns("2024-01-01"), ns("2024-01-31"),
          maxPoints = 40, distinctCol = Some("user_id"),
          histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("bucket_ts")
    }),
    "rollup_tiered_scan" -> ((s, d) => {
      // the retention-policy read path: half the month was tiered off
      // (raw trimmed, 1h rollups kept), yet the stitched daily aggregate
      // equals the raw-table oracle exactly — tier ranges are disjoint
      // whole buckets, so the merge is the same associative fold
      val (rawP, stP) = tieredEvents(s, d)
      graft.storage.RollupStore.tieredRollup(s, rawP, stP,
          86400L * 1000000000L, distinctCol = Some("user_id"),
          histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "rollup_route_tiered" -> ((s, d) => {
      // the round-8 composition gap, closed: a dashboard zooms into the
      // whole month at a budget demanding finer-than-stored grain, but
      // the first half was tiered off — the router CLAMPS to the stored
      // 1h grain and stitches store+raw instead of silently serving only
      // the post-horizon raw remnant; the oracle aggregates the
      // NEVER-tiered table at that grain, so equality proves the routed
      // answer is complete
      val (rawP, stP) = tieredEvents(s, d)
      graft.storage.RollupStore.route(s, stP, s.read.parquet(rawP),
          ns("2024-01-01"), ns("2024-01-31"), maxPoints = 2000,
          distinctCol = Some("user_id"), histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("bucket_ts")
    }),
    "rollup_tiered_users" -> ((s, d) => {
      // distinct users per day over the TIERED layout: the store's HLL
      // sketches (pre-horizon) union with raw-side sketches (post-
      // horizon) — the same associative union compaction uses — so the
      // estimate survives tiering; gated against the exact count with
      // the rollup_store_users rank-error bound (lgK=12 ⇒ 3σ rse ≈ 4.9%)
      val day = 86400L * 1000000000L
      val (rawP, stP) = tieredEvents(s, d)
      val st = graft.storage.RollupStore.tieredRollup(s, rawP, stP, day,
          distinctCol = Some("user_id"), histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"), col("distinct_est"))
      val exact = t(s, d, "events")
        .groupBy(expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(countDistinct("user_id").as("__exact"))
      st.join(exact, "bucket_ts")
        .select(col("bucket_ts"), col("n"),
          (abs(col("distinct_est") - col("__exact")).cast("double") <=
            greatest(col("__exact") * 0.05, lit(4.0)))
            .cast("long").as("hll_ok"))
        .orderBy("bucket_ts")
    }),
    "rollup_tiered_p90" -> ((s, d) => {
      // p90 per day over the TIERED layout: stored hourly counter arrays
      // (pre-horizon) vector-add with raw-side counters (post-horizon)
      // into exactly the daily counts a direct pass builds — integer-
      // exact, so this shares rollup_store_p90's value oracle
      val day = 86400L * 1000000000L
      val (rawP, stP) = tieredEvents(s, d)
      val st = graft.storage.RollupStore.tieredRollup(s, rawP, stP, day,
        distinctCol = Some("user_id"), histBoundsCents = HistBounds)
      val counts = graft.storage.RollupStore.histogramCounts(st, HistBounds,
        Seq("bucket_ts"))
      TsOps.histogramQuantileFromCounts(counts, Seq("bucket_ts"),
          HistBounds, qNum = 90L, qDen = 100L)
        .orderBy("bucket_ts")
    }),
    "rollup_cascade_daily" -> ((s, d) => {
      // three-tier retention cascade (raw → 1h → 1d, the "full resolution
      // for a week, hourly for a year, daily forever" policy), with the
      // middle tier COMPACTED after cascading — the stitched daily
      // aggregate still equals the raw-table oracle, proving the per-tier
      // horizon windows partition the timeline exactly and the horizon
      // survives compaction's batch-key rewrite
      val day = 86400L * 1000000000L
      val (rawP, stH, stD) = cascadeEvents(s, d)
      graft.storage.RollupStore.cascadeRollup(s, rawP, Seq(stH, stD), day,
          distinctCol = Some("user_id"), histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "rollup_cascade_route" -> ((s, d) => {
      // budget routing over the THREE-tier cascade: a fine budget over
      // the whole month touches the daily tier, so the grain clamps to
      // 1d — the finest resolution every touched tier can serve — and
      // the stitched answer equals the never-tiered table at that grain
      val (rawP, stH, stD) = cascadeEvents(s, d)
      graft.storage.RollupStore.routeCascade(s, rawP, Seq(stH, stD),
          ns("2024-01-01"), ns("2024-01-31"), maxPoints = 2000,
          distinctCol = Some("user_id"), histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("bucket_ts")
    }),
    "rollup_cascade_users" -> ((s, d) => {
      // distinct users per day across THREE tiers: the daily store's
      // sketches were union-folded twice (tierOff, then tierOffStore) and
      // still cover exactly the per-day hash sets — same gate as
      // rollup_store_users
      val day = 86400L * 1000000000L
      val (rawP, stH, stD) = cascadeEvents(s, d)
      val st = graft.storage.RollupStore.cascadeRollup(s, rawP,
          Seq(stH, stD), day, distinctCol = Some("user_id"),
          histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"), col("distinct_est"))
      val exact = t(s, d, "events")
        .groupBy(expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(countDistinct("user_id").as("__exact"))
      st.join(exact, "bucket_ts")
        .select(col("bucket_ts"), col("n"),
          (abs(col("distinct_est") - col("__exact")).cast("double") <=
            greatest(col("__exact") * 0.05, lit(4.0)))
            .cast("long").as("hll_ok"))
        .orderBy("bucket_ts")
    }),
    "ql_retained_metrics" -> ((s, d) => {
      // the DIALECT surface over a retention-managed metrics table: the
      // engine queries the day-trimmed block tree exactly as it would the
      // full one — an above-horizon range answers identically to the
      // pristine table (the oracle), proving the reference's query
      // surface composes with the retention tier
      val (db, _) = retainedMetricsDb(s, d)
      tsUs(engine(s, db)
        .frame("select * from events where ts >= '2024-01-20'"))
        .orderBy("ts", "event_id")
    }),
    "rollup_metrics_history" -> ((s, d) => {
      // ...and the aged-off history is still served: the stitched daily
      // read over the SAME trimmed metrics table plus its hourly history
      // store equals the raw-table oracle over the full span
      val day = 86400L * 1000000000L
      val (db, stH) = retainedMetricsDb(s, d)
      val rawP = new java.io.File(db, "events").getPath
      graft.storage.RollupStore.tieredRollup(s, rawP, stH, day)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "rollup_metrics_route" -> ((s, d) => {
      // budget routing over the DIALECT's own retained table: the
      // __day-block metrics tree (trimmed by applyRetention) plus its
      // hourly history store serve a month-wide budget — the grain clamps
      // to the stored hour over the aged range and the answer equals the
      // pristine table at that grain (the dashboard a TSDB's own tables
      // get)
      val (db, stH) = retainedMetricsDb(s, d)
      val rawP = new java.io.File(db, "events").getPath
      graft.storage.RollupStore.routeCascade(s, rawP, Seq(stH),
          ns("2024-01-01"), ns("2024-01-31"), maxPoints = 2000)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("bucket_ts")
    }),
    "rollup_route_mirror" -> ((s, d) => {
      // budget routing when there is NO raw table — the stream-maintained
      // lifecycle: the whole month at a budget finer than the mirror can
      // serve clamps first UP to the mirror's 1h buckets, then to the 1d
      // tier the range touches; the stitched answer equals the raw-table
      // daily aggregate
      val (stH, stD) = mirrorCascadeEvents(s, d)
      graft.storage.RollupStore.routeStoreCascade(s, Seq(stH, stD),
          ns("2024-01-01"), ns("2024-01-31"), maxPoints = 2000)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("bucket_ts")
    }),
    "rollup_retention_mirror" -> ((s, d) => {
      // the declarative policy with NO raw table — the stream-maintained
      // lifecycle's maintenance call: two clock-injected cycles (samples
      // arriving between, stores compacted after the second) and the
      // raw-less stitched daily read still equals the raw-table oracle
      val day = 86400L * 1000000000L
      val (stH, stD) = mirrorRetentionEvents(s, d)
      graft.storage.RollupStore.storeCascadeRollup(s, Seq(stH, stD), day)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "rollup_retention_scan" -> ((s, d) => {
      // the DECLARATIVE retention lifecycle end to end: two applyRetention
      // cycles (clock injected, samples arriving between them) produce
      // whatever layout "5 days raw, hourly for 10, daily forever"
      // implies, and the stitched daily read still equals the raw-table
      // oracle — policy-computed cutoffs, not hand-placed ones
      val day = 86400L * 1000000000L
      val (rawP, stH, stD) = retentionEvents(s, d)
      graft.storage.RollupStore.cascadeRollup(s, rawP, Seq(stH, stD), day,
          distinctCol = Some("user_id"), histBoundsCents = HistBounds)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "rollup_cascade_p90" -> ((s, d) => {
      // p90 per day across THREE tiers: the daily store's counter arrays
      // were vector-added twice (tierOff, then the store→store tier) and
      // still hold exactly the per-day counts a direct pass builds —
      // integer-exact, so this shares rollup_store_p90's value oracle
      val day = 86400L * 1000000000L
      val (rawP, stH, stD) = cascadeEvents(s, d)
      val st = graft.storage.RollupStore.cascadeRollup(s, rawP,
        Seq(stH, stD), day, distinctCol = Some("user_id"),
        histBoundsCents = HistBounds)
      val counts = graft.storage.RollupStore.histogramCounts(st, HistBounds,
        Seq("bucket_ts"))
      TsOps.histogramQuantileFromCounts(counts, Seq("bucket_ts"),
          HistBounds, qNum = 90L, qDen = 100L)
        .orderBy("bucket_ts")
    }),
    "rollup_store_p90" -> ((s, d) => {
      // p90 per day from STORED histogram counters: 24 hourly counter
      // arrays vector-add into exactly the daily counts a direct pass
      // builds, then the shared exact-integer finisher interpolates —
      // the Prometheus recording-rule serving shape, fully value-oracled
      val day = 86400L * 1000000000L
      val st = graft.storage.RollupStore.rollup(s, rollupStore1h(s, d), day)
      val counts = graft.storage.RollupStore.histogramCounts(st, HistBounds,
        Seq("bucket_ts"))
      TsOps.histogramQuantileFromCounts(counts, Seq("bucket_ts"),
          HistBounds, qNum = 90L, qDen = 100L)
        .orderBy("bucket_ts")
    }),
    "rollup_store_users" -> ((s, d) => {
      // daily distinct users answered from the at-rest 1h store. The
      // merged sketch covers the SAME hash set a direct daily pass does,
      // but DataSketches estimates from different internal modes
      // (coupon list / set / dense HLL) at mid cardinalities — merged and
      // direct ESTIMATES legitimately differ by a few counts (measured
      // at sf0.1: |est−exact| ≤ ~0.7%), so the gate is the documented
      // rank-error bound vs the EXACT count (5% with an absolute floor,
      // the sketch_overlap convention; lgK=12 ⇒ 3σ rse ≈ 4.9%); the
      // day's row count rides beside it, value-oracled
      val day = 86400L * 1000000000L
      val st = graft.storage.RollupStore.rollup(s, rollupStore1h(s, d), day)
        .select(col("bucket_ts"), col("n"), col("distinct_est"))
      val exact = t(s, d, "events")
        .groupBy(expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(countDistinct("user_id").as("__exact"))
      st.join(exact, "bucket_ts")
        .select(col("bucket_ts"), col("n"),
          (abs(col("distinct_est") - col("__exact")).cast("double") <=
            greatest(col("__exact") * 0.05, lit(4.0)))
            .cast("long").as("hll_ok"))
        .orderBy("bucket_ts")
    }),
    "rollup_keyed_daily" -> ((s, d) => {
      // the DIMENSIONAL continuous aggregate: one store tree holds every
      // event_type series (keys ride each row, readers infer them from
      // the schema) — per-series daily stats answered from the keyed 1h
      // store alone; the oracle aggregates the raw table grouped the
      // same way, so equality proves the keyed partials compose exactly
      val day = 86400L * 1000000000L
      graft.storage.RollupStore.rollup(s, keyedStore1h(s, d), day)
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_keyed_fold" -> ((s, d) => {
      // DROPPING the dimension: keepKeys=Nil folds the keyed store across
      // event types — the merges are associative across keys exactly as
      // across time, so the fold equals the UNKEYED daily aggregate bit
      // for bit (shares rollup_store_daily's oracle)
      val day = 86400L * 1000000000L
      graft.storage.RollupStore.rollup(s, keyedStore1h(s, d), day,
          keepKeys = Some(Nil))
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "rollup_keyed_users" -> ((s, d) => {
      // distinct users PER SERIES per day from the keyed store's HLL
      // dimension — n value-oracled, the estimate gated by the documented
      // rank-error bound vs the exact count (rollup_store_users's
      // convention; per-key cardinalities are smaller, same lgK=12 bound)
      val day = 86400L * 1000000000L
      val st = graft.storage.RollupStore.rollup(s, keyedStore1h(s, d), day)
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("distinct_est"))
      val exact = t(s, d, "events")
        .groupBy(col("event_type"),
          expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(countDistinct("user_id").as("__exact"))
      st.join(exact, Seq("event_type", "bucket_ts"))
        .select(col("event_type"), col("bucket_ts"), col("n"),
          (abs(col("distinct_est") - col("__exact")).cast("double") <=
            greatest(col("__exact") * 0.05, lit(4.0)))
            .cast("long").as("hll_ok"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_keyed_route" -> ((s, d) => {
      // budget routing over the keyed store: the grain contract stays on
      // the TIME axis (per series), so the same 30-day/40-point budget
      // that rollup_route resolves to 19h resolves identically here —
      // every event_type series served at that grain from the store
      graft.storage.RollupStore.route(s, keyedStore1h(s, d),
          t(s, d, "events"), ns("2024-01-01"), ns("2024-01-31"),
          maxPoints = 40, distinctCol = Some("user_id"),
          histBoundsCents = HistBounds)
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_keyed_route_one" -> ((s, d) => {
      // ONE SERIES, ZOOMED — the most common keyed dashboard query: the
      // key predicate pushes into the router, pruning the store scan
      // (parquet pushed filter over the KB rows) and the raw
      // re-aggregation BEFORE any stitch, instead of stitching every
      // series and filtering client-side; same 19h grain derivation as
      // rollup_keyed_route, oracle filtered to the same series
      graft.storage.RollupStore.route(s, keyedStore1h(s, d),
          t(s, d, "events"), ns("2024-01-01"), ns("2024-01-31"),
          maxPoints = 40, distinctCol = Some("user_id"),
          histBoundsCents = HistBounds,
          keyFilter = Some(col("event_type") === lit("click")))
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("bucket_ts")
    }),
    "rollup_keyed_p90" -> ((s, d) => {
      // the keyed store's histogram dimension closes the loop on the
      // direct operator: per-(series, day) counter arrays vector-add to
      // per-series whole-table counts, and the shared integer finisher
      // reproduces ts_histogram_quantile's p90 EXACTLY (same oracle) —
      // stored recording rules answer what the raw-table pass answers
      val day = 86400L * 1000000000L
      val st = graft.storage.RollupStore.rollup(s, keyedStore1h(s, d), day)
      val counts = graft.storage.RollupStore.histogramCounts(st,
          HistBounds, Seq("event_type", "bucket_ts"))
        .groupBy("event_type", "le").agg(sum("cnt").as("cnt"))
      TsOps.histogramQuantileFromCounts(counts, Seq("event_type"),
          HistBounds, qNum = 90L, qDen = 100L)
        .orderBy("event_type")
    }),
    "rollup_keyed_tiered_users" -> ((s, d) => {
      // the keyed HLL dimension SURVIVES tiering: per-(series, day)
      // distinct users from the stitched store+raw read, n value-oracled
      // and the estimate gated by the rank-error bound — the
      // rollup_tiered_users proof with the dimension attached
      val day = 86400L * 1000000000L
      val (rawP, stP) = keyedTieredEvents(s, d)
      val st = graft.storage.RollupStore.tieredRollup(s, rawP, stP, day,
          distinctCol = Some("user_id"))
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("distinct_est"))
      val exact = t(s, d, "events")
        .groupBy(col("event_type"),
          expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(countDistinct("user_id").as("__exact"))
      st.join(exact, Seq("event_type", "bucket_ts"))
        .select(col("event_type"), col("bucket_ts"), col("n"),
          (abs(col("distinct_est") - col("__exact")).cast("double") <=
            greatest(col("__exact") * 0.05, lit(4.0)))
            .cast("long").as("hll_ok"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_keyed_cascade" -> ((s, d) => {
      // the dimension through the FULL policy cascade: one clock-driven
      // applyRetention cycle tiers a keyed raw table raw→1h→1d, and the
      // stitched per-series daily read still equals the never-tiered
      // grouped oracle — keys ride every tier hop and every stitch window
      val day = 86400L * 1000000000L
      val (rawP, stH, stD) = keyedCascadeEvents(s, d)
      graft.storage.RollupStore.cascadeRollup(s, rawP, Seq(stH, stD), day)
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_keyed_cascade_route" -> ((s, d) => {
      // budget routing over the KEYED policy cascade: the month-wide fine
      // budget touches the daily tier, so the grain clamps to 1d and
      // every event_type series serves complete stitched daily buckets —
      // keys ride the router's stitch exactly as they ride the scan's
      val (rawP, stH, stD) = keyedCascadeEvents(s, d)
      graft.storage.RollupStore.routeCascade(s, rawP, Seq(stH, stD),
          ns("2024-01-01"), ns("2024-01-31"), maxPoints = 2000)
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"),
          col("grain_ns"), col("source"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_store_stddev" -> ((s, d) => {
      // the VARIANCE recording rule: per-(series, day) n/sum/sum-of-
      // squares served from a tiered keyed store — the sums of squares
      // merge by the same associative fold as everything else, so the
      // stitched stats equal the direct pass and mean/stddev over any
      // range become stored recording rules. var_num = n·Σv² − (Σv)² is
      // compared as the EXACT integer-valued rational both engines
      // compute in decimal before one double cast
      val day = 86400L * 1000000000L
      val (rawP, stP) = varianceTieredEvents(s, d)
      graft.storage.RollupStore.tieredRollup(s, rawP, stP, day)
        .select(col("event_type"), col("bucket_ts"), col("n"),
          (col("sumsq_c") * col("n") - col("sum_c") * col("sum_c"))
            .cast("double").as("var_num"))
        .orderBy("event_type", "bucket_ts")
    }),
    "rollup_route_sql" -> ((s, d) => {
      // the serving routers in PLAIN SQL: graft_route is a table-valued
      // function (SparkSessionExtensions.injectTableFunction, registered
      // post-hoc here for extension-less sessions), so ANY SQL surface —
      // including a stock Spark Connect client over gRPC — gets the
      // budget-routed, key-pruned, tier-stitched answer with grain_ns and
      // source riding the columns (the keyed cascade route's oracle,
      // filtered to the one requested series)
      val (rawP, stH, stD) = keyedCascadeEvents(s, d)
      GraftExtensions.registerRouteTvf(s)
      s.sql(
        s"""SELECT event_type, bucket_ts, n,
           |  CAST(min_c AS DOUBLE) AS min_v,
           |  CAST(max_c AS DOUBLE) AS max_v,
           |  CAST(sum_c AS DOUBLE) AS sum_v, grain_ns, source
           |FROM graft_route('$stH,$stD', '$rawP',
           |  ${ns("2024-01-01")}L, ${ns("2024-01-31")}L, 2000,
           |  "event_type = 'click'")
           |ORDER BY bucket_ts""".stripMargin)
    }),
    "aqp_sql" -> ((s, d) => {
      // the sample tier in PLAIN SQL: graft_aqp is a table-valued
      // function, so any SQL surface — including a stock Spark Connect
      // client over gRPC — gets exact-integer Horvitz-Thompson estimates
      // from the at-rest sample instead of scanning raw (shares
      // aqp_event_stats' oracle: same store, same estimator)
      val p = aqpStorePath(s, d)
      GraftExtensions.registerAqpTvf(s)
      s.sql(
        s"""SELECT event_type, n_sample, est_count, est_sum_cents,
           |  est_var_cents2
           |FROM graft_aqp('$p', 'event_type', 'value')
           |ORDER BY event_type""".stripMargin)
    }),
    "rollup_keyed_tiered" -> ((s, d) => {
      // retention WITH the series dimension: half the month tiered off
      // into the keyed store, and the stitched per-series daily read
      // still equals the never-tiered grouped oracle — tier windows are
      // key-agnostic (the horizon is global), so every series stitches
      // on the same boundary
      val day = 86400L * 1000000000L
      val (rawP, stP) = keyedTieredEvents(s, d)
      graft.storage.RollupStore.tieredRollup(s, rawP, stP, day,
          distinctCol = Some("user_id"))
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("event_type", "bucket_ts")
    }),
    "ts_histogram_quantile" -> ((s, d) =>
      // Prometheus-style p90 latency/value per event type over fixed
      // cumulative buckets — exact integer interpolation, so the oracle
      // reproduces every floor division
      TsOps.histogramQuantile(t(s, d, "events"), Seq("event_type"),
          boundsCents = Seq(500L, 1000L, 2500L, 5000L, 10000L, 25000L),
          qNum = 90L, qDen = 100L)
        .orderBy("event_type")),
    "ts_lttb" -> ((s, d) => {
      // visual-fidelity downsampling: 64 series, 6h grid — every kept
      // point is reproduced by the oracle's transition-table walk of the
      // same exact-integer triangle-area recurrence
      val ev = t(s, d, "events").select(
        pmod(col("user_id"), lit(64L)).as("sid"), col("ts"),
        col("event_id"), col("value"))
      graft.operators.RecurrenceOps.lttb(ev, Seq("sid"),
          bucketNanos = 6L * 3600 * 1000000000L)
        .select(col("sid"), col("ts"), col("id").as("event_id"),
          col("cents"))
        .orderBy("sid", "ts", "event_id")
    }),
    "zorder_scan" -> ((s, d) => {
      // the two-dimensional slice the z-ordered layout exists for: a
      // user band AND a time window together — footer stats prune files
      // in BOTH dimensions (ZOrderSpec pins the hit fractions); results
      // are layout-independent, which is what the oracle checks
      val (tLo, tHi) = (ns("2024-01-10"), ns("2024-01-15"))
      s.read.parquet(zOrderedEvents(s, d))
        .filter(col("user_id") >= 100L && col("user_id") < 200L &&
          col("ts") >= tLo && col("ts") < tHi)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),
    "ts_rate_cusum" -> ((s, d) => {
      // RATE monitoring: per-user daily event counts, gap-filled with
      // zeros across each user's active span (a quiet day must drive the
      // negative side — without the grid it would be invisible), then the
      // integer CUSUM fold over the count series. Pure composition of
      // existing tiers: one keyed agg + a calendar-bounded explode + the
      // sorted-partition recurrence
      val day = 86400L * 1000000000L
      val ev = t(s, d, "events")
      val counts = ev
        .select(col("user_id"), expr(TsOps.floorDivSql("ts", day)).as("b"))
        .groupBy("user_id", "b").agg(count(lit(1)).as("n"))
      val grid = counts.groupBy("user_id")
        .agg(min("b").as("b0"), max("b").as("b1"))
        .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("b"))
      val filled = grid.join(counts, Seq("user_id", "b"), "left")
        .select(col("user_id"), (col("b") * day).as("ts"), col("b").as("eid"),
          coalesce(col("n"), lit(0L)).cast("double").as("value"))
      graft.operators.RecurrenceOps.cusum(filled, Seq("user_id"),
          targetCents = 300L, slackCents = 100L, thresholdCents = 600L,
          idCol = "eid")
        .select(col("user_id"), col("ts"), col("id").as("day_idx"),
          col("cents"), col("s_pos"), col("s_neg"), col("alarm"))
        .orderBy("user_id", "ts")
    }),
    "retrieval_bm25" -> ((s, d) => {
      // lexical top-10 per query, BM25-shaped with the engine-exact
      // rational idf; the oracle reproduces every integral division
      import s.implicits._
      val q = Seq((1L, "fast vector scan"), (2L, "stream window agg"),
        (3L, "customer join query")).toDF("query_id", "qtext")
      graft.pipeline.Retrieval.bm25(t(s, d, "documents"), q, topK = 10)
        .select("query_id", "doc_id", "score", "n_terms", "rank")
        .orderBy("query_id", "rank")
    }),
    "text_quality_score" -> ((s, d) =>
      // classifier-scored quality filtering: the fixed linear model over
      // the engineered features (left-folded sum — IEEE addition order
      // fixed, so the oracle reproduces the score bit-for-bit) with the
      // keep decision at 0.5
      Text.qualityScore(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("q_score"), col("q_keep"))
        .orderBy("doc_id")),
    "retrieval_hybrid_rrf" -> ((s, d) => {
      // hybrid eval-mining: sparse BM25 top-20 fused with dense cosine
      // top-20 by integer reciprocal-rank fusion (k=60). Query n's dense
      // representation is embedding vec_id n — the deterministic stand-in
      // for a text encoder (the fusion semantics are what is under test);
      // the doc id space is shared by construction (vec_id = doc_id)
      import s.implicits._
      val q = Seq((1L, "fast vector scan"), (2L, "stream window agg"),
        (3L, "customer join query")).toDF("query_id", "qtext")
      val sparse = graft.pipeline.Retrieval
        .bm25(t(s, d, "documents"), q, topK = 20)
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val dense = Similarity.knnBrute(emb, qv, k = 20)
        .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
          col("rank"))
      graft.pipeline.Retrieval.rrfFuse(sparse, dense, topK = 10)
        .orderBy("query_id", "rrf_rank")
    }),
    "retrieval_bm25_stored" -> ((s, d) => {
      // retrieval_bm25 probed AT REST: the index (tf/dl/dfs + corpus
      // scalars) is persisted term-bucketed once, and the probe prunes the
      // tf/dfs scans to the query terms' buckets at file-listing time
      // (PlanAuditSpec asserts the PartitionFilters) — a serving restart
      // never re-tokenizes the corpus. Same scores as retrieval_bm25, so
      // it shares that value oracle
      import s.implicits._
      val q = Seq((1L, "fast vector scan"), (2L, "stream window agg"),
        (3L, "customer join query")).toDF("query_id", "qtext")
      val path = bm25IndexPaths.computeIfAbsent(d, dir => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-bm25-$processId-${dirTag(dir)}").getPath
        graft.pipeline.Retrieval.writeBm25Index(t(s, dir, "documents"), p)
        p
      })
      graft.pipeline.Retrieval.bm25Stored(s, path, q, topK = 10)
        .select("query_id", "doc_id", "score", "n_terms", "rank")
        .orderBy("query_id", "rank")
    }),
    "rolling_24h_stats" -> ((s, d) => {
      // rolling window on µs-truncated ts so the oracle sees identical gaps
      val ev = tsUs(t(s, d, "events")).select("event_id", "ts", "user_id", "value")
      val win = 24L * 3600 * 1000000000L
      // decimal-cast parity sum belongs to the oracle-facing query, not the
      // library operator (TsOps.rollingAgg sums the raw column); same window
      // spec, so Catalyst folds both sums into one Window node
      val w = Window.partitionBy("user_id").orderBy(col("ts"))
        .rangeBetween(-win, 0)
      TsOps.rollingAgg(ev, win, "value", Seq("user_id"))
        .withColumn("roll_sum",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select("event_id", "ts", "user_id", "value", "roll_n", "roll_sum",
          "roll_min", "roll_max")
        .orderBy("event_id")
    }),
    "agg_downsample_locf" -> ((s, d) => {
      val day = 86400L * 1000000000L
      val ev = t(s, d, "events")
      val agg = ev.groupBy(expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(count(lit(1)).as("n"), min("value").as("min_v"),
          max("value").as("max_v"), dsum(col("value")).as("sum_v"))
      val filled = TsOps.fillGaps(agg, day, ns("2023-12-25"), ns("2024-02-05"))
      TsOps.locf(filled, Seq("min_v", "max_v", "sum_v")).orderBy("bucket_ts")
    }),
    "meta_describe_all" -> ((s, d) =>
      Tables.describeDf(s, d, None).drop("updated_at")
        .withColumn("from_ts", col("from_ts") - pmod(col("from_ts"), lit(1000L)))
        .withColumn("end_ts", col("end_ts") - pmod(col("end_ts"), lit(1000L)))),
    "agg_event_type_stats" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"),
          dsum(col("value")).as("sum_v"), min("value").as("min_v"),
          max("value").as("max_v"))
        .orderBy("event_type")),
    "json_props_stats" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),
    "stream_downsample" -> ((s, d) => {
      // Structured Streaming rollup driven to completion (AvailableNow) and
      // returned as the materialized memory-sink table. Oracle-checked: on
      // static input the emitted set is exactly the buckets whose window end
      // is <= final watermark (max event time, ms-truncated, minus the 2h
      // lateness) — the batch downsample restricted to that subset. The sum
      // rides a decimal cast so partial-aggregation merge order across
      // micro-batch shuffles cannot perturb the double.
      val src = eventStream(s, d)
        .withColumn("value", col("value").cast("decimal(18,2)"))
      val agg = graft.streaming.StreamIngest.windowedDownsample(
        src, "value", "1 hour", "2 hours")
      runStreamToTable(s, agg, "stream_ds_out")
        .select(col("bucket_start_us"), col("n"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"),
          col("sum_v").cast("double").as("sum_v"))
        .orderBy("bucket_start_us")
    }),
    "tpch_q1" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    "tpch_q3" -> ((s, d) => {
      // shipping-priority shape (TPC-H Q3 on the synthetic star): segment
      // semi-join prunes orders early, both date filters push to the scans,
      // revenue aggregates per order, distributed top-10 finishes it. No
      // explicit broadcast hint: the filtered dims are auto-broadcast when
      // small and shuffle-joined when not — the honest cluster-scale plan.
      val cutoff = to_timestamp(lit("1998-06-01"))
      val cust = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") < cutoff)
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey")
      // revenue in integer cents×(100−d·100): a double PRODUCT cast to
      // decimal can round-tie differently across engines (the raw
      // 2-decimal columns are exact, their product is not — measured at
      // sf0.1), so the multiplication happens in exact integer units
      t(s, d, "lineitem")
        .filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(sum(epCents * (lit(100L) - disc100)).as("revenue_c4"))
        .orderBy(col("revenue_c4").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    "tpch_q5" -> ((s, d) => {
      // local-supplier-volume shape (TPC-H Q5): five-way join with the
      // region→nation dim chain broadcast, date filter pushed to the
      // orders scan, and the c_nationkey = s_nationkey locality
      // predicate riding the supplier join
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1997-01-01"))
      val nation = t(s, d, "nation")
        .join(t(s, d, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val orders = t(s, d, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      t(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        // same exact integer-cents revenue as tpch_q3 (product round-tie)
        .agg(sum(epCents * (lit(100L) - disc100)).as("revenue_c4"))
        .orderBy(col("revenue_c4").desc, col("n_name").asc)
    }),
    "tpch_q18" -> ((s, d) => {
      // large-quantity-order customers (TPC-H Q18): the aggregate-filtered
      // semi-join shape — lineitem pre-aggregates per order (partial aggs
      // combine map-side), HAVING keeps only the rare >300-qty orders, and
      // just those orderkeys flow into the customer/orders joins. The
      // big-order set is ~0.05% of orders, so AQE turns both joins into
      // broadcasts at runtime; the classic formulation's second
      // sum(l_quantity) per customer/order group is unnecessary — the join
      // on orderkey is 1:1 with the pre-aggregate, which already carries
      // the sum. Quantities are integral-valued doubles → exact BIGINT
      // sums on both engines; order date renders as a date string (engine-
      // portable, no timestamp-unit hazard).
      val big = t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 300L)
      t(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer").select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
        .limit(100)
    }),
    "tpch_q4" -> ((s, d) => {
      // order-priority checking (TPC-H Q4): the EXISTS-semi-join shape —
      // the one classic join form Q1/Q3/Q5/Q18 don't cover. This dataset
      // carries no l_commitdate/l_receiptdate, so the "late order"
      // predicate becomes: some lineitem shipped ≥ 60 days after the
      // order date — which makes the semi-join CORRELATED beyond the key:
      // an equi-join on orderkey with the date comparison as a residual
      // predicate (never a range-join nested loop), and left_semi
      // guarantees each order counts once no matter how many late items
      // it has. The quarter filter pushes to the orders scan, so the
      // probe side is ~1% of orders; lineitem needs only 2 columns.
      val lo = to_timestamp(lit("1996-07-01"))
      val hi = to_timestamp(lit("1996-10-01"))
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val items = t(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      ord.join(items,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    "tpch_q14" -> ((s, d) => {
      // promotion-effect shape (TPC-H Q14): one-month lineitem slice
      // joined to the part dim (broadcast), conditional revenue split by
      // p_type — emitted as the two exact cent-sums rather than the
      // classic float percentage, the engine's exact-units convention
      val lo = to_timestamp(lit("1995-09-01"))
      val hi = to_timestamp(lit("1995-10-01"))
      val rev = epCents * (lit(100L) - disc100)
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"), rev.as("__rev"))
        .join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("__rev"))
            .otherwise(0L)).as("promo_rev_c4"),
          sum(col("__rev")).as("total_rev_c4"))
    }),
    "tpch_q6" -> ((s, d) => {
      // forecast revenue change (TPC-H Q6): the pure scan-filter-agg
      // shape — no join at all; every predicate pushes to the parquet
      // scan (date + quantity natively, the discount band as the exact
      // integer disc100 in [5,7]); revenue = price · discount in exact
      // cent·basis-point units
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1997-01-01"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
          disc100.between(5L, 7L) && col("l_quantity") < 24)
        .agg(sum(epCents * disc100).as("revenue_c4"),
          count(lit(1)).as("n_items"))
    }),
    "tpch_q7" -> ((s, d) => {
      // volume shipping (TPC-H Q7): the nation-pair join shape — both
      // nation dims filtered to the two trading partners and broadcast
      // (pruning suppliers/customers before the fact joins), the
      // disjunctive pair predicate as the residual, revenue grouped by
      // the derived ship year in exact cents
      val rev = epCents * (lit(100L) - disc100)
      val picked = t(s, d, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val supN = broadcast(picked.select(col("n_nationkey").as("__snk"),
        col("n_name").as("supp_nation")))
      val cusN = broadcast(picked.select(col("n_nationkey").as("__cnk"),
        col("n_name").as("cust_nation")))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"), rev.as("__rev"))
        .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(supN, col("s_nationkey") === col("__snk"))
        .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(cusN, col("c_nationkey") === col("__cnk"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("__rev").as("revenue_c4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),
    "tpch_q13" -> ((s, d) => {
      // order-count distribution (TPC-H Q13): the LEFT OUTER join +
      // double-aggregation shape — zero-order customers must land in the
      // c_count=0 bucket, which an inner join silently drops; the order
      // exclusion predicate lives in the join (ON), not a post-filter
      // (this dataset has no o_comment, so the classic comment-pattern
      // exclusion becomes a priority-class exclusion — same plan shape)
      val ord = t(s, d, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      t(s, d, "customer").select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    "tpch_q17" -> ((s, d) => {
      // small-quantity-order revenue (TPC-H Q17): the correlated
      // scalar-subquery shape — l_quantity < 0.2 · avg(l_quantity) per
      // part — decorrelated to a per-part WINDOW aggregate over the
      // (brand, type)-selected parts' lineitems: bounded partitions
      // (lines per part) and ONE lineitem scan, where the agg+rejoin
      // form plans two (no exchange reuse across the differing
      // aggregates). The 0.2·avg threshold is decided by integer
      // cross-multiplication (5·qty·cnt < sum_qty — quantities are
      // integral-valued doubles), never a float division; the classic
      // "/7.0 avg_yearly" is emitted as the exact floor-divided cents
      val pt = broadcast(t(s, d, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_type") === "MEDIUM")
        .select("p_partkey"))
      val w17 = Window.partitionBy("l_partkey")
      t(s, d, "lineitem")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("__qty"),
          epCents.as("__price_c"))
        .withColumn("__s", sum("__qty").over(w17))
        .withColumn("__n", count(lit(1)).over(w17))
        .filter(col("__qty") * lit(5L) * col("__n") < col("__s"))
        .agg(coalesce(sum("__price_c"), lit(0L)).as("small_qty_rev_c"),
          count(lit(1)).as("n_items"))
        .withColumn("avg_yearly_c", expr("small_qty_rev_c div 7"))
    }),
    "tpch_q19" -> ((s, d) => {
      // disjunctive-predicate shape (TPC-H Q19): revenue over an OR of
      // three (brand, size-range, quantity-range) branches — the
      // predicate class join reordering and pushdown must survive; the
      // join stays a broadcast of the part dim with the residual OR on top
      val rev = epCents * (lit(100L) - disc100)
      val li = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), rev.as("__rev"))
      val pt = t(s, d, "part").select("p_partkey", "p_brand", "p_size")
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#19" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(col("__rev")).as("revenue_c4"), count(lit(1)).as("n_items"))
    }),
    "tpch_q22" -> ((s, d) => {
      // global-sales-opportunity shape (TPC-H Q22): scalar-aggregate
      // threshold + NOT EXISTS — the ANTI-join form Q4's semi join doesn't
      // cover (this dataset has no c_phone, so nationkey stands in for the
      // country-code grouping and "no orders since 1999" for dormancy).
      // The positive-balance average is never divided out: candidates
      // compare via the integer cross-multiplication bal_c·n_pos > s_c —
      // engine-exact where a float avg could round-tie (headroom: cents ≤
      // 1e6 × even 1e10 customers < 2^63). The 1-row aggregate broadcasts
      // onto customers (a BroadcastNestedLoopJoin over ONE row, not a
      // collect — stays a single job, no driver sync), and the anti join
      // is a hash join whose build side is the date-pruned orders slice.
      val cust = t(s, d, "customer").select(col("c_custkey"),
        col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .as("bal_c"))
      val thr = cust.filter(col("bal_c") > 0L)
        .agg(sum("bal_c").as("s_c"), count(lit(1)).as("n_pos"))
      val recent = t(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1999-01-01")))
        .select("o_custkey")
      cust.crossJoin(broadcast(thr))
        .filter(col("bal_c") * col("n_pos") > col("s_c"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), sum("bal_c").as("totacctbal_c"))
        .orderBy("c_nationkey")
    }),
    "tpch_q10" -> ((s, d) => {
      // returned-item reporting (TPC-H Q10): the aggregate-then-join
      // shape — revenue pre-aggregates per CUSTKEY (map-side partials)
      // BEFORE the customer join, so the join input is one row per
      // customer-with-returns, not one per return line; customer
      // attributes ride the equi-join afterwards (custkey determines
      // them — same result as the spec's wide GROUP BY, half the shuffle),
      // nation broadcasts at 25 rows, and the top-20 is a TakeOrdered,
      // never a global sort. Revenue in exact integer cents×(100−d·100)
      // (the q3/q5 round-tie rule); acctbal as integer cents (q22 rule).
      val lo = to_timestamp(lit("1996-07-01"))
      val hi = to_timestamp(lit("1996-10-01"))
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val ret = t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val rev = ret.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(epCents * (lit(100L) - disc100)).as("revenue_c4"))
      rev.join(t(s, d, "customer")
            .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("bal_c"),
          col("n_name"), col("revenue_c4"))
        .orderBy(col("revenue_c4").desc, col("c_custkey").asc)
        .limit(20)
    }),
    "tpch_q12" -> ((s, d) => {
      // shipping-mode/priority shape (TPC-H Q12): two conditional counts
      // over the orders⨝lineitem join in ONE pass — adapted to this
      // dataset like Q4 (no l_shipmode or commit/receipt dates):
      // l_linestatus stands in for the shipmode grouping and "shipped ≥
      // 60 days after order" for the late-arrival predicate. The year
      // filter pushes to the lineitem scan; the date comparison is a
      // RESIDUAL on the orderkey equi-join (hash, never a range-join
      // nested loop); both CASE sums fold into one partial aggregate.
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1997-01-01"))
      val items = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select("l_orderkey", "l_shipdate", "l_linestatus")
      val hiPri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, d, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(items, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(sum(when(hiPri, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hiPri, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),
    "tpch_q2" -> ((s, d) => {
      // minimum-cost-supplier shape (TPC-H Q2): the groupwise-MIN
      // correlated subquery — adapted like Q4/Q13/Q22 (no partsupp
      // table): supply cost per (part, supplier) is the MINIMUM observed
      // line price in exact cents from lineitem, the scope is EUROPE
      // suppliers of size-15 STANDARD parts. Decorrelated the way
      // Catalyst rewrites it: one per-part min over the scoped cost
      // frame as a per-part WINDOW MIN (bounded partitions — suppliers
      // per part — and ONE lineitem scan; the agg+rejoin alternative
      // plans two full scans because nothing makes the exchanges
      // reusable). The selected-part dim broadcasts BEFORE the cost
      // aggregation so the groupBy only shuffles the ~0.3% of lineitem
      // that can matter; ties on min cost all survive (classic Q2
      // semantics), order is total.
      val pt = broadcast(t(s, d, "part")
        .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
        .select("p_partkey"))
      val eurSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
            .join(t(s, d, "region").filter(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          (col("s_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("bal_c"))
      val cost = t(s, d, "lineitem")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .join(eurSupp.select("s_suppkey"),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(epCents).as("cost_c"))
      cost.withColumn("__min_c",
          min("cost_c").over(Window.partitionBy("l_partkey")))
        .filter(col("cost_c") === col("__min_c"))
        .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
        .select(col("bal_c"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("cost_c"))
        .orderBy(col("bal_c").desc, col("n_name").asc, col("s_name").asc,
          col("p_partkey").asc)
        .limit(100)
    }),
    "tpch_q8" -> ((s, d) => {
      // national-market-share shape (TPC-H Q8): the 7-table join with a
      // conditional share per year. Both dim chains (part type filter;
      // customer nation→AMERICA region) broadcast-prune the fact side
      // before the orders join; the share is emitted as the two exact
      // cent·pct sums (numerator = NATION_3-supplied revenue) instead of
      // the classic float division — the engine's exact-units convention.
      val lo = to_timestamp(lit("1995-01-01"))
      val hi = to_timestamp(lit("1997-01-01"))
      val rev = epCents * (lit(100L) - disc100)
      val pt = broadcast(t(s, d, "part")
        .filter(col("p_type") === "ECONOMY").select("p_partkey"))
      val amerNations = broadcast(t(s, d, "nation")
        .join(t(s, d, "region").filter(col("r_name") === "AMERICA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("__cnk")))
      val supN = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("__snk"), col("n_name")))
      t(s, d, "lineitem")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_suppkey"), rev.as("__rev"))
        .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(supN, col("s_nationkey") === col("__snk"))
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(amerNations, col("c_nationkey") === col("__cnk"), "left_semi")
        .groupBy("o_year")
        .agg(sum(when(col("n_name") === "NATION_3", col("__rev"))
            .otherwise(0L)).as("nation_rev_c4"),
          sum(col("__rev")).as("total_rev_c4"))
        .orderBy("o_year")
    }),
    "tpch_q9" -> ((s, d) => {
      // product-type-profit shape (TPC-H Q9): profit per supplier nation
      // per order year over name-matched parts. Adapted (no partsupp):
      // supply cost is 50% of the part's retail price per unit, so
      // profit_c4 = rev_c4 − qty·retail_cents·50 in exact cent·pct units
      // (can go negative — BIGINT either way). The LIKE filter broadcasts
      // with the part dim; orders joins last and only for the year.
      val pt = broadcast(t(s, d, "part")
        .filter(col("p_name").like("%red%"))
        .select(col("p_partkey"),
          (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
            .as("__rp_c")))
      val profit = epCents * (lit(100L) - disc100) -
        col("l_quantity").cast("long") * col("__rp_c") * lit(50L)
      t(s, d, "lineitem")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_suppkey"), profit.as("__profit"))
        .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(sum("__profit").as("profit_c4"))
        .orderBy(col("n_name").asc, col("o_year").desc)
    }),
    "tpch_q11" -> ((s, d) => {
      // important-stock shape (TPC-H Q11): groupwise value + global
      // scalar-fraction HAVING. Adapted (no partsupp): a part's stocked
      // value for NATION_7's suppliers is the exact cent sum of their
      // lineitem prices. The 1-row total broadcasts onto the per-part
      // aggregate (BroadcastNestedLoopJoin over ONE row, the q22
      // pattern) and the 0.01% threshold is decided by integer
      // cross-multiplication — never a float division.
      val natSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
            .filter(col("n_name") === "NATION_7").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val lines = t(s, d, "lineitem")
        .join(natSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"), epCents.as("__price_c"))
      // the per-part aggregate feeds BOTH the total and the output —
      // persist it so the lineitem scan + shuffle run once, not twice
      // (no exchange reuse across the differing downstream aggregates);
      // the frame is per-part metadata, orders smaller than the fact
      val perPart = lines.groupBy("l_partkey")
        .agg(sum("__price_c").as("value_c"))
        .persist()
      val total = perPart.agg(sum("value_c").as("__total_c"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_c") * lit(10000L) > col("__total_c"))
        .select(col("l_partkey").as("p_partkey"), col("value_c"))
        .orderBy(col("value_c").desc, col("p_partkey").asc)
    }),
    "tpch_q15" -> ((s, d) => {
      // top-supplier shape (TPC-H Q15): the revenue view + scalar-MAX
      // subquery. One quarter's per-supplier revenue aggregates in exact
      // cent·pct units; the view is PERSISTED because the max branch and
      // the output branch would otherwise each rescan lineitem (the
      // differing downstream aggregates defeat exchange reuse) — the
      // frame is per-supplier, orders smaller than the fact. The 1-row
      // max broadcasts back; ties all survive, classic semantics.
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1996-04-01"))
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy("l_suppkey")
        .agg(sum(epCents * (lit(100L) - disc100)).as("total_rev_c4"))
        .persist()
      val mx = rev.agg(max("total_rev_c4").as("__max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev_c4") === col("__max_rev"))
        .join(t(s, d, "supplier").select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_c4"))
        .orderBy("s_suppkey")
    }),
    "tpch_q16" -> ((s, d) => {
      // supplier-count-by-part-attribute shape (TPC-H Q16): DISTINCT
      // pairs + NOT IN exclusion + count(DISTINCT). Adapted: the
      // part-supplier relation is the distinct (partkey, suppkey) pairs
      // observed in lineitem (standing in for partsupp), and "complaint"
      // suppliers are those with negative balance, excluded via a
      // broadcast ANTI join (never a NOT IN null-trap). The distinct
      // runs AFTER the broadcast part-attribute join so partial
      // aggregation dedups map-side on the already-pruned rows.
      val pt = broadcast(t(s, d, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23))
        .select("p_partkey", "p_brand", "p_type", "p_size"))
      val complaints = t(s, d, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      t(s, d, "lineitem").select("l_partkey", "l_suppkey")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .join(broadcast(complaints),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_type").asc, col("p_size").asc)
    }),
    "tpch_q20" -> ((s, d) => {
      // part-promotion shape (TPC-H Q20): the nested IN-subquery chain —
      // name-matched parts → per-(part, supplier) correlated quantity
      // threshold → supplier semi-join → nation filter. Adapted (no
      // partsupp availqty): a pair qualifies when its 1996 shipments
      // exceed HALF its all-time shipments (the same agg-vs-correlated-
      // agg comparison, decided by integer cross-multiplication). Both
      // sums fold into ONE conditional aggregate pass — no self-join of
      // lineitem against itself.
      val lo = to_timestamp(lit("1996-01-01"))
      val hi = to_timestamp(lit("1997-01-01"))
      val pt = broadcast(t(s, d, "part")
        .filter(col("p_name").like("red%")).select("p_partkey"))
      val qty = col("l_quantity").cast("long")
      val in96 = col("l_shipdate") >= lo && col("l_shipdate") < hi
      val qual = t(s, d, "lineitem")
        .join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(when(in96, qty).otherwise(0L)).as("__q96"),
          sum(qty).as("__qall"))
        .filter(col("__q96") * lit(2L) > col("__qall"))
        .select("l_suppkey").distinct()
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
            .filter(col("n_name") === "NATION_4").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),
    "tpch_q21" -> ((s, d) => {
      // waiting-supplier shape (TPC-H Q21): the EXISTS + NOT-EXISTS
      // double self-correlation on lineitem — decorrelated into ONE
      // per-order aggregate: count distinct suppliers and distinct LATE
      // suppliers per finished order ("late" = shipped >90 days after
      // order date, the Q4/Q12 adaptation), then a supplier's qualifying
      // lines are its late lines in orders with >1 supplier where it is
      // the ONLY late one. One lineitem scan feeds both the aggregate
      // and the probe (ReuseExchange); the classic form would self-join
      // lineitem twice.
      val ords = t(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ords, col("l_orderkey") === col("o_orderkey"))
        .withColumn("__late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey", "__late")
      val perOrd = li.groupBy("l_orderkey")
        .agg(countDistinct(col("l_suppkey")).as("__n_supp"),
          countDistinct(when(col("__late"), col("l_suppkey")))
            .as("__n_late"))
        .filter(col("__n_supp") > 1L && col("__n_late") === 1L)
        .select(col("l_orderkey").as("__ok"))
      li.filter(col("__late"))
        .join(perOrd, col("l_orderkey") === col("__ok"), "left_semi")
        .join(t(s, d, "supplier")
            .join(broadcast(t(s, d, "nation")
                .filter(col("n_name") === "NATION_2")
                .select("n_nationkey")),
              col("s_nationkey") === col("n_nationkey"))
            .select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    }),
    "ts_active_users" -> ((s, d) =>
      // DAU + trailing-7d WAU: bounded explode over the deduplicated
      // (user, day) frame, no per-day self-join (see TsOps.activeUsers)
      TsOps.activeUsers(tsUs(t(s, d, "events")), "user_id",
        dayNanos = 86400L * 1000000000L).orderBy("day")),
    // grouping-set subtotals (nation × segment) in ONE pass each: rollup
    // emits detail + per-nation + grand-total, cube adds the segment
    // marginal — a single shuffle where naive per-level queries would
    // re-scan per level. NULL markers coalesce to 'ALL' for an engine-
    // independent total order. SQL formulation: the DataFrame rollup's
    // Expand duplicates the grouping attributes and a following select
    // trips the ambiguous-self-join checker (the same plan through the
    // SQL parser resolves cleanly); nation auto-broadcasts at 25 rows.
    "agg_rollup_revenue" -> groupingSetRevenue("ROLLUP", "gr"),
    "agg_cube_revenue" -> groupingSetRevenue("CUBE", "gc"),
    "agg_pivot_types" -> ((s, d) => {
      // day × event-type count matrix via pivot with an EXPLICIT type
      // list — the plan stays a single two-phase agg (no distinct-values
      // pre-scan, deterministic schema at any scale)
      val day = 86400L * 1000000000L
      t(s, d, "events")
        .groupBy(expr(TsOps.floorDivSql("ts", day)).as("day"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup"))
        .agg(count(lit(1)))
        .select(col("day"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"))
        .orderBy("day")
    }),
    "join_revenue_by_nation" -> ((s, d) => {
      val orders   = t(s, d, "orders")
      val customer = t(s, d, "customer")
      val nation   = t(s, d, "nation")
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("n_name")
    }),
    "join_revenue_salted" -> ((s, d) => {
      // the salted-join path must produce byte-identical results to the
      // plain join — same oracle SQL as join_revenue_by_nation
      val orders = t(s, d, "orders").withColumnRenamed("o_custkey", "custkey")
      val customer = t(s, d, "customer").withColumnRenamed("c_custkey", "custkey")
      val nation = t(s, d, "nation")
      graft.operators.Skew.saltedJoin(orders, customer, Seq("custkey"))
        .join(broadcast(nation), col("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("n_name")
    }),
    "join_bucketed" -> ((s, d) => {
      // the CO-LOCATED form of join_revenue_by_nation: orders and customer
      // are hash-bucketed (and sorted) on the join key at WRITE time, so
      // the fact-fact join reads matching buckets directly — no Exchange
      // on either side (PlanAuditSpec pins the plan). This is the layout
      // for fact tables that outlive one query: pay the bucketed write
      // once, join shuffle-free forever after. Identical result to the
      // shuffle join, so it shares join_revenue_by_nation's value oracle.
      val (ot, ct) = bucketedOrdersCustomer(s, d)
      val orders = s.table(ot)
      val customer = s.table(ct)
      orders
        .join(customer.hint("merge"),
          orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("n_name")
    }),
    "agg_downsample_interp" -> ((s, d) => {
      val day = 86400L * 1000000000L
      val ev = t(s, d, "events")
      val agg = ev.groupBy(expr(TsOps.floorBucketSql("ts", day)).as("bucket_ts"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
      val filled = TsOps.fillGaps(agg, day, ns("2023-12-25"), ns("2024-02-05"))
      TsOps.interpolate(filled, "sum_v")
        .select("bucket_ts", "n", "sum_v").orderBy("bucket_ts")
    }),
    "stream_sessionize" -> ((s, d) => {
      // stateful streaming sessionize driven to completion: emitted sessions
      // are (a) closed by a later event, or (b) timed out once the final
      // watermark (max event ms - 10min lateness) passes last + gap. The
      // batch sessionize restricted to that subset is the oracle. Gap math
      // runs on µs-truncated ts so DuckDB agrees on boundaries; sum_v is
      // omitted (double accumulation order across state updates is not
      // oracle-stable — counts/extrema are).
      val src = tsUs(eventStream(s, d))
      val sess = graft.streaming.StreamIngest.statefulSessionize(
        src.select("user_id", "ts", "value"),
        gapNanos = 3600L * 1000000000L, lateness = "10 minutes")
      runStreamToTable(s, sess.toDF(), "stream_sess_out")
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }),
    "window_top_orders" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),
    "asof_purchase_view" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id", "value")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      val joined = TsOps.asofJoin(purchases, views, Seq("user_id"))
      tsUs(joined)
        .withColumn("r_ts", col("r_ts") - pmod(col("r_ts"), lit(1000L)))
        .orderBy("event_id")
    }),
    "sessionize_stats" -> ((s, d) => {
      // gap computation on µs-truncated ts so the DuckDB oracle (which only
      // sees µs) agrees on boundary gaps
      val ev = tsUs(t(s, d, "events")).select("user_id", "ts")
      TsOps.sessionize(ev, 3600L * 1000000000L, Seq("user_id"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
          max("ts").as("session_end"))
        .orderBy("user_id", "session_idx")
    }),
    "sessionize_chunked_stats" -> ((s, d) => {
      // the hot-key-safe sessionize variant (heavy window keyed on
      // (user, day-chunk), per-key sequential work only over chunk
      // summaries) — row-identical to sessionize_stats, so it shares that
      // value oracle; TsOpsSpec proves equality on a planted 30%-hot key
      val ev = tsUs(t(s, d, "events")).select("user_id", "ts")
      TsOps.sessionizeChunked(ev, 3600L * 1000000000L, Seq("user_id"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
          max("ts").as("session_end"))
        .orderBy("user_id", "session_idx")
    }),
    "text_top_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(graft.pipeline.Text.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(50)),
    "meta_block_list" -> ((s, d) =>
      Tables.blockListDf(s, d, Some("events")).drop("updated_at")
        .withColumn("block_start",
          col("block_start") - pmod(col("block_start"), lit(1000L)))
        .withColumn("block_end",
          col("block_end") - pmod(col("block_end"), lit(1000L))))
  )
}
