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

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the pipeline extensions), each with a DuckDB oracle where
  * SQL can express it. Every query ends in a total-order `ORDER BY` mirrored
  * in the oracle so result hashing is deterministic.
  */
object SparkEntry {

  /** Flagship: dialect query end-to-end on sf0.001 (SURVEY §7.3). */
  def entry(spark: SparkSession): DataFrame = {
    val e = engine(spark, "/root/testdata/sf0.001")
    e.frame(
      "with cols = [eid, uid, etype, val, props], tz = +9 " +
        "select eid, etype, val from events where ts in ('2024-01-05', '2024-01-20');")
  }

  /** Every registered query, each run on a [[Tables.configure]]d session
    * — a [[GraftSession]] already is one; a foreign session (perfbench, a
    * Connect host) becomes one before the entry builds its plan. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    (EntryQl.queries ++ EntryAnalytics.queries ++ EntryPipeline.queries)
      .map { case (name, f) =>
        name -> { (s: SparkSession, d: String) =>
          Tables.configure(s)
          f(s, d)
        }
      }

  def oracleSql: Map[String, String] = {
    val base = EntryQl.oracles ++ EntryAnalyticsOracles.oracles ++
      EntryPipelineOracles.oracles ++ EntryPipelineOracles2.oracles
    // the stored-index probe computes the same result as knn_ivf (identical
    // centroids/queries/ranking — only the corpus goes through the
    // partitionBy(cid) layout on disk), so it shares the value oracle;
    // likewise the chunked sessionize is row-identical to the plain one
    base +
      ("knn_ivf_stored" -> base("knn_ivf")) +
      // the bucketed co-located join computes the same aggregate as the
      // shuffle join — only the storage layout differs
      ("join_bucketed" -> base("join_revenue_by_nation")) +
      // log-round star contraction labels the same connected components
      // as min-label propagation, so it shares the recursive-CTE oracle
      ("dedup_clusters_logstar" -> base("dedup_clusters")) +
      ("sessionize_chunked_stats" -> base("sessionize_stats")) +
      // stateless streaming quantization emits every row with the exact
      // batch arithmetic, so it shares embed_quantize's value oracle
      ("stream_quantize" -> base("embed_quantize")) +
      // the linear quality model is a stateless narrow map — streamed
      // scores are the batch scores bit-for-bit (shared value oracle)
      ("stream_quality_score" -> base("text_quality_score")) +
      // the stateless streaming contamination probe emits exactly the
      // batch result (literal eval set, same shingle arithmetic)
      ("stream_contamination" -> base("text_contamination")) +
      // same corpus, same dup-gram set, same window/island arithmetic —
      // the stream emits exactly the batch coverage rows
      ("stream_dup_spans" -> base("text_dup_spans")) +
      // the stored index IS the batch miner's dup set at rest
      ("text_dup_spans_stored" -> base("text_dup_spans")) +
      // gram counts merge by addition, replay-deduped — base + increment
      // equals the one-shot whole-corpus mine
      ("text_dup_index_incr" -> base("text_dup_spans")) +
      // the same additive merge under streaming batch keys
      ("stream_dup_index" -> base("text_dup_spans")) +
      // same set, same islands, same survivor rebuild — per row
      ("stream_excise_spans" -> base("text_excise_spans")) +
      // deltas land in the observing sample's bucket, so stored hourly
      // increase rows sum to the direct daily pass exactly
      ("rollup_counter_store" -> base("ts_counter_increase")) +
      // stateless membership + replay-keyed appends: the streamed sample
      // store holds exactly the batch build's rows, so estimates match
      ("stream_aqp_ingest" -> base("aqp_event_stats")) +
      // the TVF expands to the identical estimate plan over the same
      // store — same sample, same Horvitz-Thompson integers
      ("aqp_sql" -> base("aqp_event_stats")) +
      // the coarsening tier: pre-cutoff hourly buckets fold 24x into the
      // daily store; the stitched read telescopes to the direct pass
      ("rollup_counter_tiered" -> base("ts_counter_increase")) +
      // stream-maintained counter store: cross-batch lag in state, per-
      // batch additive appends — the drained store reads the batch rule
      ("stream_counter_store" -> base("ts_counter_increase")) +
      // the budget router on the counter tier: the month/40-point budget
      // clamps to the daily tier — the oracle is the direct daily pass
      // with the routing contract columns attached
      ("rollup_counter_route" ->
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) AS ts, event_id,
          |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          |  FROM events
          |), p AS (
          |  SELECT user_id, ts, c,
          |    lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS prev
          |  FROM e WHERE c IS NOT NULL
          |)
          |SELECT user_id,
          |  (ts - ((ts % 86400000000000) + 86400000000000) % 86400000000000)
          |    // 86400000000000 AS bucket,
          |  CAST(count(*) AS BIGINT) AS n_deltas,
          |  CAST(sum(CASE WHEN c >= prev THEN c - prev ELSE c END)
          |    AS BIGINT) AS inc_cents,
          |  CAST(sum(CASE WHEN c < prev THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_resets,
          |  CAST(86400000000000 AS BIGINT) AS grain_ns,
          |  'stitched' AS source
          |FROM p WHERE prev IS NOT NULL
          |GROUP BY 1, 2
          |ORDER BY user_id, bucket""".stripMargin) +
      // same clamped-to-1h stitched contract as the tiered route, now
      // over the dialect's own retained __day-block table
      ("rollup_metrics_route" -> base("rollup_route_tiered")) +
      // in-row chunk/probe/reassemble against the static corpus's mined
      // span set = the batch cleaned text bit-for-bit (JVM md5 == md5())
      ("stream_remove_boilerplate" -> base("text_remove_boilerplate")) +
      // probing the persisted span index runs the identical cleaning —
      // only the span set's provenance (parquet vs recompute) differs
      ("text_remove_boilerplate_stored" -> base("text_remove_boilerplate")) +
      // the stateless band semi-join admits exactly the batch trim set
      ("stream_length_trim" -> base("quality_length_trim")) +
      // the stream-maintained index holds exactly the batch assignment
      // (same centroids, same arithmetic, only arrival path differs), so
      // the stored probe shares knn_ivf's value oracle
      ("stream_ivf_ingest" -> base("knn_ivf")) +
      // symmetric bucket collision: streaming the corpus against its own
      // signature index emits the batch LSH pair set
      ("stream_embed_neardup" -> base("dedup_embedding_lsh")) +
      // one AvailableNow batch in md5 order admits the batch survivor set
      ("stream_mix_sample" -> base("mix_sample")) +
      // the adjacency-list pair generator emits exactly the self-join's
      // pair multiset, so the whole pipeline shares the same SQL
      ("dedup_jaccard_grouped" -> base("dedup_jaccard_pairs")) +
      // probing the persisted reference index runs the identical
      // keptExploded/crossVerify computation — only the ref frame's
      // provenance (parquet index vs recompute) differs
      ("dedup_index_probe" -> base("dedup_cross_corpus")) +
      // the stateless UDF argmax reproduces the batch window argmax
      // bit-for-bit (same cosine accumulation, same tie-break)
      ("stream_embed_outliers" -> base("embed_outliers")) +
      // one drained batch processes each user's rows in event-time order
      // through the same integer z-test → exactly the batch flag set
      ("stream_zscore" -> base("ts_zscore_anomaly")) +
      // one drained batch replays each user in (ts, id) order — exactly
      // the batch recurrence folds, so both twins share their oracles
      ("stream_ewma" -> base("ts_ewma")) +
      // per-sample delta partials are associative — the drained-sink
      // roll-up equals the batch per-day counter increase exactly
      ("stream_counter_increase" -> base("ts_counter_increase")) +
      // per-bucket rollup partials are associative (decimal sums, min/max,
      // counts), so the stream-maintained store's daily rollup equals the
      // raw-table aggregate bit-for-bit
      ("stream_rollup_store" -> base("rollup_store_daily")) +
      // streamed (n, Σv, Σv²) partials fold to the direct variance
      // numerator exactly — the unkeyed twin of rollup_store_stddev
      ("stream_rollup_stddev" ->
        """WITH e AS (
          |  SELECT epoch_ns(ts) AS ts, CAST(value AS DECIMAL(18,2)) AS v
          |  FROM events
          |)
          |SELECT (ts // 86400000000000) * 86400000000000 AS bucket_ts,
          |  count(*) AS n,
          |  CAST(count(*) * sum(v*v) - sum(v)*sum(v) AS DOUBLE) AS var_num
          |FROM e GROUP BY 1
          |ORDER BY bucket_ts""".stripMargin) +
      // the raw-less stitch (mirror [horizon,∞) ∪ tiers) folds the same
      // associative partials, so it shares the raw-table oracle too
      ("stream_rollup_cascade" -> base("rollup_store_daily")) +
      // the keyed stream-maintained store folds the same per-series
      // partials the batch keyed store does — shared grouped oracle
      ("stream_rollup_keyed" -> base("rollup_keyed_daily")) +
      // dropping the dimension folds across keys with the same
      // associative merges — equals the UNKEYED daily aggregate
      ("rollup_keyed_fold" -> base("rollup_store_daily")) +
      // tier windows are key-agnostic (global horizon), so the keyed
      // stitched read shares the never-tiered grouped oracle
      ("rollup_keyed_tiered" -> base("rollup_keyed_daily")) +
      // the per-series sketch unions across the tier boundary under the
      // same rank-error gate the untiered keyed store uses
      ("rollup_keyed_tiered_users" -> base("rollup_keyed_users")) +
      // same argument through the full raw→1h→1d policy cascade
      ("rollup_keyed_cascade" -> base("rollup_keyed_daily")) +
      // per-(series, day) counters vector-add to per-series totals and
      // the shared integer finisher reproduces the direct operator
      ("rollup_keyed_p90" -> base("ts_histogram_quantile")) +
      // the keyed router clamps the month budget to the daily tier —
      // the grouped daily oracle plus the clamped grain/source literals
      ("rollup_keyed_cascade_route" ->
        """SELECT event_type,
          |  (epoch_ns(ts) // 86400000000000) * 86400000000000
          |    AS bucket_ts,
          |  count(*) AS n,
          |  CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
          |  CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
          |  CAST(86400000000000 AS BIGINT) AS grain_ns,
          |  'stitched' AS source
          |FROM events GROUP BY 1, 2
          |ORDER BY event_type, bucket_ts""".stripMargin) +
      // the same routed answer through the SQL table function, one series
      ("rollup_route_sql" ->
        """SELECT event_type,
          |  (epoch_ns(ts) // 86400000000000) * 86400000000000
          |    AS bucket_ts,
          |  count(*) AS n,
          |  CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
          |  CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
          |  CAST(86400000000000 AS BIGINT) AS grain_ns,
          |  'stitched' AS source
          |FROM events WHERE event_type = 'click' GROUP BY 1, 2
          |ORDER BY bucket_ts""".stripMargin) +
      ("stream_cusum" -> base("ts_cusum")) +
      ("stream_holt" -> base("ts_holt")) +
      // profile built from the full history == leave-in batch semantics
      ("stream_seasonal" -> base("ts_seasonal_anomaly")) +
      // drained scored-candidate sink rolled up == the batch ranker
      ("stream_bm25" -> base("retrieval_bm25")) +
      // disjoint whole-bucket tiers merge with the same associative fold
      // any rollup uses, so the stitched read equals the raw-table daily
      // aggregate exactly
      ("rollup_tiered_scan" -> base("rollup_store_daily")) +
      // the tiered layout's sketch dims stitch through the same
      // associative unions (HLL union, counter vector-add) the store's
      // own rollups use — so they share the untiered store's oracles
      ("rollup_tiered_users" -> base("rollup_store_users")) +
      ("rollup_tiered_p90" -> base("rollup_store_p90")) +
      // three tiers partition the timeline by horizon windows; the
      // stitched fold is associative, so the cascade shares the
      // raw-table oracles too
      ("rollup_cascade_daily" -> base("rollup_store_daily")) +
      ("rollup_cascade_users" -> base("rollup_store_users")) +
      ("rollup_cascade_p90" -> base("rollup_store_p90")) +
      // the policy-driven layout is a cascade like any other — the
      // stitched fold is associative, so it shares the raw-table oracle
      ("rollup_retention_scan" -> base("rollup_store_daily")) +
      ("rollup_retention_mirror" -> base("rollup_store_daily")) +
      // the trimmed metrics table + its history store stitch to the same
      // daily aggregate the raw table yields
      ("rollup_metrics_history" -> base("rollup_store_daily")) +
      // the stored probe reads the identical tf/dl/dfs frames back from
      // the term-bucketed layout (bucket pruning only skips rows no query
      // term can join), so it shares retrieval_bm25's value oracle
      ("retrieval_bm25_stored" -> base("retrieval_bm25")) +
      // the stored tokenizer round-trips the identical rank-ordered merge
      // list, so encoding is byte-identical to the in-process chain
      ("text_bpe_encode_stored" -> base("text_bpe_encode")) +
      // the stored LM round-trips the exact uni/bi counts + V scalar —
      // same smoothed rationals, same fixed-point scores
      ("text_lm_score_stored" -> base("text_lm_score")) +
      // stateless partials against the stored LM, reduced on the drained
      // sink — associative sums reproduce the batch scores exactly
      ("stream_lm_score" -> base("text_lm_score")) +
      // the stored classifier round-trips the exact weight table + the
      // (w0, s) scalars — same ratio weights, same fixed-point scores
      ("text_classifier_stored" -> base("text_classifier_score")) +
      // base + appended + replayed count batches merge by addition to
      // the one-shot train's totals — same weights, same scores
      ("text_classifier_incr" -> base("text_classifier_score")) +
      // stateless per-token weight lookups against the stored model,
      // reduced on the drained sink — associative sums reproduce the
      // batch scores exactly
      ("stream_classifier" -> base("text_classifier_score")) +
      // stateless per-token partials against the stored weight table;
      // the sink reduce + md5 coin reproduce the batch sampler exactly
      ("stream_mix_importance" -> base("mix_importance")) +
      // the sequential greedy stage pointer over ts-ordered events IS
      // the batch funnel's earliest-first matching
      ("stream_funnel" -> base("ts_funnel")) +
      // a drained complete-mode count aggregation holds exactly the batch
      // token counts — same tokenizer, same tie-break, same top-50
      ("stream_top_tokens" -> base("text_top_tokens")) +
      // one drained batch replays each key in (ts, id) order through the
      // last-event state — the emitted pair multiset IS the batch lead
      // window's, so the counted sink equals the batch matrix
      ("stream_transitions" -> base("ts_transitions")) +
      // a drained complete-mode conditional-sum agg holds exactly the
      // batch pivot's counts (same day buckets, same type list)
      ("stream_pivot_types" -> base("agg_pivot_types")) +
      // the identical intervalJoin plan with a streaming points side —
      // a drained stream rolls up exactly the batch attribution
      ("stream_interval_join" -> base("ts_interval_join")) +
      // the bucket-rewritten band join is stateless against the static
      // right side — drained pairs are the batch pair set bit-for-bit
      ("stream_tolerance_join" -> base("ts_tolerance_join")) +
      // the drained user-day ledger IS the batch distinct (user, day)
      // frame with cohort tags — both rollups equal their batch twins
      ("stream_retention" -> base("ts_retention")) +
      ("stream_active_users" -> base("ts_active_users")) +
      // a drained complete-mode heatmap agg holds exactly the batch
      // dow×hour counts (same integer arithmetic)
      ("stream_heatmap" -> base("ts_heatmap")) +
      // drained complete-mode bucket counts + the same exact finisher ==
      // the batch histogram quantile bit-for-bit
      ("stream_histogram" -> base("ts_histogram_quantile")) +
      // the literal vocabulary equals the batch top-100 (same total
      // order), so the drained pair counts equal the batch matrix
      ("stream_cooccur" -> base("text_cooccur")) +
      // identical vocabulary + pairing UDF → identical pair multiset
      ("stream_window_cooccur" -> base("text_window_cooccur"))
  }
}
