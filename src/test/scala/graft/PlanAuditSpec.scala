package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits for the headline queries: the properties that keep
  * each plan viable at 1000× the data — pushdown reaching the scan,
  * broadcast for small dims, partial aggregation, no accidental cartesian
  * products or single-partition windows.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("meta .describe/.block_list answer from footers — no data scan") {
    val bl = SparkEntry.queries("meta_block_list")(spark, d)
    val de = SparkEntry.queries("meta_describe_all")(spark, d)
    // footer stats are read driver-side; the frame itself is a local relation
    assert(!bl.queryExecution.executedPlan.toString.contains("FileScan"),
      bl.queryExecution.executedPlan.toString)
    assert(!de.queryExecution.executedPlan.toString.contains("FileScan"),
      de.queryExecution.executedPlan.toString)
  }

  test("ql_range: ts predicate pushed to parquet OR cache-filtered") {
    val p = plan("ql_range")
    assert(p.contains("GreaterThanOrEqual(ts,") || // parquet pushdown
      (p.contains("InMemoryTableScan") && p.contains("ts#")), p)
  }

  test("ts_scan_project: column-pruned read") {
    // pruning shows as a 2-column parquet ReadSchema, or — when the table
    // got plan-matched against a cached relation — a 2-column
    // InMemoryTableScan (cache-level pruning)
    val p = plan("ts_scan_project")
    assert(p.contains("ReadSchema: struct<event_id:bigint,value:double>") ||
      p.matches("(?s).*InMemoryTableScan \\[event_id#\\d+L, value#\\d+\\].*"), p)
  }

  test("join_revenue_by_nation: nation broadcast, no shuffle for the dim") {
    val p = plan("join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join_bucketed: bucket-pruned scans, no Exchange below the join") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("SelectedBucketsCount"), p)
    // the plan tree prints children BELOW their parent: everything after
    // the SortMergeJoin line is its join legs (plus the nation dim's
    // BroadcastExchange), which must read the pre-bucketed files directly —
    // shuffle Exchanges are only allowed ABOVE the join (final agg/sort)
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange hashpartitioning"), p)
  }

  test("agg queries use two-phase hash aggregation (map-side partial)") {
    for (q <- Seq("agg_downsample_1h", "agg_event_type_stats", "tpch_q1")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q missing partial agg:\n$p")
      assert(p.contains("HashAggregate"), s"$q not hash-aggregated:\n$p")
    }
  }

  test("windowed queries partition their windows (no global window)") {
    for (q <- Seq("window_top_orders", "sessionize_stats",
        "asof_purchase_view", "ts_zscore_anomaly", "embed_outliers",
        "ts_transitions", "ts_gaps", "ts_event_features")) {
      val p = plan(q)
      // empty partition spec renders as 'Window [..., ORDER BY ...]' with
      // no partitionBy clause and triggers the WindowExec warning; all our
      // windows must carry a partition spec
      assert(p.contains("hashpartitioning"), s"$q window not partitioned:\n$p")
    }
  }

  test("knn_brute: the only cross join is the broadcast query fan-out") {
    val p = plan("knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("knn top-k windows are group-limit pruned map-side") {
    // the shared rankTopK tail relies on Spark 4 planning `row_number()
    // <= k` as WindowGroupLimit Partial → Final: each map task forwards
    // only k rows per query BEFORE the exchange, so shuffle volume is
    // O(k · partitions) per query, not O(candidates). If this pin breaks
    // (plan shape change, a scoring expr defeating the rewrite), the
    // candidate set starts crossing the wire whole — at brute-force scale
    // that is the corpus once per query. The measured-slower aggregator
    // alternative is rankTopKAgg (see the Scaladoc there).
    for (q <- Seq("knn_brute", "knn_lsh", "knn_ivf", "knn_quantized")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q rank window unpruned:\n$p")
      assert(p.contains("Partial"), s"$q group-limit not map-side:\n$p")
    }
  }

  test("dedup_jaccard_pairs: inverted-index joins, no cartesian product") {
    val p = plan("dedup_jaccard_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("jaccard self-join children are identical — exchange computed once") {
    // the shingle+df-cap pipeline feeds BOTH sides of the inverted-index
    // self-join; identical canonical children let ReuseExchange materialize
    // it once (aliasing per side before the join would run it twice)
    val df = SparkEntry.queries("dedup_jaccard_pairs")(spark, d)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("StageReuse"), p)
  }

  test("grouped head threshold avoids a global-window plan") {
    val df = SparkEntry.queries("ql_head_limit")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window ["), p) // threshold impl: filter, not window
  }

  test("text_contamination: eval shingle probe broadcasts, no cartesian") {
    val p = plan("text_contamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p) // per-doc hit counts combine map-side
  }

  test("sampling prefix-sums: windows bucketed, offsets broadcast") {
    for (q <- Seq("mix_sample", "sample_stratified")) {
      val p = plan(q)
      // the wide window must be partitioned on (domain, bucket) — a
      // per-domain-only window would serialize each domain's corpus
      // through one task
      assert(p.matches(
        "(?s).*windowspecdefinition\\(lang#\\d+, __bucket#\\d+.*"),
        s"$q wide window not (domain, bucket)-partitioned:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p") // offsets join
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("text_dup_ngrams: distributed top-k, map-side-combined df count") {
    val p = plan("text_dup_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p) // no global sort
    assert(p.contains("partial_"), p)
  }

  test("approx_distinct_tokens: sketch aggregation is two-phase") {
    val p = plan("approx_distinct_tokens")
    assert(p.contains("partial_hll_sketch_agg") ||
      (p.contains("partial_") && p.contains("hll_sketch_agg")), p)
  }

  test("cross-corpus near-dup: inverted-index join, broadcast stop list") {
    val p = plan("dedup_cross_corpus")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p) // the tiny stop-list cross join
    assert(p.contains("partial_"), p)    // shared-shingle counts combine
  }

  test("keep-best dedup is one two-phase agg — no per-group window") {
    val p = plan("dedup_keep_best")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p) // argmax fold, not row_number
  }

  test("length filter: quantile bounds broadcast back onto the corpus") {
    val p = plan("text_length_filter")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cluster stats: broadcast centroid fan-out, partial count") {
    val p = plan("embed_cluster_stats")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // centroids broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("knn_ivf_stored: probe prunes the cell-partitioned index scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def collectScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec    => Seq(f)
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case s: QueryStageExec        => collectScans(s.plan)
      case r: ReusedExchangeExec    => collectScans(r.child)
      case other => (other.children ++ other.subqueries).flatMap(collectScans)
    }
    // selective probe: one query, nprobe=2 — at sf0.001 the driver query's
    // 10 queries × nprobe 3 legitimately touch every one of the ~10 cells,
    // so pruning is only observable with a narrower probe set
    import org.apache.spark.sql.functions._
    val emb = graft.storage.Tables.read(spark, d, "embeddings")
    val cents = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val path = new java.io.File(SparkTestBase.tempDir("graft-ivf-prune"), "idx").getPath
    graft.pipeline.Similarity.writeIvf(
      graft.pipeline.Similarity.ivfAssign(emb, cents), path)
    val df = graft.pipeline.Similarity.ivfKnnStored(spark, path, cents, q,
      k = 5, nprobe = 2)
    df.collect() // finalize the adaptive plan before walking it
    val scans = collectScans(df.queryExecution.executedPlan)
    // the stored-corpus scan: partitioned on cid, filtered to probed cells
    val ivfScan = scans.find(_.relation.partitionSchema.fieldNames.contains("cid"))
    assert(ivfScan.isDefined, df.queryExecution.executedPlan.toString)
    val s = ivfScan.get
    assert(s.partitionFilters.exists(_.references.exists(_.name == "cid")),
      s.toString)
    // pruning is real: strictly fewer cell directories read than exist
    val totalCells = s.relation.location.inputFiles
      .flatMap(_.split("/").find(_.startsWith("cid="))).distinct.length
    val readCells = s.selectedPartitions.partitionCount
    assert(readCells < totalCells,
      s"no pruning: read $readCells of $totalCells cells")
    assert(readCells > 0)
  }

  test("retrieval_bm25_stored: probe prunes the term-bucketed tf scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def collectScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec    => Seq(f)
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case s: QueryStageExec        => collectScans(s.plan)
      case r: ReusedExchangeExec    => collectScans(r.child)
      case other => (other.children ++ other.subqueries).flatMap(collectScans)
    }
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.storage.Tables.read(spark, d, "documents")
    val path = new java.io.File(SparkTestBase.tempDir("graft-bm25-prune"),
      "idx").getPath
    graft.pipeline.Retrieval.writeBm25Index(docs, path, buckets = 64)
    // one-term query: at 64 buckets a single term probes exactly 1
    val q = Seq((1L, "vector")).toDF("query_id", "qtext")
    val df = graft.pipeline.Retrieval.bm25Stored(spark, path, q, topK = 5)
    df.collect() // finalize the adaptive plan before walking it
    val scans = collectScans(df.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("tok_bkt"))
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "tok_bkt")),
        s.toString)
      val totalBkts = s.relation.location.inputFiles
        .flatMap(_.split("/").find(_.startsWith("tok_bkt="))).distinct.length
      val readBkts = s.selectedPartitions.partitionCount
      assert(readBkts < totalBkts,
        s"no pruning: read $readBkts of $totalBkts buckets")
      assert(readBkts > 0)
    }
  }

  test("text_novelty: df joined back on the shingle key, no cartesian") {
    val p = plan("text_novelty")
    assert(!p.contains("Cartesian"), p)
    // df count partial-aggregates map-side before the vocabulary shuffle
    assert(p.contains("partial_count"), p)
    // equi-join on the shingle key; at probe scale the vocabulary-sized df
    // frame broadcasts (correct — it IS small), at corpus scale its stats
    // exceed the threshold and the same plan shuffles on __tok, reusing
    // the df aggregation's partitioning
    assert(p.contains("HashJoin [__tok") || p.contains("SortMergeJoin [__tok")
      || p.contains("BroadcastHashJoin [__tok"), p)
  }

  test("contamination_report: both probe frames broadcast (eval-sized)") {
    val p = plan("contamination_report")
    assert(!p.contains("Cartesian"), p)
    // eval vocabulary into the train scan, matched set back onto eval rows
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("dedup_bloom: bloom prescreen filters the scan before the verify join") {
    val df = SparkEntry.queries("dedup_bloom")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian"), p)
    // the mightContain UDF sits in a Filter on the incoming side, BELOW
    // the fingerprint semi-join (deeper in the printed tree = larger
    // index) — candidates, not the corpus, reach the join
    assert(p.contains("LeftSemi"), p)
    assert(p.indexOf("UDF") > p.indexOf("LeftSemi"), p)
  }

  test("ts_interval_join: bin equi-join, never a nested-loop range join") {
    val p = plan("ts_interval_join")
    // the whole point of binning: the range predicate must ride an
    // equi-join (hash or sort-merge), not BroadcastNestedLoop/Cartesian
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("tpch_q3: date filters reach both scans, semi-join prunes orders") {
    val p = plan("tpch_q3")
    assert(p.contains("LeftSemi"), p)
    // pushed-down date predicates on both fact scans
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    // revenue agg is partial before the final top-10
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("knn_ivfpq_stored: probe prunes the cell-partitioned encoded scan") {
    val df = SparkEntry.queries("knn_ivfpq_stored")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // the static cid filter must reach the parquet scan as a partition
    // filter — the file-listing-time pruning the at-rest layout buys
    assert(p.contains("PartitionFilters: [cid"), p)
  }

  test("tpch_q5: dim chain broadcasts, date filter pushed, no cartesian") {
    val p = plan("tpch_q5")
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("tpch_q18: having pre-agg is partial, joins stay hash, top-100 TOP") {
    val p = plan("tpch_q18")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    // the quantity pre-aggregate combines map-side before its shuffle
    assert(p.contains("partial_sum"), p)
    // final ordering is a distributed top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sketch_store_rollup: stored-sketch read prunes non-selected groups") {
    // the rollup must answer from the selected sources' partitions alone —
    // file-listing-time pruning, no raw-text rescan
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_sketch_store_audit"
    graft.pipeline.Text.writeSketchStore(
      graft.storage.Tables.read(spark, d, "documents"), path)
    val roll = graft.pipeline.Text.sketchRollup(
      spark, path, Seq("src0", "src1"))
    val p = roll.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [source"), p)
    // and the merge is a real partial/merge aggregate over the store rows
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("tpch_q10: revenue pre-aggregated before the customer join, top-20") {
    val p = plan("tpch_q10")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    // per-custkey revenue combines map-side BEFORE the customer join —
    // the join input is customers-with-returns, not return lines
    assert(p.contains("partial_sum"), p)
    // returnflag and the quarter filter reach their scans
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    // top-20 is a distributed TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpch_q12: residual date predicate on a hash join, year pushed") {
    val p = plan("tpch_q12")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    // the ship-vs-order date comparison rides the orderkey equi-join as
    // a residual — never demoting it to a range-join nested loop
    assert(p.contains("HashJoin"), p)
    // the year filter reaches the lineitem scan; both CASE sums are one
    // partial aggregate
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("tpch_q4: exists is a semi hash join with residual, quarter pushed") {
    val p = plan("tpch_q4")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    // EXISTS compiles to a LeftSemi HASH join on orderkey — the
    // correlated date comparison rides as a residual condition, never
    // demoting the join to a nested loop
    assert(p.contains("LeftSemi"), p)
    // the quarter filter reaches the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("tpch_q22: anti join stays hash, threshold broadcast, date pushed") {
    val p = plan("tpch_q22")
    assert(!p.contains("Cartesian"), p)
    // NOT EXISTS compiles to a LeftAnti HASH join on custkey — the only
    // nested loop allowed is the 1-row threshold broadcast
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    // the dormancy cutoff reaches the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("ts_concurrency: keyless interval join stays an equi-join") {
    val p = plan("ts_concurrency")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
  }

  test("text_cooccur: capped vocabulary broadcasts onto the token stream") {
    val p = plan("text_cooccur")
    assert(!p.contains("Cartesian"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("heavy hitters: object-hash agg with a real partial/merge split") {
    val df = SparkEntry.queries("text_heavy_hitters")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // typed MG Aggregator plans as ObjectHashAggregate twice (partial +
    // final) — the mergeable-sketch shape, not a single-node fold
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("embed_label_centroids: partial aggregation under the posexplode") {
    val p = plan("embed_label_centroids")
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("ts_seasonal_anomaly: 168-cell profile broadcast, no window") {
    val p = plan("ts_seasonal_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p) // the whole point vs the z-score op
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("ts_paa_symbols: window runs per key over pre-aggregated segments") {
    val p = plan("ts_paa_symbols")
    // the agg shrinks events -> segments BEFORE the ntile window, and the
    // window partitions by user (no global sort of raw events)
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(p.indexOf("HashAggregate") >= 0 &&
      p.indexOf("Window") < p.lastIndexOf("HashAggregate"), p)
  }

  test("retrieval_bm25: top-k via WindowGroupLimit, query side broadcast") {
    val p = plan("retrieval_bm25")
    assert(p.contains("WindowGroupLimit"), p) // rank-limit pushdown, no sort
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ts_rate_cusum grid: calendar-bounded explode, no cartesian") {
    // the zero-fill grid comes from a per-user sequence explode over the
    // (min,max) day span — metadata-sized fan-out, never a day-dim cross
    // join — and the count agg is map-side combinable before it
    val df = SparkEntry.queries("ts_rate_cusum")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
  }

  test("pagerank superstep reads cached nodes/deg — no re-derived distinct") {
    // the loop-invariant frames persist once: superstep k's plan must
    // reference them as InMemoryTableScan, and the union-distinct that
    // derives `nodes` (HashAggregate(keys=[node], functions=[])) must NOT
    // reappear in the outer plan — without the pin it re-runs every round
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val p = graft.operators.GraphOps.pageRank(e, iters = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.matches(
      "(?s).*HashAggregate\\(keys=\\[node#\\d+L?\\], functions=\\[\\]\\).*"), p)
    spark.sharedState.cacheManager.clearCache()
  }

  test("tpch_q2: per-part window min, ONE lineitem scan, filter pushed") {
    val p = plan("tpch_q2")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    // the groupwise min is a bounded per-part WINDOW (suppliers per
    // part), so the whole query reads lineitem exactly once — the
    // agg+rejoin alternative scans it twice
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
    // the EUROPE supplier scope is a semi join; the (size, type) part
    // filter reaches the part scan and broadcasts onto lineitem BEFORE
    // the cost aggregation
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("EqualTo(p_size,15)"), p)
    assert(p.contains("partial_min"), p)
    // top-100 is a distributed TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpch_q17: correlated avg as a per-part window, ONE lineitem scan") {
    val p = plan("tpch_q17")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
    // the (brand, type) part filter reaches the part scan
    assert(p.contains("EqualTo(p_brand,Brand#23)"), p)
  }

  test("tpch_q8: both dim chains broadcast, date pushed, one agg pass") {
    val p = plan("tpch_q8")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // customer-region membership is a semi join, never an attribute join
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    // both CASE sums fold into ONE partial aggregate
    assert(p.contains("partial_sum"), p)
  }

  test("tpch_q9: LIKE filter pushed to the part scan, profit one pass") {
    val p = plan("tpch_q9")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    assert(p.contains("StringContains(p_name,red)"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("tpch_q11: only nested loop is the 1-row threshold broadcast") {
    val p = plan("tpch_q11")
    // the global total joins as a BroadcastNestedLoopJoin over ONE row —
    // and that must be the ONLY nested loop in the plan
    assert("NestedLoopJoin".r.findAllIn(p).size == 1, p)
    assert(p.contains("EqualTo(n_name,NATION_7)"), p)
    assert(p.contains("partial_sum"), p)
    // the per-part aggregate is PINNED: both the total branch and the
    // output branch read the cached frame, so lineitem scans once
    assert(p.contains("InMemoryRelation"), p)
    spark.sharedState.cacheManager.clearCache()
  }

  test("tpch_q15: scalar max broadcasts, revenue view pinned") {
    val p = plan("tpch_q15")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    assert(p.contains("partial_max"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-supplier revenue view is PINNED — the max branch and the
    // output branch share it instead of each rescanning lineitem
    assert(p.contains("InMemoryRelation"), p)
    spark.sharedState.cacheManager.clearCache()
  }

  test("tpch_q16: complaint exclusion is a broadcast anti join") {
    val p = plan("tpch_q16")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    assert(p.contains("LeftAnti"), p)
    // the size IN-list reaches the part scan (the PushedFilters print
    // elides long lists — pin the data filter on the scan instead)
    assert(p.contains("IN (1,4,7,10,13,16,19,23)"), p)
  }

  test("tpch_q20: both quantity sums in ONE lineitem pass, prefix pushed") {
    val p = plan("tpch_q20")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    // the correlated agg-vs-agg comparison must NOT self-join lineitem:
    // exactly one lineitem scan in the whole plan
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("StringStartsWith(p_name,red)"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("tpch_q21: exists/not-exists as one per-order agg, top-100 TOP") {
    val p = plan("tpch_q21")
    assert(!p.contains("Cartesian") && !p.contains("CartesianProduct"), p)
    // the only-late-supplier condition rides the decorrelated aggregate,
    // the probe is a semi join, and the late residual stays on a HASH join
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("HashJoin"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("shuffleShards: one hash shuffle on shard, never a range sort") {
    // audit the OP (not the gate query, whose display orderBy adds a
    // legitimate final sort): the window must hash-partition by shard
    // with a LOCAL sort — a rangepartitioning here would mean the
    // "deterministic shuffle" is secretly a global sort
    val docs = graft.storage.Tables.read(spark, d, "documents")
      .select("doc_id")
    val p = graft.pipeline.Text.shuffleShards(docs, "doc_id", 7L, 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning(shard"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert("Sort \\[shard[^\\]]*\\], false".r.findFirstIn(p).isDefined, p)
  }

  test("profile_documents: all columns profiled in ONE scan") {
    val p = plan("profile_documents")
    // a per-column loop would rescan the table N times — the whole point
    // is one FileScan feeding one Expand-based multi-distinct aggregate
    assert("documents\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_count"), p)
  }

  test("quality_length_trim: band decided on the histogram, broadcast back") {
    val p = plan("quality_length_trim")
    // the percentile window must run over the per-(source, len) histogram
    // (aggregate BELOW the Window), and the kept lengths come back as a
    // broadcast semi join — the big table never sees a per-row window
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastExchange"), p)
    val win = p.indexOf("Window")
    assert(win >= 0, p)
    val below = p.substring(win)
    assert(below.indexOf("HashAggregate") >= 0 &&
      below.indexOf("HashAggregate") < below.indexOf("FileScan"), p)
  }

  test("recurrence fold input: one key shuffle, NON-global sort") {
    // the fold itself hides behind Scan ExistingRDD in the output plan, so
    // audit the prepared frame: repartition(user) must be a single hash
    // exchange and sortWithinPartitions must plan as a local (global=false)
    // sort — a global sort here would mean a second range shuffle
    val ev = graft.storage.Tables.read(spark, d, "events")
    val p = graft.operators.RecurrenceOps
      .prepared(ev, Seq("user_id"), "ts", "event_id", "value")
      .queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning(user_id"), p)
    assert(p.contains("Sort [user_id"), p)
    assert("Sort \\[[^\\]]*\\], false".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("dedup_fuzzy_pairs: blocked hash join, no all-pairs product") {
    // SymSpell deletion blocking must plan as equi hash joins on the
    // variant key — a Cartesian/NestedLoop here is the O(n²) scan the
    // blocking exists to avoid
    val p = plan("dedup_fuzzy_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("mix_importance: 256-row weight table broadcasts onto the tokens") {
    // the bucket-weight frame is metadata-sized by construction — it must
    // ride a BroadcastHashJoin into the one corpus scoring pass, and the
    // per-doc reduce must partial-aggregate map-side
    val p = plan("mix_importance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("text_lm_score: model joins are hash equi-joins, per-doc partial agg") {
    val p = plan("text_lm_score")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("text_bpe_encode: merge chain is codegen'd — zero joins in the plan") {
    // encoding cost must be independent of vocabulary size: the learned
    // merges unroll into a fixed expression chain, never a vocab-table join
    val p = plan("text_bpe_encode")
    assert(!p.contains("Join"), p)
    // merges apply as a Column `replace` chain inside a Project — codegen
    // territory — never a UDF (BatchEval/ScalaUDF) or an RDD seam
    assert(p.contains("replace("), p)
    assert(!p.contains("UDF") && !p.contains("Scan ExistingRDD"), p)
  }

  test("text_collocations: unigram vocabulary pinned — corpus scanned twice") {
    // the unigram aggregate feeds the N scalar plus two joins; without the
    // persist the corpus would be tokenized four times. collocations()
    // itself materializes and releases (topK rows), so the pin is
    // audited on the lazy collocationsPlan frame
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (frame, uni) = graft.pipeline.Text.collocationsPlan(docs, "text",
      minCount = 5, topK = 30)
    try {
      val p = frame.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally uni.unpersist()
  }

  test("graph_triangles: data-sized joins are hash equi-joins, no cartesian") {
    // the 1-ROW count frames combine via BNLJ by design; the edge and
    // adjacency joins — the ones that see data — must never cartesian.
    // trianglesPlan materializes the normalize/degree/orientation pins
    // (its broadcast decision needs the edge count), so this audits the
    // COUNTING stage's plan as the caller's collect would execute it.
    // Same per-order array pair enumeration as the graph_triangles
    // fixture — the audited plan must not drift from the benchmarked one
    import org.apache.spark.sql.functions.{col, array_sort, collect_set,
      explode, expr}
    val ev = spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = ev.groupBy("l_orderkey") // the graph_triangles fixture
      .agg(array_sort(collect_set("l_partkey")).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(" +
          "slice(ps, i + 2, greatest(size(ps) - i - 1, 0)), " +
          "y -> struct(x as src, y as dst))))")).as("e"))
      .select(col("e.src"), col("e.dst"))
    val (frame, cleanup) = graft.operators.GraphOps.trianglesPlan(pairs)
    try { // a failed assert must not strand the materialized pins or the
      // scratch spill for the rest of the suite
      val p = frame.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("BroadcastHashJoin"), p)
      // the two adjacency joins must share ONE broadcast relation: both
      // build sides read the same scratch FileScan, so after execution
      // (AQE-final plan) the second join reads a ReusedExchange —
      // building the humongous adjacency relation twice was half the
      // query's allocation footprint (BASELINE.md round-12)
      frame.collect()
      val fin = frame.queryExecution.executedPlan.toString
      if (fin.contains("BroadcastHashJoin"))
        assert(fin.contains("ReusedExchange"), fin)
    } finally cleanup()
  }

  test("rollup_route_tiered: each tier scans only its horizon window") {
    // the stitched serving read must stay partition-pruned on BOTH sides:
    // the store side lists only pre-horizon __day dirs, the raw side
    // pushes the at-or-after-horizon ts range to the parquet scan — and
    // the sketch columns the query does not select are pruned entirely
    val p = plan("rollup_route_tiered")
    val h = 1705276800000000000L // ns("2024-01-15"), the fixture cutoff
    assert(p.contains(s"GreaterThanOrEqual(ts,$h)"), p) // raw ≥ horizon
    assert(p.contains("__day") && p.contains("<= 2024-01-14"), p) // store < horizon
    assert(!p.contains("hll_sketch_agg"), p) // unselected dims pruned
  }

  test("rollup_route_mirror: mirror and tier each scan only their " +
      "horizon window of __day dirs") {
    // the raw-less stitched route must stay partition-pruned on both
    // store sides: the mirror lists only at-or-after-horizon day dirs,
    // the daily tier only pre-horizon ones (fixture horizon Jan 10)
    val p = plan("rollup_route_mirror")
    assert(p.contains("__day"), p)
    assert(p.contains(">= 2024-01-10"), p) // mirror: [horizon, ∞)
    assert(p.contains("<= 2024-01-09"), p) // tier: (-∞, horizon)
  }

  test("rollup range scan prunes day directories at file listing") {
    import spark.implicits._
    val H = 3600L * 1000000000L
    val day = 86400L * 1000000000L
    val p0 = SparkTestBase.tempDir("graft-rollplan") + "/store"
    graft.storage.RollupStore.write(
      Seq((1L * H, 1.0), (25L * H, 2.0), (49L * H, 3.0)).toDF("ts", "value"),
      p0, H)
    val pr = graft.storage.RollupStore.rollup(spark, p0, day,
        since = Some(day), until = Some(2 * day))
      .queryExecution.executedPlan.toString
    // the __day predicate must reach the scan as a PartitionFilter — the
    // file-listing-time pruning the date-bucketed layout exists for
    assert(pr.contains("PartitionFilters: [") && pr.contains("__day"), pr)
  }

  test("ts_tolerance_join: theta predicate planned as a hash equi-join") {
    // the raw |l.ts - r.ts| <= tol condition alone would plan as a
    // nested loop; the bucket rewrite must surface as an equi-join
    val p = plan("ts_tolerance_join")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("rollup_store_daily: answered from the store, raw table untouched") {
    val p = plan("rollup_store_daily")
    // the only scan is over rollup rows (bucket_ts/n/min_c/...); a raw
    // events column in the plan would mean the store was bypassed
    assert(p.contains("bucket_ts"), p)
    assert(!p.contains("event_type") && !p.contains("user_id"), p)
  }

  test("rollup_keyed_daily: keyed store serves alone; the key is a data " +
      "column of the store scan, not a raw-table join") {
    val p = plan("rollup_keyed_daily")
    // event_type must appear (it IS the dimension) but only from the
    // store's own scan — no events-table columns alongside it
    assert(p.contains("event_type"), p)
    assert(!p.contains("user_id") || p.contains("hll"),
      p) // user_id only ever as the sketch input, never a raw scan
    assert(!p.contains("value#"), p) // raw value column = store bypassed
    assert(p.contains("HashAggregate"), p)
  }

  test("counter store range read prunes day directories at file listing") {
    import spark.implicits._
    val H = 3600L * 1000000000L
    val day = 86400L * 1000000000L
    val p = SparkTestBase.tempDir("graft-ctrplan") + "/store"
    graft.storage.CounterStore.write(
      graft.operators.TsOps.counterIncrease(
        Seq((1L, 1L * H, 1L, 1.0), (1L, 25L * H, 2L, 2.0),
          (1L, 49L * H, 3L, 3.0)).toDF("user_id", "ts", "event_id", "value"),
        Seq("user_id"), H), p, H)
    val pr = graft.storage.CounterStore.read(spark, p, factor = 24L,
        since = Some(day), until = Some(2 * day))
      .queryExecution.executedPlan.toString
    // the __day predicate must reach the scan as a PartitionFilter — the
    // file-listing-time pruning the date-bucketed layout exists for
    assert(pr.contains("PartitionFilters: [") && pr.contains("__day"), pr)
  }

  test("rollup_keyed_route_one: the key predicate lands in the store " +
      "scan's pushed filters — one series served, not all-filter-later") {
    val p = plan("rollup_keyed_route_one")
    // the series predicate must reach the parquet reader of the STORE
    // scan (KB rows) as a pushed filter, not run as a post-stitch filter
    assert(p.contains("EqualTo(event_type,click)"), p)
    // and no other series' rows survive to the fold: the filter sits
    // under the aggregation, so the plan carries no Filter ABOVE the agg
    assert(p.contains("HashAggregate"), p)
  }

  test("text_dup_spans: occurrence count and probe are hash joins over " +
      "the gram key — no cartesian, windows partitioned per doc") {
    val p = plan("text_dup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the island merge runs as a per-doc window, never a global sort:
    // the Window's partition spec carries doc_id
    assert(p.matches("(?s).*Window.*doc_id.*"), p)
  }

  test("text_dup_spans_stored: the probe scans the tiny stored index, " +
      "not a second corpus-wide gram count") {
    val p = plan("text_dup_spans_stored")
    // exactly one aggregation tree feeds the index side: the stored
    // (gram, cnt) parquet replaces the corpus-wide re-count, so the
    // gram-count HashAggregate pattern of the direct pass is absent
    assert(p.contains("gram"), p)
    assert(!p.contains("__cnt"), p) // the re-count's column name
  }

  test("text_classifier_score: class filters pushed to the train scans, " +
      "counts two-phase, no cartesian") {
    val p = plan("text_classifier_score")
    // the train-split class predicates reach the parquet readers — each
    // count pass scans only its class's rows
    assert(p.contains("EqualTo(lang,en)"), p)
    assert(p.contains("Not(EqualTo(lang,en))"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("aqp_window: the time scope prunes __day directories off the " +
      "sample scan THROUGH the replay dedup") {
    val p = plan("aqp_window")
    // the [since, until) predicate must land as PartitionFilters on the
    // store's FileScan (every scope column is a grouping column of the
    // dedup aggregate, so Catalyst pushes it below) — a ten-day window
    // reads ten day directories, not the store
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*__day[^\\]]*\\].*"),
      p)
    assert(p.contains("partial_count"), p)
  }

  test("rollup_route_aqp: the routed fine zoom reads the SAMPLE store " +
      "with the widened bounds day-pruned, never the raw table") {
    val p = plan("rollup_route_aqp")
    // the one-day window lands as __day PartitionFilters on the sample
    // scan — the routed drill-in reads one day of the 1/32 sample
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*__day[^\\]]*\\].*"),
      p)
    // the sampled serve must not touch the raw events table: the only
    // FileScan is the sample store (rate_den rides its schema)
    assert(p.contains("rate_den"), p)
    assert(!p.contains("events.parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rollup_route_aqp_stratified: the keyed fine zoom reads the " +
      "STRATIFIED sample store day-pruned with the key predicate " +
      "pushed, never the raw table") {
    // the scan metadata here carries ts bounds + the key predicate —
    // longer than the 100-char default render cap, which would elide
    // the EqualTo this pin exists to see
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "2000")
    val p = try plan("rollup_route_aqp_stratified")
      finally spark.conf.set(key, prev)
    // the month window lands as __day PartitionFilters on the sample
    // scan; the key predicate reaches the reader as a pushed filter
    // (BELOW the replay dedup — byte-identical duplicates make the
    // filter/dedup order free) — "one series, zoomed" prunes the scan
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*__day[^\\]]*\\].*"),
      p)
    assert(p.contains("EqualTo(event_type,click)"), p)
    assert(p.contains("rate_den"), p)
    assert(!p.contains("events.parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipeline_train_prep: the composed head fans out ONCE — no " +
      "round-robin exchange stacked on another") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter,
      ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // the pipeline_train_prep call, on pure lineage (no pins) so every
    // copy of the head stays in the plan: trainPrep fans out before its
    // scrub, and curate's own defensive fanOut must see that and add none
    val docs = graft.storage.Tables.read(spark, d, "documents")
    val out = graft.pipeline.Pipelines.trainPrep(
      docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0), "doc_id", "text",
      docs.filter(pmod(col("doc_id"), lit(97L)) === 0),
      Map("en" -> 2000L, "de" -> 600L, "es" -> 600L, "fr" -> 500L),
      contextLen = 128, numBuckets = 4, materialize = false)
    val physical = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    def roundRobin(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
      case _ => false
    }
    // a round-robin exchange reached through narrow per-row ops only
    def fannedBelow(p: SparkPlan): Boolean = p match {
      case e if roundRobin(e) => true
      case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec |
          _: InputAdapter => fannedBelow(p.children.head)
      case _ => false
    }
    val fans = physical.collect { case e if roundRobin(e) => e }
    assert(fans.nonEmpty, physical)
    assert(!fans.exists(e => fannedBelow(e.children.head)), physical)
  }
}
