package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge frames — the third execution shape
  * the engine supports beyond one-pass plans and per-series folds:
  * a driver-side loop of DISTRIBUTED join+aggregate rounds (Pregel-lite).
  * The loop itself is metadata (a handful of iterations); every round is
  * one shuffle-join over the edge frame, so the work per round scales like
  * any other keyed join and rounds are independent of graph size.
  *
  * Connected components live in [[graft.pipeline.Dedup]] (large-star /
  * small-star); this object holds rank-propagation style iterations.
  */
object GraphOps {

  /** Integer PageRank: link authority with damping 0.85, all arithmetic in
    * 2^`scaleLog2`-scaled longs with floor division — bit-identical across
    * engines (the oracle unrolls the same iterations in SQL), no float
    * accumulation order anywhere. Per iteration, with S the scale, N the
    * node count, od(u) the out-degree:
    *
    *   contrib(edge u→v) = ⌊pr(u) / od(u)⌋
    *   pr'(v) = ⌊15·S / (100·N)⌋ + ⌊85·Σ_incoming contrib / 100⌋
    *
    * Initial pr = ⌊S/N⌋. Deliberate divergences from textbook PageRank,
    * documented for the exactness trade: floor-division rounding loses
    * ≤ 1 scaled unit per term (irrelevant at S = 2^30 for ranking), and
    * DANGLING-NODE mass is dropped rather than redistributed (total mass
    * decays slightly; relative ranking — the signal a curation pipeline
    * uses — is preserved, and the oracle matches exactly).
    *
    * Scale shape: the node frame and degree frame are PERSISTED once
    * before the loop (the `nodes.count()` that fetches N materializes the
    * cache, so no superstep ever re-runs the union-distinct over edges or
    * the degree agg); each iteration is edges ⋈ pr (shuffle on src) →
    * groupBy dst (combinable sum) → left join back to nodes — the classic
    * Pregel superstep as two keyed shuffles, nothing driver-side except
    * the N-count scalar and the iteration counter.
    *
    * Lineage still grows per round, so every `pinEvery` supersteps the
    * rank frame is pinned (eagerly materialized with lineage truncated)
    * via the [[graft.pipeline.Pipelines]] pin modes — `pinMode` picks the
    * mechanism: localCheckpoint for single-machine speed (default),
    * reliable checkpoint or DISK_ONLY_2 for preemptible fleets, exactly
    * the [[graft.pipeline.Pipelines.PinLocal]] trade. At the realistic
    * 10-20-iteration regime this bounds both the plan size (≤ pinEvery
    * supersteps of lineage at any point) and the recompute cost of a lost
    * partition. `pinEvery <= 0` disables pinning (pure lineage).
    *
    * Cache lifecycle: the returned frame's plan references the cached
    * nodes/deg (and the last pin), so they stay registered for its
    * lifetime — Spark's CacheManager dedups by canonicalized plan, so
    * repeated calls over the SAME edge frame reuse one entry rather than
    * accumulating; `spark.catalog.clearCache()` releases everything once
    * the ranks are consumed/written out. A long-lived serving session
    * ranking MANY different edge frames should pass
    * `unpersistOnExit = true` instead: the final ranks are pinned (one
    * eager materialization with lineage truncated) and every
    * CacheManager entry this call registered is released before return —
    * the returned frame owes nothing to the call's caches.
    */
  def pageRank(edges: DataFrame, iters: Int = 4, scaleLog2: Int = 30,
      srcCol: String = "src", dstCol: String = "dst",
      pinEvery: Int = 8,
      pinMode: String = graft.pipeline.Pipelines.PinLocal,
      unpersistOnExit: Boolean = false): DataFrame = {
    require(iters >= 1 && scaleLog2 >= 10 && scaleLog2 <= 40)
    val s = 1L << scaleLog2
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist()
    val n = nodes.count() // materializes the nodes cache
    require(n > 0, "pageRank needs a non-empty edge frame")
    val base = 15L * s / (100L * n)
    val deg = e.groupBy("src").agg(count(lit(1)).as("od")).persist()
    var pr = nodes.withColumn("pr", lit(s / n))
    var lastPin: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = e.join(pr.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"), expr("pr div od").as("__c"))
        .groupBy("node")
        .agg(sum("__c").as("__sum"))
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr("(85 * coalesce(__sum, 0L)) div 100")).as("pr"))
      if (pinEvery > 0 && i % pinEvery == 0 && i < iters) {
        val pinned = graft.pipeline.Pipelines.pinFrame(pr, pinMode)
        pinned.count() // eager: truncate lineage NOW, not at the final action
        // a disk-persisted pin holds executor disk until released; the
        // checkpoint modes own their cleanup (ContextCleaner / ckpt dir)
        if (lastPin != null) lastPin.unpersist()
        lastPin = pinned
        pr = pinned
      }
    }
    if (!unpersistOnExit) pr
    else {
      // decouple the result from this call's caches, then release them:
      // the pin truncates lineage so the returned frame no longer
      // references nodes/deg/lastPin
      val out = graft.pipeline.Pipelines.pinFrame(pr, pinMode)
      out.count()
      nodes.unpersist()
      deg.unpersist()
      if (lastPin != null) lastPin.unpersist()
      out
    }
  }

  /** Exact global triangle count by degree-ordered edge orientation — the
    * clustering-density signal (spam rings, template farms, tight co-link
    * clusters) a curation pipeline reads off its co-occurrence graphs.
    *
    * Input: UNDIRECTED distinct edges as pairs (direction, duplicates and
    * self-loops normalize away in-plan below). Every edge is oriented
    * from its lower-rank endpoint to its higher-rank endpoint under the
    * total order (degree, node) — the classic trick that bounds every
    * node's OUT-degree by O(√m) regardless of how skewed the raw degrees
    * are. Under that orientation every triangle's three edges all point
    * rank-upward, so it is counted EXACTLY once: at its lowest-rank edge
    * (a→b), as the common out-neighbor c of a and b.
    *
    * Count stage: per-node out-adjacency arrays (bounded at O(√m) entries
    * by the orientation), then one pass over the edge frame intersecting
    * the two endpoint arrays — Σ|N⁺(u) ∩ N⁺(v)|. Same Σ od² work as the
    * classic wedge join, but nothing wedge-shaped ever materializes as
    * rows: measured 2-4× faster than wedge-build + left-semi close at
    * sf0.1. The adjacency table (one row per node, m entries total)
    * broadcasts below `closeBroadcastMaxEdges`; past it the two
    * adjacency joins shuffle — the edge rows then carry adjacency-array
    * copies totaling Σ od² values, the same volume the wedge stream
    * would have shuffled, so the fallback is never WORSE than wedges.
    * No cartesian anywhere (PlanAuditSpec pins it), nothing driver-side
    * but the final scalar row. That row materializes INSIDE the call so
    * the persisted frames release before return — repeated calls over
    * different edge frames leak no cache entries. Consequence for plan
    * tooling: the returned frame is a 1-row local table, so PlanSnap
    * shows no join machinery for this operator — inspect the counting
    * plan via [[trianglesPlan]] instead (PlanAuditSpec does exactly
    * that); the no-cache-residue guarantee is worth the opaque dump.
    */
  def triangles(pairs: DataFrame, srcCol: String = "src",
      dstCol: String = "dst",
      closeBroadcastMaxEdges: Long = 4000000L): DataFrame = {
    val (out, cleanup) = trianglesPlan(pairs, srcCol, dstCol,
      closeBroadcastMaxEdges)
    // the result is ONE row of three scalars (metadata-sized by
    // construction), so it materializes here and the call's cache
    // entries and scratch spill release unconditionally — a serving
    // session running many graph calls over different edge frames
    // accumulates nothing
    try {
      val r = out.collect()(0)
      val sp = pairs.sparkSession
      import sp.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("n_nodes", "n_edges", "n_triangles")
    } finally cleanup()
  }

  /** The triangle-count plan plus a cleanup thunk (cache release +
    * scratch-spill delete) — split out so the plan audits can pin the
    * join shapes on the terminal frame while [[triangles]] owns the
    * final materialization and the cleanup call. The normalize/degree
    * stages are persisted and eagerly materialized HERE (the edge count
    * doubles as the broadcast decision); the ORIENTED edge frame spills
    * to a scratch parquet instead of the cache — a deliberate trade:
    * both adjacency-join build sides then read identical FileScans,
    * which canonicalize equal, so AQE ships ONE broadcast adjacency
    * relation and reuses it on the second join (ReusedExchange). Cached
    * children defeat that: the per-scan TableCacheQueryStage wrappers
    * break canonical equality in Spark 4.1's stage cache (measured —
    * two full m-entry relations built back to back, the humongous-
    * allocation churn behind this query's BASELINE.md GC-excursion
    * paragraphs). The same holds on the shuffle fallback: both
    * adjacency exchanges hash-partition the same file-backed
    * aggregation, so the second is a ReusedExchange there too. If
    * materialization throws, pins and spill release before rethrow —
    * the no-residue guarantee holds on the failure path. */
  private[graft] def trianglesPlan(pairs: DataFrame, srcCol: String = "src",
      dstCol: String = "dst",
      closeBroadcastMaxEdges: Long = 4000000L): (DataFrame, () => Unit) = {
    val registered = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val spark = pairs.sparkSession
    // the spill base MUST be executor-shared on a real cluster: executors
    // write the partitions, the next stage's tasks read them — a
    // driver-local tmpdir would silently lose every remote executor's
    // files. The session checkpoint dir is exactly that shared location
    // (the same contract reliable checkpoints / PinReliable already
    // impose); local[*] uses tmpdir, where one machine is both sides. A
    // multi-executor deployment WITHOUT a checkpoint dir gets no spill —
    // spillBase = None falls back to the cache-pin shape below: correct
    // everywhere, just without the single-broadcast exchange reuse
    val spillBase: Option[String] =
      if (spark.sparkContext.isLocal)
        Some(spark.sparkContext.getCheckpointDir
          .getOrElse(sys.props("java.io.tmpdir")))
      else spark.sparkContext.getCheckpointDir
    val scratch = new org.apache.hadoop.fs.Path(
      spillBase.getOrElse(sys.props("java.io.tmpdir")),
      s"graft-triangles-${java.util.UUID.randomUUID()}")
    def cleanup(): Unit = {
      registered.foreach(_.unpersist())
      if (spillBase.isDefined)
        try scratch.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(scratch, true)
        catch { case _: java.io.IOException => () }
    }
    def pin(df: DataFrame): DataFrame = { registered += df; df.persist() }
    try {
    val p0 = pairs.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // normalize defensively: undirected identity + no self-loops,
    // distinct; PERSISTED — it feeds the degree agg and the orientation
    // join, and the upstream (often a fan-out self-join) must not run
    // twice
    val p = pin(p0.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // one row per node; persisted — it feeds both orientation joins plus
    // the node count
    val deg = pin(p.select(col("src").as("node"))
      .unionAll(p.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient low rank → high rank under (deg, node)
    val withDeg = p
      .join(deg.withColumnRenamed("node", "src")
        .withColumnRenamed("deg", "sdeg"), "src")
      .join(deg.withColumnRenamed("node", "dst")
        .withColumnRenamed("deg", "ddeg"), "dst")
    // the oriented frame SPILLS to scratch parquet rather than pinning:
    // its two consumers (adjacency build + probe side) then read
    // identical FileScans, which is what lets the adjacency exchange be
    // built ONCE and reused (see the scaladoc) — and the spill write
    // materializes p's consumers, standing in for the old count().
    // Without a shared spill base (multi-executor, no checkpoint dir)
    // the frame pins in the cache instead — correct, two broadcasts
    val oriented0 = withDeg.select(
      when(col("sdeg") < col("ddeg") ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst")),
        struct(col("src").as("lo"), col("dst").as("hi")))
        .otherwise(struct(col("dst").as("lo"), col("src").as("hi")))
        .as("e"))
      .select(col("e.lo").as("u"), col("e.hi").as("v"))
    val oriented =
      if (spillBase.isDefined) {
        oriented0.write.parquet(scratch.toString)
        spark.read.parquet(scratch.toString)
      } else pin(oriented0)
    // the edge count decides whether the adjacency table broadcasts
    // (its total payload is exactly m entries)
    val nE = oriented.count()
    // p's consumers (deg agg, orientation join) are all materialized by
    // the spill write — release the largest pin before the counting pass
    p.unpersist(); registered -= p
    // adjacency SORTED at build: the per-edge intersection is then a
    // zero-allocation merge walk ([[graft.functions.SortedIntersectCount]])
    // instead of array_intersect's per-row OpenHashSet + result array —
    // the humongous-allocation churn behind this query's documented GC
    // variance (BASELINE.md round 10); one sort per node at build buys
    // allocation-free scoring on every edge. NOT pinned: both joins
    // reference the same aliased frame over the scratch FileScan, so the
    // aggregation runs once INTO the single reused broadcast relation —
    // a cache pin would break the reuse and build the relation twice
    val adj = oriented.groupBy("u")
      .agg(sort_array(collect_list("v")).as("nbrs")) // O(√m)/row, bounded
    val maybeBcast = (df: DataFrame) =>
      if (nE <= closeBroadcastMaxEdges) broadcast(df) else df
    val perEdge = oriented.alias("e")
      .join(maybeBcast(adj.alias("a1")), col("e.u") === col("a1.u"))
      .join(maybeBcast(adj.alias("a2")), col("e.v") === col("a2.u"),
        "left")
      // v may have no out-edges — its adjacency is empty, not null; the
      // coalesce target is a foldable constant, not a per-row allocation
      .select(graft.functions.SortedIntersectCount.sorted_intersect_count(
        col("a1.nbrs"),
        coalesce(col("a2.nbrs"), array().cast("array<long>"))).as("__c"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nTri = perEdge.agg(coalesce(sum("__c"), lit(0L)).as("n_triangles"))
    // the edge count was already materialized on the driver above — ride
    // it as a literal instead of re-aggregating
    (nNodes.withColumn("n_edges", lit(nE)).crossJoin(nTri),
      () => cleanup())
    } catch { case t: Throwable => // a failed materialization (executor
      // loss, upstream corruption) must not strand cache entries or the
      // scratch spill
      cleanup(); throw t }
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes of
    * degree < k (with their edges) until the survivor set is stable — the
    * densely-inter-linked core that separates organic clusters from
    * loosely-attached spam/leaf structure. Returns each surviving node
    * with its WITHIN-CORE degree (≥ k by the fixpoint property).
    *
    * Execution: a driver loop of peeling rounds — degree agg (combinable)
    * + two left-semi joins re-scoping the edge frame — exactly the
    * [[pageRank]] superstep shape: per round two keyed shuffles, nothing
    * driver-side but the survivor count that doubles as the termination
    * test. The edge frame is pinned every `pinEvery` rounds (the
    * [[graft.pipeline.Pipelines]] pin modes) so lineage cannot compound
    * across rounds. Peeling converges in few rounds on natural graphs
    * (each round must remove ≥ 1 node to continue, and cascades are rare
    * past the first sweep); `maxRounds` bounds the loop and a
    * non-converged exit FAILS LOUDLY — a silent partial peel would
    * misreport non-core nodes as core members. `unpersistOnExit` pins the
    * survivor frame and releases the round pins before return (the
    * [[pageRank]] serving-session discipline).
    */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int = 12,
      pinEvery: Int = 4,
      pinMode: String = graft.pipeline.Pipelines.PinLocal,
      unpersistOnExit: Boolean = false): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    val p0 = pairs.select(col("src").cast("long"), col("dst").cast("long"))
    var e = p0.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    def degOf(edges: DataFrame): DataFrame =
      edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var lastPin: DataFrame = null
    var nNodes = -1L
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val keep = degOf(e).filter(col("deg") >= k).select("node")
      val n = keep.count() // the termination scalar; also sizes the joins
      if (n == nNodes) converged = true
      else {
        nNodes = n
        e = e.join(keep.withColumnRenamed("node", "src"), Seq("src"),
            "left_semi")
          .join(keep.withColumnRenamed("node", "dst"), Seq("dst"),
            "left_semi")
        if (pinEvery > 0 && round % pinEvery == 0) {
          val pinned = graft.pipeline.Pipelines.pinFrame(e, pinMode)
          pinned.count()
          if (lastPin != null) lastPin.unpersist()
          lastPin = pinned
          e = pinned
        }
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge within $maxRounds peeling rounds — " +
          "raise maxRounds (the unrolled oracle must match it)")
    val res = degOf(e).orderBy("node")
    if (!unpersistOnExit) res
    else { // the [[pageRank]] exit discipline: pin, then release the pins
      val out = graft.pipeline.Pipelines.pinFrame(res, pinMode)
      out.count()
      if (lastPin != null) lastPin.unpersist()
      out
    }
  }
}
