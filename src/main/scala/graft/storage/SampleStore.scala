package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** At-rest DETERMINISTIC sample tier — approximate query processing the
  * BlinkDB way, minus the nondeterminism: membership is a pure function
  * of the row's id (the first `bits` BITS of `md5(id)` all zero → kept,
  * rate 1/2^bits), so the sample is reproducible by any engine from the
  * same raw table, every estimate is EXACTLY `sample-aggregate ×
  * rate_den` (integer cents, no float scale-up drift), and re-sampling a
  * replayed batch yields byte-identical rows. The bit ladder (1/2, 1/4,
  * 1/8, …) replaces the round-10 hex-char ladder (1/16, 1/256) whose 16×
  * jumps forced a 1%-target sample to be 6× too big or 2.5× too thin;
  * every old rate (16^p = 2^4p) is still expressible, so the semantics
  * strictly refine. The reference answers every aggregate from raw
  * samples (`zikeiretsu/src/tsdb/query/executor/mod.rs`); a sampled
  * serving tier is the standard at-scale extension SURVEY.md §2.4
  * sanctions — at 100 TB an exploratory GROUP BY reads the GB-sized
  * sample, not the table, and the error is the textbook √(1/n_sample) of
  * a uniform hash sample.
  *
  * Layout: ONE parquet tree of sampled RAW rows + self-description
  * (`rate_den`, `sample_col`, `ts_col` — the [[CounterStore]]
  * `bucket_ns` discipline: readers fail loudly on a mixed-rate or
  * mixed-id store instead of silently mis-scaling, and the time scope
  * always reads the column the `__day` partitions were DERIVED from) +
  * `batch_key`, partitioned by `__day` from the row's ts (aligned
  * write: repartition on `__day` first, one file per day directory).
  * Ingest follows the store discipline everywhere else: [[build]]
  * publishes atomically under `batch_key = "base"`; [[append]] lands
  * one producer batch under a replay-stable key — an at-least-once
  * redelivery re-samples the SAME rows (membership is deterministic),
  * and readers drop duplicate `(id, batch_key)` rows before
  * aggregating. [[compact]] folds the accumulated per-batch files,
  * capping listing cost.
  */
object SampleStore {

  // Reserved self-description / lifecycle columns riding every row:
  // rate_den, sample_col (the sampled-id column's name), ts_col (the
  // time column the __day partitions derive from), stratum_col (the
  // stratification column's name; empty string for uniform stores),
  // layout_version, batch_key, __day.

  /** At-rest layout version, stamped on every written row from v3 on —
    * the one place the store's schema history lives (the round-12
    * lesson: version inference by COLUMN ABSENCE nests badly; after two
    * at-rest changes in two rounds the next one would have needed
    * absence-of-absence logic):
    *
    *  - **v1** (rounds 10-11): `rate_den, sample_col, stratum_col,
    *    batch_key, __day`. Time column fixed at `ts` by convention.
    *    The round-11 hex→bit rate-ladder change (1/16^p → 1/2^b)
    *    happened WITHIN v1 — it widened the set of expressible
    *    `rate_den` values (every 16^p is a 2^4p) without touching the
    *    schema, so no layout bump; the [[build]] scaladoc carries the
    *    positional-parameter migration hazard.
    *  - **v2** (round 12): + `ts_col` — the store self-describes which
    *    column its `__day` partitions derive from.
    *  - **v3** (round 13): + `layout_version` itself.
    *
    * Readers accept all three: [[readable]] backfills `ts_col = "ts"`
    * and the inferred version for unstamped stores. WRITERS require v3:
    * appending stamped rows to an unstamped tree would give the store
    * per-file schemas, and the serving read (which samples one footer
    * rather than merging every file's) would resolve columns
    * nondeterministically — [[append]]/[[appendStratified]] reject with
    * "compact first", and [[compact]] (a merged-schema offline pass)
    * rewrites any legacy or mixed tree as uniform v3. */
  val LayoutVersion = 3

  /** The first 32 bits of `md5(cast(id as string))` as an unsigned long
    * — the shared membership hash. Engine-portable: DuckDB spells it
    * `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT`. */
  private def hash32(idCol: String): Column =
    conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")

  /** The membership predicate: first `bits` BITS of `md5(id)` all zero
    * ⇔ the first-8-hex-chars value sits below `2^(32-bits)` — rate
    * 1/2^bits. Deterministic, engine-portable (hex compare needs no bit
    * ops DuckDB lacks), and uncorrelated with any data column. */
  def memberExpr(idCol: String, bits: Int): Column = {
    require(bits >= 1 && bits <= 32,
      s"sample bits $bits out of range [1, 32]")
    hash32(idCol) < lit(1L << (32 - bits))
  }

  /** [[memberExpr]] with a PER-ROW bits column (the stratified path;
    * `bits = 0` keeps everything). Built from Column expressions — a
    * sampled-id column needing quoting (dot, dash, space) resolves like
    * any other reference instead of breaking SQL-string parsing. */
  private def memberExprVar(idCol: String, bitsCol: String): Column =
    hash32(idCol) < call_function("shiftleft", lit(1L),
      lit(32) - col(bitsCol))

  /** The scale-up factor 2^bits. */
  def rateDen(bits: Int): Long = {
    require(bits >= 0 && bits <= 32)
    1L << bits
  }

  /** 2^bits as a Column over a per-row bits column. */
  private def rateDenCol(bitsCol: String): Column =
    call_function("shiftleft", lit(1L), col(bitsCol)).cast("long")

  private def stamp(df: DataFrame, idCol: String, tsCol: String,
      batchKey: String, stratumCol: String): DataFrame =
    df
      .withColumn("sample_col", lit(idCol))
      .withColumn("ts_col", lit(tsCol))
      .withColumn("stratum_col", lit(stratumCol))
      .withColumn("layout_version", lit(LayoutVersion))
      .withColumn("batch_key", lit(batchKey))
      // backticked: a ts column named e.g. `event.ts` must resolve, not
      // parse as a field access
      .withColumn(WritableStore.PartitionCol, FileTree.dayCol(s"`$tsCol`"))
      .repartition(col(WritableStore.PartitionCol))

  private def canonical(df: DataFrame, idCol: String, tsCol: String,
      bits: Int, batchKey: String): DataFrame = {
    require(df.columns.contains(idCol) && df.columns.contains(tsCol),
      s"sample source lacks $idCol/$tsCol")
    stamp(df.filter(memberExpr(idCol, bits))
        .withColumn("rate_den", lit(rateDen(bits))),
      idCol, tsCol, batchKey, stratumCol = "")
  }

  /** Build a sample store in one atomic publish (two-rename; a crash
    * leaves a complete store). `bits = 4` keeps 1/16.
    *
    * MIGRATION HAZARD (bit-ladder change): this parameter was
    * `prefixLen` (hex chars, rate 1/16^p) and is now `bits`
    * (rate 1/2^b) in the same position — an old positional value
    * converts as `bits = 4 × prefixLen` (the defaults coincide:
    * prefixLen = 1 ≡ bits = 4 ≡ 1/16). [[requireRate]] catches the
    * mismatch on appends to EXISTING stores; a fresh build has nothing
    * to check against, so audit call sites passing literals. */
  def build(df: DataFrame, path: String, idCol: String,
      tsCol: String = "ts", bits: Int = 4): Unit =
    AtomicDir.publish(df.sparkSession, path, "sample store") { tmp =>
      canonical(df, idCol, tsCol, bits, "base")
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }

  /** Append one producer batch's rows under a replay-stable key. Rate,
    * id-column, and ts-column validation mirror [[CounterStore.append]]'s
    * SEPARATE grain/key gates; a long-lived streaming appender probes
    * once at stream start ([[graft.streaming.StreamIngest.sampleIngest]]).
    * Producer contract (every at-rest tier here shares it): batches
    * PARTITION the source — the same row redelivered under the same key
    * collapses in the read-side dedup, but the same row sent under TWO
    * keys is a producer bug this store cannot repair (raw rows have no
    * additive fold to absorb it). */
  def append(df: DataFrame, path: String, batchKey: String, idCol: String,
      tsCol: String = "ts", bits: Int = 4,
      validateRate: Boolean = true): Unit = {
    if (validateRate) requireRate(df.sparkSession, path, bits, idCol,
      tsCol, "append")
    canonical(df, idCol, tsCol, bits, batchKey)
      .write.mode("append").partitionBy(WritableStore.PartitionCol)
      .parquet(path)
  }

  /** Per-stratum bits: the largest `b ≤ maxBits` with
    * `count(stratum) ≥ minRows × 2^b` — every stratum keeps an expected
    * `minRows`-plus sample however small it is (b = 0 keeps ALL rows of
    * a rare stratum), while huge strata thin 2^b×. Pure integer CASE
    * over the stratum counts, so a second engine derives the identical
    * rate map from the same raw table. */
  private def bitsLadderCol(nCol: String, minRows: Long,
      maxBits: Int): Column =
    // ascending fold: the LAST-folded (largest) b becomes the OUTERMOST
    // when(), so the biggest qualifying bits wins
    (1 to maxBits).foldLeft(lit(0)) { (acc, b) =>
      when(col(nCol) >= lit(minRows) * lit(rateDen(b)), lit(b))
        .otherwise(acc)
    }

  /** Build a STRATIFIED sample store — the BlinkDB observation: a
    * uniform rate starves rare strata exactly where per-group answers
    * need evidence most. Rates derive from the stratum counts at build
    * time ([[bitsLadderCol]], a 2× ladder — a stratum lands within 2×
    * of its `minRows` evidence target instead of the old ladder's 16×)
    * and ride every row as `rate_den`, so the Horvitz-Thompson estimate
    * in [[SampleHandle.estimate]] stays exact integer. The stratum→rate
    * map FREEZES at build (the BlinkDB offline sample-planning posture):
    * [[appendStratified]] reuses the stored map, never re-derives it
    * from a batch's own counts. */
  def buildStratified(df: DataFrame, path: String, idCol: String,
      stratumCol: String, minRows: Long, maxBits: Int = 8,
      tsCol: String = "ts"): Unit = {
    require(df.columns.contains(stratumCol),
      s"sample source lacks stratum column $stratumCol")
    require(minRows >= 1 && maxBits >= 1 && maxBits <= 32)
    val rates = df.groupBy(stratumCol)
      .agg(count(lit(1)).as("__n"))
      .select(col(stratumCol),
        bitsLadderCol("__n", minRows, maxBits).as("__p"))
    // a null stratum would silently vanish (null keys never equi-join,
    // identically in both engines) — make the caller derive a non-null
    // stratum column instead of losing rows
    require(rates.filter(col(stratumCol).isNull).isEmpty,
      s"buildStratified: $stratumCol holds nulls — derive a non-null " +
        "stratum column (e.g. coalesce a sentinel) before stratifying")
    AtomicDir.publish(df.sparkSession, path, "sample store") { tmp =>
      stamp(df.join(rates, stratumCol)
          .filter(memberExprVar(idCol, "__p"))
          .withColumn("rate_den", rateDenCol("__p"))
          .drop("__p"),
        idCol, tsCol, "base", stratumCol)
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }

  /** Append one producer batch to a STRATIFIED store under the FROZEN
    * stratum→rate map mined from the stored rows (one metadata-sized
    * distinct) — re-deriving rates from the batch's own counts would
    * mis-scale every mixed read. Strata the map has never seen keep ALL
    * their rows (bits = 0, the `minRows` intent for brand-new rare
    * strata); re-plan the store offline when a new stratum grows
    * large. */
  def appendStratified(df: DataFrame, path: String, batchKey: String,
      idCol: String, tsCol: String = "ts"): Unit = {
    val spark = df.sparkSession
    val stored = readable(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"appendStratified: no stratified store at $path (build first)"))
    requireStamped(spark, path, "appendStratified")
    val meta = stored.select("sample_col", "stratum_col", "ts_col")
      .distinct().collect()
    require(meta.length == 1 && meta(0).getString(1).nonEmpty,
      s"appendStratified: store at $path is not a stratified store")
    require(meta(0).getString(0) == idCol,
      s"appendStratified: store at $path sampled on " +
        s"${meta(0).getString(0)}; this writer samples on $idCol")
    require(meta(0).getString(2) == tsCol,
      s"appendStratified: store at $path partitions time on " +
        s"${meta(0).getString(2)}; this writer stamps $tsCol — one " +
        "store holds exactly one time column")
    val stratumCol = meta(0).getString(1)
    // the same producer mistake buildStratified rejects loudly must not
    // degrade to a silent keep-all here (null never joins the rate map,
    // coalesce→1 would admit every null-stratum row at rate 1)
    require(df.filter(col(stratumCol).isNull).isEmpty,
      s"appendStratified: batch holds null $stratumCol rows — derive a " +
        "non-null stratum column before appending")
    val rateMap = stored.select(col(stratumCol), col("rate_den"))
      .distinct()
    require(rateMap.groupBy(stratumCol).count()
        .filter(col("count") > 1).isEmpty,
      s"sample store at $path holds mixed per-stratum rates")
    // invert rate_den → bits by explicit CASE (never float log)
    val pFromRate = (0 to 32).foldLeft(lit(null).cast("int")) { (acc, b) =>
      when(col("rate_den") === rateDen(b), lit(b)).otherwise(acc)
    }
    stamp(df.join(rateMap, Seq(stratumCol), "left")
        .withColumn("rate_den", coalesce(col("rate_den"), lit(1L)))
        .withColumn("__p", pFromRate)
        .filter(memberExprVar(idCol, "__p"))
        .drop("__p"),
      idCol, tsCol, batchKey, stratumCol)
      .write.mode("append").partitionBy(WritableStore.PartitionCol)
      .parquet(path)
  }

  /** Fail loudly when an existing store's rate, sampled-id column, time
    * column, or stratification differs — appending a different
    * membership function would silently mis-scale every later estimate,
    * and a different time column would mis-partition it. */
  /** Writers require a stamped (v3) tree — [[LayoutVersion]]: an append
    * into an unstamped store would land files carrying columns the
    * existing files lack, and the serving read samples one footer
    * rather than merging every file's, so the store's columns would
    * resolve nondeterministically from then on. Metadata-only check (no
    * data read); absent/unreadable stores pass — the caller's own
    * validation or write decides those. */
  private def requireStamped(spark: SparkSession, path: String,
      context: String): Unit = {
    // Per-FILE footer schemas, not spark.read.parquet(path).columns:
    // the directory read samples ONE footer, so on an already-mixed
    // tree (stamped files beside unstamped ones) it nondeterministically
    // saw layout_version and let appends deepen the very per-file-schema
    // mix this guard exists to prevent. A mergeSchema read is no better
    // — it UNIONS columns, so one stamped file would mask every
    // unstamped sibling. Footer-only reads (no row groups, no data
    // pages); early exit on the first unstamped file; absent/empty
    // trees pass — the caller's own validation or write decides those.
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val live = new org.apache.hadoop.fs.Path(path)
    val files = FileTree.files(live.getFileSystem(conf), live)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    val unstamped = files.iterator.find { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try !reader.getFooter.getFileMetaData.getSchema
        .containsField("layout_version")
      finally reader.close()
    }
    unstamped.foreach { f =>
      throw new IllegalStateException(
        s"$context: sample store at $path holds a legacy " +
          s"(pre-v$LayoutVersion) file ${f.getName} — run " +
          "SampleStore.compact(...) once to upgrade the at-rest tree; " +
          "appending stamped rows beside an unstamped file would give " +
          "the store per-file schemas " +
          "(version history: SampleStore.LayoutVersion)")
    }
  }

  private[graft] def requireRate(spark: SparkSession, path: String,
      bits: Int, idCol: String, tsCol: String, context: String): Unit =
    readable(spark, path).foreach { df =>
      requireStamped(spark, path, context)
      df.select("rate_den", "sample_col", "stratum_col", "ts_col")
        .distinct().collect().foreach { r =>
          require(r.getString(2).isEmpty,
            s"$context: sample store at $path is STRATIFIED on " +
              s"${r.getString(2)}; use appendStratified")
          require(r.getLong(0) == rateDen(bits),
            s"$context: sample store at $path holds 1/${r.getLong(0)} " +
              s"rows; appending 1/${rateDen(bits)} rows would mix " +
              "rates in one store")
          require(r.getString(1) == idCol,
            s"$context: sample store at $path sampled on " +
              s"${r.getString(1)}; this writer samples on $idCol — one " +
              "store holds exactly one membership function")
          require(r.getString(3) == tsCol,
            s"$context: sample store at $path partitions time on " +
              s"${r.getString(3)}; this writer stamps $tsCol — one " +
              "store holds exactly one time column")
        }
    }

  /** Legacy backfills (version history at [[LayoutVersion]]): a v1
    * store predating the ts_col self-description always partitioned on
    * "ts" — read it under that default instead of dying with an
    * unresolved-column error three calls later; unstamped stores get
    * their INFERRED version so readers see one schema (no rewrite
    * needed; the next compact() persists both columns). */
  private def withLegacyBackfills(df: DataFrame): DataFrame = {
    val withTs =
      if (df.columns.contains("ts_col")) df
      else df.withColumn("ts_col", lit("ts"))
    if (withTs.columns.contains("layout_version")) withTs
    else withTs.withColumn("layout_version",
      lit(if (df.columns.contains("ts_col")) 2 else 1))
  }

  private def readable(spark: SparkSession, path: String)
      : Option[DataFrame] =
    RollupStore.healedOrNone(spark, path, "sample store",
      (s, p) => withLegacyBackfills(s.read.parquet(p)))

  /** An opened sample store: validated sampled rows. The serving shape
    * is OPEN ONCE, ESTIMATE MANY — a dashboard issues thousands of
    * estimates against one open, so the metadata validation prices in
    * once, and `pin = true` persists the sampled rows (the BlinkDB
    * posture: the sample is sized to fit where raw cannot — 100 TB raw
    * at 1/256 is cluster-cache-sized, and every estimate then reads
    * memory, not the lake). `tsCol` is the store's own self-described
    * time column — the one the `__day` partitions derive from, so a
    * time scope can never silently prune against a different column;
    * `root` is the store's qualified path, which keys its pin. */
  final case class SampleHandle(rows: DataFrame, idCol: String,
      tsCol: String, root: String, pinSource: Option[DataFrame] = None) {

    /** A pinned handle's open-time files. */
    private val pinFiles = pinSource.fold(Set.empty[String])(_.inputFiles.toSet)

    /** The pin's loud-fail guard: a rewrite under the pin (compact)
      * makes Spark's `recacheByPath` refresh the pin's file-list index and
      * recache the pin EMPTY, so every estimate compares the files of the
      * uncached source frame (`pinSource`, sharing that index) with the
      * open-time set, with no Spark job, and refuses a partial or empty
      * one. */
    private def requireSnapshotIntact(): Unit =
      pinSource.foreach { src =>
        val now = src.inputFiles.toSet
        if (now != pinFiles) throw new IllegalStateException(
          s"pinned sample snapshot lost ${pinFiles.size - now.size} of " +
            s"its ${pinFiles.size} open-time files (a compact/rewrite " +
            "replaced the store under the pin) — refusing to serve a " +
            "partial or empty recompute; re-open to refresh the pin " +
            "over the rewritten tree")
      }

    /** Grouped estimates from the sample alone, in Horvitz-Thompson
      * form: per group, `n_sample` (the evidence),
      * `est_count = Σ rate_den`, `est_sum_cents = Σ cents × rate_den` —
      * each row stands in for exactly its inverse inclusion probability,
      * so ONE estimator serves uniform stores (where it telescopes to
      * `n × rate_den`) and stratified ones (where rates vary by
      * stratum) — plus `est_var_cents2 = Σ cents² × rd × (rd−1)`, the
      * unbiased HT variance estimator of the sum under Bernoulli
      * inclusion (σ of the estimate ≈ √var: the error bar a dashboard
      * prints beside the number; EXACTLY ZERO for keep-all strata,
      * which hold no sampling randomness). All exact integer arithmetic
      * a second engine reproduces bit for bit; at extreme widths
      * (cents² × rd² nearing 2^63) swap the emission to decimal — the
      * estimator, not the width, is the contract here. The
      * `[since, until)` scope applies BEFORE the replay dedup —
      * duplicates are byte-identical rows, so the order is free, and
      * the scope then lands as `__day` directory pruning on the store
      * scan instead of dying above the dedup (dropDuplicates compiles
      * to first()-aggregates whose outputs block pushdown; PlanAuditSpec
      * pins the PartitionFilters). */
    /** Scoped, replay-deduped rows — the shared front half. A
      * pinned handle already collapsed replays at open,
      * so each estimate is ONE aggregation with no dedup shuffle: at
      * dashboard burst rates the per-query stage count is the cost.
      * `extra` (a key predicate) applies BEFORE the dedup for the same
      * reason the time scope does: replay duplicates are byte-identical
      * rows, so any row predicate commutes with the dedup — and placed
      * below it the predicate reaches the parquet reader as a pushed
      * filter, where above the dedup aggregate it cannot (the non-key
      * columns are first() outputs Catalyst will not push through). */
    private def scoped(since: Option[Long], until: Option[Long],
        extra: Option[Column] = None): DataFrame = {
      requireSnapshotIntact()
      val sc = FileTree.scope(rows, col(tsCol), since, until, extra.toSeq)
      if (pinSource.nonEmpty) sc else sc.dropDuplicates(idCol, "batch_key")
    }

    def estimate(groupCols: Seq[String], valueCol: String,
        since: Option[Long] = None,
        until: Option[Long] = None): DataFrame = {
      require(groupCols.nonEmpty,
        "estimate needs at least one group column")
      scoped(since, until)
        .withColumn("__c", graft.operators.TsOps.centsExpr(valueCol))
        .groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_sample"),
          sum("rate_den").as("est_count"),
          sum(col("__c") * col("rate_den")).as("est_sum_cents"),
          sum(col("__c") * col("__c") * col("rate_den") *
            (col("rate_den") - 1)).as("est_var_cents2"))
    }

    /** Grouped QUANTILE estimates from the sample: the exact percentile
      * of the multiset in which each sampled row repeats `rate_den`
      * times — the Horvitz-Thompson-weighted empirical CDF, so one
      * estimator serves uniform stores (where the constant weight
      * cancels and it is the plain sample quantile) and stratified ones
      * (where a group spanning strata weights each row by its inverse
      * inclusion probability). Spark's `percentile(c, p, frequency)`
      * computes exactly that replicated-multiset percentile; integer
      * cents + dyadic `probs` keep the interpolation bit-exact, so a
      * second engine reproduces every estimate by literally replicating
      * the sample rows (the [[estimate]] exactness discipline on the
      * quantile axis). Same scope-before-dedup contract as
      * [[estimate]]. */
    def estimateQuantile(groupCols: Seq[String], valueCol: String,
        probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
        since: Option[Long] = None, until: Option[Long] = None)
        : DataFrame = {
      require(groupCols.nonEmpty,
        "estimateQuantile needs at least one group column")
      require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1))
      val labels = probs.map(p => s"q${(p * 100).round}")
      // two probs rounding to the same percent would emit duplicate
      // column names in one aggregate — ambiguous to select from
      require(labels.distinct.length == labels.length,
        s"estimateQuantile: probs ${probs.mkString(", ")} collide on " +
          s"rounded labels ${labels.mkString(", ")} — keep probs at " +
          "least a percent apart (or aggregate twice)")
      val qCols = probs.zip(labels).map { case (p, l) =>
        expr(s"percentile(__c, ${p}D, rate_den)").as(l)
      }
      scoped(since, until)
        .withColumn("__c", graft.operators.TsOps.centsExpr(valueCol))
        .filter(col("__c").isNotNull)
        .groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_sample"),
          qCols: _*)
    }

    /** TIME-BUCKETED Horvitz-Thompson estimates — the budget-router
      * serving shape ([[RollupStore.routeSampled]]): one estimate row
      * per (`groupCols`…, `bucketNanos` bucket of the store's own ts
      * column), with the same exact-integer estimator columns as
      * [[estimate]] plus the store's `rate_den` (max over contributing
      * rows — single-valued for uniform stores; for stratified stores
      * the coarsest contributing rate, the honest per-bucket label
      * while `est_var_cents2` carries the exact per-row weighting).
      * `groupCols` is the keyed-router shape: a dimensional store's key
      * columns ride the raw sampled rows, so the sampled fine zoom
      * serves the same series the exact tiers do. `keyFilter` prunes
      * the sampled scan before the aggregate (the [[RollupStore.route]]
      * key-pushdown contract). Buckets with no sampled rows are absent,
      * exactly as in the raw-side mirror. */
    def estimateTimeBuckets(bucketNanos: Long, valueCol: String,
        since: Option[Long] = None, until: Option[Long] = None,
        groupCols: Seq[String] = Nil,
        keyFilter: Option[Column] = None): DataFrame = {
      require(bucketNanos > 0,
        s"bucketNanos must be positive: $bucketNanos")
      scoped(since, until, keyFilter)
        .withColumn("__c", graft.operators.TsOps.centsExpr(valueCol))
        .groupBy(groupCols.map(col) :+
          graft.operators.TsOps.floorBucket(col(s"`$tsCol`"), bucketNanos)
            .as("bucket_ts"): _*)
        .agg(count(lit(1)).as("n_sample"),
          sum("rate_den").as("est_count"),
          sum(col("__c") * col("rate_den")).as("est_sum_cents"),
          sum(col("__c") * col("__c") * col("rate_den") *
            (col("rate_den") - 1)).as("est_var_cents2"),
          max("rate_den").as("rate_den"))
    }

    /** Release a pinned sample: forget its [[FileTree.atRest]] entry,
      * which every pinned handle of the store in this session shares, and
      * so unpersist the rows (no-op if never pinned). */
    def close(): Unit =
      if (pinSource.nonEmpty) FileTree.forget(rows.sparkSession, PinKind, root)
  }

  /** A sample store's read of exactly its listed files, validated. */
  private final case class SampleSnapshot(df: DataFrame, idCol: String,
      tsCol: String) extends FileTree.Snapshot

  /** A pinned sample's replay-deduped rows, persisted, and the uncached
    * read they were built from (the guard's [[SampleHandle.pinSource]]:
    * it must share the rows' file index); the rows are unpersisted when
    * they leave [[FileTree.atRest]]. */
  private final case class Pinned(rows: DataFrame, source: DataFrame)
      extends FileTree.Snapshot {
    override def release(): Unit = { rows.unpersist(); () }
  }

  private val PinKind = "pinned sample"

  /** Open a sample store from its at-rest snapshot ([[FileTree.atRest]]):
    * the first open under a listing validates the membership ([[validated]];
    * a failure is not kept), later ones run no Spark job. `check` sees the
    * sampled rows before anything is pinned. `pin = true` serves the rows
    * from a second at-rest entry under the same listing, which persists
    * them for estimate-many serving; [[SampleHandle.close]] forgets it.
    * The replay dedup runs per estimate AFTER the time scope (see
    * [[SampleHandle.estimate]]) — over sample-sized rows it is the cheap
    * half of the aggregation. */
  def open(spark: SparkSession, path: String, pin: Boolean = false,
      check: DataFrame => Unit = _ => ()): SampleHandle = {
    val (fs, live, root) = FileTree.qualified(spark, path)
    AtomicDir.heal(fs, live, "sample store")
    val listing =
      FileTree.listing(fs, live).filter(_._1.endsWith(".parquet"))
    require(listing.nonEmpty, s"sample store at $path is absent or empty")
    val snap = FileTree.atRest(spark, "sample store", root, listing)(
      validated(path, withLegacyBackfills(spark.read
        .option("basePath", path).parquet(listing.map(_._1): _*))))
    check(snap.df)
    if (!pin) SampleHandle(snap.df, snap.idCol, snap.tsCol, root)
    else {
      // the pin pays the replay dedup ONCE, in core-count partitions
      // (replays are byte-identical, so a scope commutes with it). Reading
      // the EXPLICIT listed files, validation and pin cover identical bytes,
      // and a same-session append's cache refresh re-lists only those files.
      // The build calls no atRest (FileTree's rule against a deadlock).
      val pinned = FileTree.atRest(spark, PinKind, root, listing)(Pinned(
        snap.df.dropDuplicates(snap.idCol, "batch_key")
          .repartition(spark.sparkContext.defaultParallelism)
          .persist(), snap.df))
      // Spark matches cached data by plan across sessions: another
      // session's release can drop this one's
      if (pinned.rows.storageLevel == StorageLevel.NONE) pinned.rows.persist()
      SampleHandle(pinned.rows, snap.idCol, snap.tsCol, root,
        Some(pinned.source))
    }
  }

  /** Exactly one (sampled-id, stratum, ts) triple and, for a uniform
    * store, one rate — ONE job, rate_den riding the same distinct — or, for
    * a stratified one, one rate PER STRATUM (a second job: the stratum
    * column's name comes from the first). A mis-rated concurrent writer
    * fails the read, never mis-scales it. */
  private def validated(path: String, df: DataFrame): SampleSnapshot = {
    val metaRows = df.select("sample_col", "stratum_col", "ts_col",
      "rate_den").distinct().collect()
    val meta = metaRows.map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).distinct
    require(meta.nonEmpty, s"sample store at $path is empty")
    if (meta.length > 1) throw new IllegalStateException(
      s"sample store at $path holds MIXED membership functions " +
        s"${meta.map(m => s"(${m._1}/${m._2}/${m._3})").mkString(", ")}" +
        " — one store holds exactly one")
    val stratumCol = meta(0)._2
    if (stratumCol.isEmpty) {
      val rates = metaRows.map(_.getLong(3)).distinct.sorted
      if (rates.length > 1) throw new IllegalStateException(
        s"sample store at $path holds MIXED rates " +
          s"${rates.map(r => s"1/$r").mkString(", ")} — a " +
          "uniform store holds exactly one")
    } else {
      // per-stratum single rate at READ time, mirroring
      // appendStratified's write-side guard
      val perStratum = df.select(col(stratumCol), col("rate_den"))
        .distinct().collect()
      val dupes = perStratum.groupBy(_.get(0)).filter(_._2.length > 1)
      if (dupes.nonEmpty) throw new IllegalStateException(
        s"sample store at $path holds MIXED rates within " +
          s"strat${if (dupes.size == 1) "um" else "a"} " +
          s"${dupes.keys.mkString(", ")} — each stratum holds exactly " +
          "one rate")
    }
    SampleSnapshot(df, meta(0)._1, meta(0)._3)
  }

  /** One-shot convenience: open cold, estimate once. Serving layers
    * should [[open]] once (pinned) and estimate many. */
  def estimate(spark: SparkSession, path: String, groupCols: Seq[String],
      valueCol: String,
      since: Option[Long] = None, until: Option[Long] = None): DataFrame =
    open(spark, path).estimate(groupCols, valueCol, since, until)

  /** Drop sampled days strictly below `cutoff` ts-nanos — the retention
    * trim on the sample tier (a sample outliving the raw table's own
    * retention estimates nothing a query may legally read). Cutoffs must
    * be day-aligned so every trim is a whole-`__day` directory drop
    * (O(days dropped), never a rewrite of the retained window) — the
    * same day-floored-cutoff rule [[RollupStore.applyRetention]] keeps
    * its trims on the fast path with; a sub-day trim would have to
    * filter on `ts_col` inside the retained edge day and is rejected
    * rather than approximated. Idempotent: a retried trim finds the
    * days already gone. */
  def trimBelow(spark: SparkSession, path: String, cutoff: Long): Unit = {
    require(Math.floorMod(cutoff, FileTree.DayNs) == 0,
      "sample-store trims are whole-day directory drops — day-floor the " +
        "cutoff (the applyRetention discipline)")
    val live = new org.apache.hadoop.fs.Path(path)
    FileTree.dropDaysBelow(
      live.getFileSystem(spark.sessionState.newHadoopConf()), live, cutoff)
    spark.catalog.refreshByPath(path)
  }

  /** Rewrite accumulated per-batch files into one file per day — the IO
    * compaction that caps file-listing cost, doubling as the durable
    * replay repair (quiesce appends first). Batch keys are PRESERVED as
    * data (dictionary-encoded, near-free): unlike the additive stores
    * there is no fold to hide them behind, and rewriting them would
    * change what the read-side `(id, batch_key)` dedup sees. */
  def compact(spark: SparkSession, path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    // the heal readable() would have run — compact reads the tree
    // directly (merged-schema) rather than through readable
    AtomicDir.heal(fs, live, "sample store")
    AtomicDir.compactPublish(spark, path, "compact sample store") { tmp =>
      // MERGED-schema read: compact is the one offline pass that must
      // tolerate a legacy or even MIXED tree (per-file schemas — the
      // state the requireStamped append guard exists to prevent), so it
      // merges every footer where the serving read samples one. Rows
      // from files predating a self-description column read null there;
      // the coalesce folds them onto the legacy default, and the
      // rewrite stamps the whole tree at the CURRENT layout — compact
      // doubles as the one-shot v1/v2 → v3 upgrade
      val raw = FileTree.readOrNone(
          spark.read.option("mergeSchema", "true").parquet(path))
        .getOrElse(throw new IllegalArgumentException(
          s"compact: sample store at $path is absent or empty"))
      val df = (if (raw.columns.contains("ts_col"))
          raw.withColumn("ts_col", coalesce(col("ts_col"), lit("ts")))
        else raw.withColumn("ts_col", lit("ts")))
        .drop("layout_version")
        .withColumn("layout_version", lit(LayoutVersion))
      val idCol = df.select("sample_col").head().getString(0)
      df.dropDuplicates(idCol, "batch_key")
        .repartition(col(WritableStore.PartitionCol))
        .write.partitionBy(WritableStore.PartitionCol).parquet(tmp)
    }
  }
}
