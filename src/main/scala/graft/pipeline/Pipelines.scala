package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed corpus-curation pipeline — the end-to-end shape of a
  * training-data preparation job, chaining the individual operators:
  *
  *   quality features → keep-band filter → language ID →
  *   exact dedup (keep min id) → near-dup removal (drop the larger id of
  *   each >= threshold shingle-Jaccard pair) → curated corpus.
  *
  * Every stage is one of the verified operators; the composition stays
  * shuffle-minimal: features/langid ride the scan, exact dedup is one
  * keyed shuffle, near-dup pairs come from the inverted-index join.
  */
object Pipelines {

  /** How reused intermediate frames are pinned: [[curate]]'s survivor
    * frame on every call, [[trainPrep]]'s two reused frames when
    * `materialize = true`.
    *
    *  - [[PinLocal]] — `localCheckpoint`: blocks live on executors with
    *    lineage truncated. Fastest, but a lost/preempted executor makes its
    *    blocks unrecoverable — single-machine or non-preemptible only.
    *  - [[PinReliable]] — `checkpoint` to the configured checkpoint dir
    *    (HDFS/object store on a cluster): survives any executor loss at the
    *    cost of one write+read through the reliable store. The right mode
    *    for long preemptible-fleet jobs. Requires
    *    `spark.sparkContext.setCheckpointDir(...)`.
    *  - [[PinDisk]] — `persist(DISK_ONLY_2)`: 2-replica executor-disk
    *    cache with lineage KEPT, so a lost block recomputes instead of
    *    failing the job; cheaper than a reliable store but recompute storms
    *    are still possible under mass preemption.
    *
    * See SCALE.md ("Pinning reused frames") for the measured trade.
    */
  val PinLocal = "local"
  val PinReliable = "reliable"
  val PinDisk = "disk"

  private[graft] def pinFrame(f: DataFrame, mode: String): DataFrame =
    mode match {
      case PinLocal => f.localCheckpoint(false)
      case PinReliable =>
        require(f.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "pinMode=reliable requires sparkContext.setCheckpointDir(...) " +
            "pointing at storage that survives executor loss")
        f.checkpoint(false)
      case PinDisk =>
        f.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY_2)
      case other =>
        throw new IllegalArgumentException(
          s"unknown pinMode '$other' (expected local | reliable | disk)")
    }

  /** Pre-curation cleaning pass — the transforms that MUTATE text, run
    * before [[curate]]'s filters ever see it:
    *
    *   PII scrub (mask emails/phones — redaction first, so nothing
    *   downstream persists raw PII) → boilerplate removal (corpus-
    *   repeated spans drop, text reassembles) → adaptive per-group length
    *   trim (each source keeps its own [loPct, hiPct] percentile band of
    *   CLEANED length — trimming after cleaning, so a doc that was all
    *   boilerplate counts as the empty doc it now is).
    *
    * Returns (id, group, text_clean, n_chunks, n_dropped) for the
    * surviving docs. Scale shape inherits from the stages: the scrub
    * rides the scan (codegen regexp), boilerplate is two keyed shuffles,
    * the trim decides on the histogram and broadcasts back.
    */
  def clean(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, size: Int = 16, minDf: Long = 3,
      loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    // fan out BEFORE the scrub: the PII regexes are the chain's most
    // expensive per-byte map, and a small input's scan is one task — a
    // no-op at real scale (see [[Text.fanOut]])
    val scrubbed = Text.fanOut(df)
      .withColumn(textCol, Text.scrubPii(col(textCol)))
    val boiled = Text.removeBoilerplate(scrubbed, idCol, textCol,
      size, minDf)
    val withGrp = boiled
      .join(df.select(col(idCol), col(groupCol)), Seq(idCol))
      .withColumn("__len", length(col("text_clean")))
    Text.lengthTrimPct(withGrp, "__len", groupCol, loPct, hiPct)
      .select(col(idCol), col(groupCol), col("text_clean"),
        col("n_chunks"), col("n_dropped"))
  }

  /** The curated corpus: quality features and language ID, the
    * token-length band, exact dedup (keep the smallest id per normalized
    * fingerprint), then near-dup removal (drop the larger id of each pair
    * with shingle-Jaccard >= `nearDupThreshold` among the exact
    * survivors). Output rows are the survivors with every feature column.
    *
    * Scale shape: the exact survivors come from ONE shuffle on the
    * fingerprint (a narrow input's fan-out hash-partitions on it), where
    * a per-fingerprint `min(id)` window keeps the representative, with no
    * aggregate joined back. The near-dup tail ([[nearDupTail]]) pins the
    * survivors with their shingle sets as one frame that the df-cap, the
    * inverted-index join and the final anti-join all read. That pin holds
    * the curated corpus in block storage on every call — `pinMode` picks
    * how, and [[Dedup.PinSetsConf]] set to `false` is the one way to run
    * it as pure lineage (every branch then recomputes the feature chain).
    */
  def curate(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 70,
      nearDupThreshold: Double = 0.3, shingleSize: Int = 3,
      maxShingleDf: Int = Dedup.DefaultMaxShingleDf,
      pinMode: String = PinLocal): DataFrame = {
    val (survivors, dropIds) = nearDupTail(
      exactSurvivors(lengthBand(df, textCol, minTokens, maxTokens), idCol),
      idCol, textCol, nearDupThreshold, shingleSize, maxShingleDf, pinMode)
    survivors.join(dropIds, Seq(idCol), "left_anti")
  }

  /** [[curate]]'s near-dup tail over the exact survivors: the survivors
    * with their shingle sets pinned as ONE frame (`pinMode`, unless
    * [[Dedup.PinSetsConf]] is off), and the ids to drop — the larger id of
    * each pair with shingle-Jaccard >= `threshold`, read off that frame.
    * Returns (pinned survivors, drop ids); a drop id repeats once per
    * pair it loses, which an anti-join ignores. */
  private def nearDupTail(exactKept: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int,
      maxShingleDf: Int, pinMode: String): (DataFrame, DataFrame) = {
    val withSets = exactKept
      .withColumn("__set", Text.shingleSetUdf(shingleSize)(col(textCol)))
    val pinned =
      if (Dedup.pinSetsEnabled(withSets.sparkSession))
        pinFrame(withSets, pinMode)
      else withSets
    val dropIds = Dedup.jaccardPairsFromSets(
        pinned.select(col(idCol).as("__id"), col("__set")),
        threshold, maxShingleDf)
      .select(col("id2").as(idCol))
    (pinned.drop("__set"), dropIds)
  }

  /** [[curate]]'s head: quality features and language ID over a corpus
    * fanned out on its content fingerprint `__fp`, cut to the token-length
    * band. Keeps `__fp` for [[exactSurvivors]]. */
  private def lengthBand(df: DataFrame, textCol: String, minTokens: Int,
      maxTokens: Int): DataFrame = {
    // a narrow input fans out on the fingerprint, so the features run
    // across cores and the exact-dedup window finds its rows clustered;
    // the fan-out is idempotent when the caller — e.g. [[trainPrep]] —
    // already fanned out before its scrub
    val head = Text.fanOut(
      df.withColumn("__fp", Text.fingerprint(col(textCol))), col("__fp"))
    Text.langId(Text.qualityFeatures(head, textCol), textCol)
      .filter(col("n_tokens").between(minTokens, maxTokens))
  }

  /** Exact dedup of a [[lengthBand]] frame: the rows whose id is the
    * smallest of their fingerprint, in one `min(id)` window partitioned by
    * the fingerprint — no aggregate joined back. Drops `__fp`. */
  private def exactSurvivors(kept: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    kept
      .withColumn("__min", min(col(idCol)).over(Window.partitionBy("__fp")))
      .filter(col(idCol) === col("__min"))
      .drop("__fp", "__min")
  }

  /** Per-stage audit of the [[curate]] chain: one row per stage with the
    * surviving document count — the funnel report every production
    * curation run ships alongside its output (a stage suddenly dropping
    * 40% of the corpus is a data bug you want THIS table to surface, not
    * a training-loss regression three weeks later). Stages mirror
    * [[curate]] exactly (same operators, same parameters):
    * input → length/langid band → exact dedup → near-dup removal.
    *
    * Scale shape: four count aggregates over the shared chain — the
    * exact survivors and their shingle sets are pinned once by the same
    * near-dup tail [[curate]] runs (`pinMode`, with the [[PinLocal]]
    * trade), so the audit costs one chain pass plus the near-dup join,
    * the same work [[curate]] itself does. The report frame is four
    * driver rows — metadata, not data.
    */
  def curationFunnel(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 70,
      nearDupThreshold: Double = 0.3, shingleSize: Int = 3,
      maxShingleDf: Int = Dedup.DefaultMaxShingleDf,
      pinMode: String = PinLocal,
      evalDf: Option[DataFrame] = None,
      budgets: Map[String, Long] = Map.empty,
      scrubFirst: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def scrub(f: DataFrame) =
      if (scrubFirst) f.withColumn(textCol, Text.scrubPii(col(textCol)))
      else f
    val kept = lengthBand(scrub(Text.fanOut(df)), textCol, minTokens,
      maxTokens)
    val (exactKept, dropIds) = nearDupTail(exactSurvivors(kept, idCol),
      idCol, textCol, nearDupThreshold, shingleSize, maxShingleDf, pinMode)
    val nExact = exactKept.count()
    val base = Seq(
      (1L, "input", df.count()),
      (2L, "length_lang", kept.count()),
      (3L, "exact_dedup", nExact),
      (4L, "near_dedup", nExact - dropIds.distinct().count()))
    // the trainPrep tail, audited only when its inputs are supplied:
    // decontamination against the (scrubbed) eval set, then the
    // per-language token-budget cut
    val withPrep =
      if (evalDf.isEmpty && budgets.isEmpty) base
      else {
        val curated = exactKept.join(dropIds, Seq(idCol), "left_anti")
        val clean = evalDf.fold(curated) { ev =>
          curated.join(
            Dedup.contamination(curated, scrub(ev), idCol, textCol,
              shingleSize).select(col(idCol)),
            Seq(idCol), "left_anti")
        }
        val afterEval = evalDf.map(_ =>
          (5L, "decontaminated", clean.count())).toSeq
        val afterMix =
          if (budgets.isEmpty) Seq.empty
          else Seq((base.length.toLong + afterEval.length + 1,
            "budget_mixed",
            Text.mixSample(clean, idCol, textCol, "lang_pred", budgets)
              .count()))
        base ++ afterEval ++ afterMix
      }
    withPrep.toDF("stage_idx", "stage", "n_docs")
  }

  /** The full training-data preparation job — [[curate]] extended with the
    * ingest-side and packaging stages, one call from raw corpus to the
    * packed layout a trainer consumes:
    *
    *   PII scrub → quality/length filter + language ID → exact dedup →
    *   near-dup removal → benchmark decontamination → domain mixing to
    *   per-language token budgets → sequence packing.
    *
    * Stage order follows practice: scrub BEFORE anything hashes text (PII
    * must not reach fingerprints or shingles), decontaminate AFTER dedup
    * (fewer docs to probe), mix after cleaning (budgets buy clean tokens),
    * pack last (the layout covers exactly the final corpus). Emits one row
    * per packed doc: language, token count, its domain's running total,
    * and its (bucket, offset, pack span) in the packed layout.
    *
    * Every stage is an individually-oracled operator; the composition adds
    * no new shuffle shapes — see each operator's Scaladoc for its 100 TB
    * story.
    */
  def trainPrep(df: DataFrame, idCol: String, textCol: String,
      evalDf: DataFrame, budgets: Map[String, Long],
      minTokens: Int = 20, maxTokens: Int = 70,
      nearDupThreshold: Double = 0.3, shingleSize: Int = 3,
      contextLen: Int = 256, numBuckets: Int = 0,
      materialize: Boolean = true,
      pinMode: String = PinLocal): DataFrame = {
    def scrub(f: DataFrame) =
      f.withColumn(textCol, Text.scrubPii(col(textCol)))
    // `clean` and `docs` each feed two downstream branches; with pure
    // lineage Spark's exchange reuse would have to dedup the shared
    // subtrees, but the branches reshape the plan (mixSample's bucketing,
    // packSequences' windows) enough that reuse does NOT cover the curate
    // chain and it re-executes per branch. Measured at 4× corpus scale
    // (ScaleProbe `train_prep_4x`, SCALE.md): materialize 6.5s vs pure
    // lineage 22.8s — so pinning the reused frames is the default;
    // `false` drops these two pins, for memory-starved clusters where
    // holding the cleaned corpus in block storage is worse than recompute
    // (curate still pins its survivors; only [[Dedup.PinSetsConf]] set to
    // `false` runs the whole job as lineage). `pinMode` picks the
    // pin mechanism: localCheckpoint for single-machine speed, reliable
    // checkpoint or DISK_ONLY_2 for preemptible fleets (see [[PinLocal]]).
    def pin(f: DataFrame) = if (materialize) pinFrame(f, pinMode) else f
    // curated also feeds two branches, but pinning IT measured no
    // improvement (slightly worse, within host variance, at sf0.1):
    // with the survivors already checkpointed inside curate, the branches'
    // curated subtrees canonicalize identically and ride exchange
    // reuse — a third checkpoint only adds materialization. clean/docs
    // do not reuse (their branches reshape the plan), hence exactly
    // those two pins.
    val curated = curate(scrub(Text.fanOut(df)), idCol, textCol,
      minTokens, maxTokens,
      nearDupThreshold, shingleSize, pinMode = pinMode)
    val contam = Dedup.contamination(curated, scrub(evalDf), idCol, textCol,
      shingleSize).select(col(idCol))
    val clean = pin(curated.join(contam, Seq(idCol), "left_anti"))
    val mixed = Text.mixSample(clean, idCol, textCol, "lang_pred", budgets)
    val docs = pin(clean.select(col(idCol), col(textCol), col("lang_pred"))
      .join(mixed.select(col(idCol), col("cum_tokens")), Seq(idCol)))
    Text.packSequences(docs, idCol, textCol, contextLen, numBuckets)
      .join(docs.drop(textCol), Seq(idCol))
      .select(col(idCol), col("lang_pred"), col("n_tokens"),
        col("cum_tokens"), col("bucket"), col("offset"),
        col("pack_first"), col("pack_last"))
  }
}
