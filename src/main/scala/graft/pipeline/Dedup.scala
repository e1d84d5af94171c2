package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Deduplication operators for corpus-scale pipelines.
  *
  * Scale design: nothing here cross-joins the corpus. Candidate generation is
  * always hash-bucketed (exact hash, MinHash band buckets, SimHash prefix
  * buckets) so the shuffle is keyed on small buckets; only within-bucket
  * pairs are verified. That is the shape that survives 100 TB — the
  * all-pairs verify step stays proportional to true-duplicate density.
  */
object Dedup {

  /** (id → shingle set), fanned out across cores and built with the JVM
    * hot-path shingler (see [[Text.shingleSetUdf]] perf note). */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    Text.fanOut(df).select(col(idCol).as("__id"),
      Text.shingleSetUdf(shingleSize)(col(textCol)).as("__set"))

  /** Exact dedup: group on the normalized-content fingerprint, keep the
    * smallest id as representative. One map-side-combinable shuffle. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", Text.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup keeping the BEST representative per duplicate group
    * rather than the smallest id — the policy real pipelines want (keep
    * the longest / highest-quality copy; near-identical variants differ in
    * whitespace, casing, truncation). One map-side-combinable aggregation:
    * argmax as a `max(struct(score, -id))` fold, no per-group window.
    * Ties break to the higher score, then the smaller id.
    */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
      score: Column): DataFrame = {
    requireIntegralId(df, idCol, "exactKeepBest")
    df.withColumn("fp", Text.fingerprint(col(textCol)))
      .withColumn("__s", score)
      .groupBy("fp")
      .agg(argmaxStruct(col("__s"), col(idCol)).as("__best"),
        count(lit(1)).as("dup_count"))
      .select(col("fp"), (-col("__best.negid")).as("keep_id"),
        col("__best.s").as("score"), col("dup_count"))
  }

  /** The survivor-selection aggregate shared by the keep-best policies
    * ([[exactKeepBest]], [[clusterKeepBest]]): max over a
    * (score, −id) struct = highest score, smallest id on ties, as ONE
    * two-phase aggregation. Read the winner back as `__best.s` /
    * `-__best.negid`. */
  private def argmaxStruct(score: Column, id: Column): Column =
    max(struct(score.as("s"), (-id).as("negid")))

  /** The `(score, −id)` argmax encoding needs an id that NEGATES: a
    * string id would implicit-cast through double (leading zeros lost,
    * non-numeric ids null/failing) and corrupt keep_id silently — fail
    * at plan time instead. */
  private def requireIntegralId(df: DataFrame, idCol: String,
      fn: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(dt),
      s"$fn selects survivors via max(struct(score, -id)) — needs an " +
        s"integral id column, $idCol is ${dt.simpleString} " +
        "(string/uuid ids: hash them to a long first)")
  }

  /** Rows surviving exact dedup (representatives only). */
  def exactDeduped(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash signatures: `numHashes` permutations approximated by seeded
    * xxhash64 over word `shingleSize`-gram shingles; signature[i] = min hash
    * under seed i.
    *
    * Shape matters at scale: shingles are exploded ONCE, then all
    * `numHashes` hashes are computed per (doc, shingle) row and folded with
    * `min` aggregates — map-side combinable, one shuffle keyed on doc id.
    * (Embedding the shingle expression `numHashes` times in one projection
    * re-tokenizes every row 64× and explodes codegen — measured 40×
    * slower.) Docs with no shingles (< shingleSize tokens) drop out.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleSize: Int): DataFrame =
    shingleSets(df, idCol, textCol, shingleSize)
      .select(col("__id").as(idCol),
        MinHash.signatureUdf(numHashes)(col("__set")).as("sig"))
      .filter(col("sig").isNotNull) // docs with no shingles have no signature

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * hash each band → (band index, band hash) bucket keys. Docs sharing any
    * bucket are near-dup candidates. Returns one row per (doc, band).
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, shingleSize: Int = 3): DataFrame =
    bucketsOfSignatures(
      minhashSignatures(df, idCol, textCol, bands * rowsPerBand,
        shingleSize), idCol, bands, rowsPerBand)

  /** The banding half of [[lshBuckets]], over an already-built signature
    * frame. */
  private def bucketsOfSignatures(withSig: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    withSig.select(col(idCol), posexplode(
        array(bandKeys(col("sig"), bands, rowsPerBand): _*)))
      .select(col(idCol), col("pos").as("band"), col("col").as("bucket"))

  /** The `bands` bucket keys of a signature: band b hashes its
    * `rowsPerBand` signature slots. */
  private def bandKeys(sig: Column, bands: Int,
      rowsPerBand: Int): Seq[Column] =
    (0 until bands).map(b => xxhash64(concat_ws(",",
      slice(sig, b * rowsPerBand + 1, rowsPerBand))))

  /** MinHash-LSH near-dup candidate pairs (id1 < id2), deduped across bands.
    * Shuffle is keyed on (band, bucket) — within-bucket self-join only.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      maxBucketDocs: Int = 0): DataFrame =
    rawCandidates(df, idCol, textCol, bands, rowsPerBand, shingleSize,
      maxBucketDocs).distinct()

  /** Candidate pairs possibly repeated across bands — enough for a semi-join
    * consumer; [[minhashCandidates]] adds the distinct for user-facing use.
    *
    * `maxBucketDocs > 0` drops buckets holding more documents: a bucket of
    * k docs emits k²/2 pairs, and oversized buckets are near-identical
    * boilerplate clusters (every member collides in a full band) whose
    * members the OTHER bands still pair up — the guard bounds the worst
    * bucket's cost without an all-pairs fallback. 0 = no cap (exact
    * banding semantics, the verification default).
    */
  private def rawCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, shingleSize: Int,
      maxBucketDocs: Int = 0): DataFrame =
    candidatesOfBuckets(
      lshBuckets(df, idCol, textCol, bands, rowsPerBand, shingleSize),
      idCol, maxBucketDocs)

  /** The cap + pair-join half of [[rawCandidates]], over a prebuilt
    * (id, band, bucket) frame. */
  private def candidatesOfBuckets(b0: DataFrame, idCol: String,
      maxBucketDocs: Int): DataFrame =
    selfJoinOnBuckets(capBuckets(b0, maxBucketDocs), idCol,
      Seq("band", "bucket"))

  /** Drop the (band, bucket) rows of buckets holding more than
    * `maxBucketDocs` docs (0 = keep all). */
  private def capBuckets(b0: DataFrame, maxBucketDocs: Int): DataFrame =
    if (maxBucketDocs <= 0) b0
    else {
      import org.apache.spark.sql.expressions.Window
      b0.withColumn("__bn",
          count(lit(1)).over(Window.partitionBy("band", "bucket")))
        .filter(col("__bn") <= maxBucketDocs).drop("__bn")
    }

  /** Bucket-keyed self-join emitting ordered (id1, id2) pairs, with BOTH
    * children the same canonical plan (aliases applied after the join) —
    * see [[selfJoinOnTok]] for what that buys under each join strategy. */
  private def selfJoinOnBuckets(b: DataFrame, idCol: String,
      keys: Seq[String]): DataFrame =
    b.alias("l").join(b.alias("r"),
        keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id1"), col(s"r.$idCol").as("id2"))

  /** Default document-frequency cap for shingle-based similarity. Shingles
    * appearing in more documents than this are boilerplate ("terms of
    * service …"): they emit O(df²) rows in the inverted-index self-join while
    * carrying near-zero similarity signal — at corpus scale one hot shingle
    * is a job-killer. Capped shingles are dropped from both the numerator and
    * the denominator (Jaccard over the filtered vocabulary), the standard
    * stop-shingle guard; pass 0 to disable.
    */
  val DefaultMaxShingleDf = 20

  /** Corpus-relative floor under the df cap: the effective threshold is
    * `max(maxShingleDf, nDocs × 5‰)`, so on a billion-document corpus only
    * shingles in > 0.5% of documents count as boilerplate — keeping the
    * broadcast stop list genuinely tiny at any scale (an absolute cap of 20
    * would otherwise sweep most of a large corpus's vocabulary into it).
    */
  val DfCapPerMille = 5L

  /** (`__id`, `__kept`, `__n`): each document's df-capped shingle set and
    * its size — the verify-stage vocabulary. Public so other tiers (e.g.
    * the streaming near-dup probe) verify over the SAME capped vocabulary
    * as the batch pipeline.
    *
    * `pin = true` materializes the shingle-set frame ONCE (lazy
    * localCheckpoint — no job at plan construction; the first action
    * stores the blocks) so the stop-list branch and the kept-sets branch
    * share a single shingling pass — without it the df-count subtree
    * re-shingles the whole corpus (its exchange child is a partial
    * aggregate, so ReuseExchange cannot dedup it against the main
    * path). Measured at bench scale: −0.35s min / −0.38s median on
    * `dedup_jaccard_pairs`. The trade is executor-local storage of the
    * set frame (corpus-sized; spills past memory) and localCheckpoint's
    * non-reliable blocks — on a preemptible fleet where an executor
    * loss must not fail the job, pass `pin = false` and pay the second
    * shingling pass. */
  def cappedSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxDf: Int, pin: Boolean = false): DataFrame = {
    val sets0 = shingleSets(df, idCol, textCol, shingleSize)
    cappedSetsFrom(if (pin) pinSets(sets0) else sets0, maxDf)
  }

  /** Pin a frame that several branches of one query read: a LAZY
    * localCheckpoint, so the first action stores its blocks and every
    * later branch reads them — unless [[PinSetsConf]] is off. Lazy means
    * no job beyond the exchanges below the frame: Spark's checkpoint
    * executes the adaptive plan to get its RDD, so a frame above a
    * shuffle (a [[Text.fanOut]]) runs that shuffle when pinned. */
  private[pipeline] def pinSets(sets: DataFrame): DataFrame =
    if (pinSetsEnabled(sets.sparkSession)) sets.localCheckpoint(eager = false)
    else sets

  /** Session kill-switch for the shingle-set pins ([[PinSetsConf]],
    * default on): `pinSets = true` call sites trade a second (and third)
    * corpus shingling pass for localCheckpoint blocks — non-replicated,
    * lineage-truncated, so an executor loss mid-job FAILS the query
    * instead of recomputing. On a preemptible fleet that trade is wrong
    * for every caller at once, which is what a per-call parameter cannot
    * express — set the conf to `false` and every dedup entry point runs
    * its original recompute-on-loss plan (identical results, one extra
    * shingling pass per consumer branch). */
  val PinSetsConf = "spark.graft.dedup.pinSets"

  private[graft] def pinSetsEnabled(
      spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.get(PinSetsConf, "true").trim.toBoolean

  /** [[cappedSets]] over a prebuilt (`__id`, `__set`) frame — the shared
    * face pin modes use so the df-cap and the kept sets derive from ONE
    * materialized shingling. */
  private def cappedSetsFrom(sets: DataFrame, maxDf: Int): DataFrame = {
    val kept = applyStop(sets,
      if (maxDf <= 0) None else Some(stopShinglesFromSets(sets, maxDf)))
    kept.select(col("__id"), col("__kept"), size(col("__kept")).as("__n"))
  }

  /** Apply an optional one-row broadcast stop-shingle array to per-doc
    * shingle sets — THE single implementation the batch df-cap and the
    * cross-corpus/stored-index probe share, so the "probe verifies over
    * a byte-identical vocabulary" contract is structural rather than two
    * hand-synced copies. */
  private def applyStop(sets: DataFrame,
      stop: Option[DataFrame]): DataFrame = stop match {
    case None => sets.withColumn("__kept", col("__set"))
    case Some(st) => sets.crossJoin(broadcast(st))
      .withColumn("__kept", array_except(col("__set"), col("__stop")))
  }

  /** One-row frame holding the corpus's stop-shingle ARRAY (`__stop`) under
    * the df cap — tiny by contract (only boilerplate qualifies), so it is
    * broadcastable or even collectable as index metadata (the streaming
    * probe embeds it as a literal so incoming docs verify over the same
    * capped vocabulary as the batch pipeline). */
  def stopShingles(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxDf: Int): DataFrame =
    stopShinglesFromSets(shingleSets(df, idCol, textCol, shingleSize),
      maxDf)

  /** [[stopShingles]] over an already-built (`__id`, `__set`) frame —
    * lets [[cappedSets]]' pin mode derive the stop list from the SAME
    * materialized sets the kept path reads.
    *
    * One aggregation gives both the document frequencies and the doc
    * count: every doc adds a null "shingle" (no real shingle is null), so
    * the null group's count is nDocs. That one row is broadcast back
    * against the same aggregation (one exchange, reused), so only the
    * shingles above the effective threshold `max(maxDf, nDocs × 5‰)`
    * reach the single-partition fold — the fold holds the stop list and
    * nothing more. Four jobs in all: the df shuffle, the doc-count
    * broadcast, the fold, the stop-list broadcast. */
  private def stopShinglesFromSets(sets: DataFrame,
      maxDf: Int): DataFrame = {
    val sentinel = array(lit(null).cast("string"))
    val dfs = sets
      .select(explode(concat(coalesce(col("__set"), array()), sentinel))
        .as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__df"),
        // both branches filter on this aggregate flag: a filter on the
        // grouping key would be pushed below the aggregation, and a
        // column one branch leaves unread would be pruned from its
        // side — either way the two would no longer share one exchange
        max(col("__tok").isNull).as("__sentinel"))
    val nDocs = dfs.filter(col("__sentinel")).select(col("__df").as("__ndocs"))
    dfs.filter(col("__df") > maxDf.toLong && !col("__sentinel"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") > expr(s"(__ndocs * $DfCapPerMille) div 1000"))
      .agg(collect_list(col("__tok")).as("__stop"))
  }

  /** Exploded shingle rows (`__id`, kept-vocabulary size `__n`, shingle
    * `__tok`) with document-frequency > `maxDf` stop-shingles removed —
    * `__n` comes from the set size BEFORE exploding, so the only shuffle
    * in the whole cap is the map-side-combinable df count. */
  private def cappedExploded(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxDf: Int, pin: Boolean = false): DataFrame =
    cappedSets(df, idCol, textCol, shingleSize, maxDf, pin)
      .select(col("__id"), col("__n"), explode(col("__kept")).as("__tok"))

  /** MinHash-LSH candidate pairs with oracle-reproducible hashing: md5-60bit
    * seeded signatures ([[MinHash.signatureMd5Udf]]) and band buckets keyed
    * by the literal signature-slice text (`concat_ws`), both of which DuckDB
    * computes identically — so the full LSH pipeline (signatures → banding →
    * candidates → exact verify) hash-matches an SQL mirror. Same shape as
    * [[minhashCandidates]]; slower hashing, for verification tiers.
    */
  def minhashCandidatesMd5(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3): DataFrame = {
    val bk = md5BandKeys(df, idCol, textCol, bands, rowsPerBand, shingleSize)
    selfJoinOnBuckets(bk, idCol, Seq("band", "bucket")).distinct()
  }

  /** (`idCol`, band, bucket) LSH band keys with the oracle-reproducible md5
    * hashing — one row per (doc, band). Works on batch AND streaming frames
    * (stateless narrow maps only), so a streaming probe can key into a
    * static corpus index built by the same function. */
  def md5BandKeys(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, shingleSize: Int = 3,
      extraCols: Seq[String] = Nil): DataFrame = {
    // fanOut reads batch plan statistics — skip it for streaming frames
    // (their parallelism comes from the source)
    val src = if (df.isStreaming) df else Text.fanOut(df)
    md5BandKeysFromSets(
      src.select((extraCols.map(col) :+ col(idCol) :+
        Text.shingleSetUdf(shingleSize)(col(textCol)).as("__set")): _*),
      idCol, "__set", bands, rowsPerBand, extraCols)
      .drop("__set") // band-key-only callers must not shuffle the sets
  }

  /** [[md5BandKeys]] over an already-computed shingle-set column — lets a
    * caller compute the set once and keep it alongside the band keys (the
    * streaming probe carries it into the verify stage). */
  def md5BandKeysFromSets(df: DataFrame, idCol: String, setCol: String,
      bands: Int, rowsPerBand: Int, extraCols: Seq[String] = Nil): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSig = df
      .select((extraCols.map(col) :+ col(idCol) :+ col(setCol) :+
        MinHash.signatureMd5Udf(numHashes)(col(setCol)).as("sig")): _*)
      .filter(col("sig").isNotNull)
    val bandRows = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }
    withSig
      .select((extraCols.map(col) :+ col(idCol) :+ col(setCol) :+
        explode(array(bandRows: _*)).as("bb")): _*)
      .select((extraCols.map(col) :+ col(idCol) :+ col(setCol) :+
        col("bb.band") :+ col("bb.bucket")): _*)
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs, verified
    * by intersecting the two docs' capped shingle sets — work
    * proportional to the candidates, never the whole inverted index, never
    * a cross product. `pairs` must have columns (id1, id2); each distinct
    * pair with id1 < id2 that shares a kept shingle comes back once (the
    * rows [[jaccardPairs]] would emit for it). Jaccard is computed over
    * the df-capped shingle vocabulary (see [[DefaultMaxShingleDf]]).
    */
  def jaccardVerify(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val capped = cappedSetsFrom(shingleSets(df, idCol, textCol, shingleSize),
      maxShingleDf)
    def side(i: Int) = capped.select(col("__id").as(s"id$i"),
      col("__kept").as(s"__kept$i"), col("__n").as(s"n$i"))
    verifyKept(pairs.select("id1", "id2").filter(col("id1") < col("id2"))
      .distinct().join(side(1), "id1").join(side(2), "id2"))
  }

  /** THE candidate verify, shared by [[jaccardVerify]] and
    * [[nearDuplicates]]: (id1, id2, shared, n1, n2, jaccard) from rows
    * carrying both docs' capped sets (`__kept1`, `__kept2`) and their
    * sizes, with `shared = |kept1 ∩ kept2|`. A pair sharing no kept
    * shingle drops — the inverted index would never emit it. */
  private def verifyKept(cands: DataFrame): DataFrame =
    cands
      .withColumn("shared",
        size(array_intersect(col("__kept1"), col("__kept2"))).cast("long"))
      .filter(col("shared") > 0)
      .select(col("id1"), col("id2"), col("shared"), col("n1"), col("n2"),
        (col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared"))).as("jaccard"))

  /** All pairs with exact shingle-Jaccard >= threshold: LSH candidates →
    * exact verify of those candidates only (filter, then verify — the
    * shape of ICDE'22 compressed-index similarity joins). The canonical
    * fuzzy-dedup pipeline; its rows are the [[jaccardPairs]] rows whose
    * pair collides in some band.
    *
    * Scale shape: each (doc, band) row carries the doc's band keys and
    * its capped shingle set, so the bucket self-join verifies in place —
    * `shared = |kept1 ∩ kept2|` — with no second join by id. A pair that
    * collides in several bands is kept in its FIRST colliding band only,
    * read off both docs' band keys, so no shuffle dedups the candidates.
    * The price is the capped set riding each of a doc's `bands` rows
    * through the join. With `maxBucketDocs > 0` a pair's first band may
    * sit in a dropped bucket, so that mode dedups with a shuffle instead.
    *
    * `pinSets = true` (default) materializes the shingle-set frame ONCE
    * (lazy localCheckpoint — materialized at the first action) and
    * derives ALL THREE shingle consumers from it — the MinHash signature
    * branch, the stop-shingle df count, and the verify kept-sets — where
    * the unpinned chain shingles the corpus three times (the branches'
    * exchange children differ, so ReuseExchange cannot dedup them).
    * Same trade as [[jaccardPairs]]' pin: executor-local storage of the
    * set frame vs repeated corpus passes; pass `pinSets = false` on
    * preemptible fleets (or flip [[PinSetsConf]] once per session to opt
    * every call site out). */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf,
      maxBucketDocs: Int = 0, pinSets: Boolean = true): DataFrame = {
    val sets0 = shingleSets(df, idCol, textCol, shingleSize)
    val sets = if (pinSets) Dedup.pinSets(sets0) else sets0
    val stop =
      if (maxShingleDf <= 0) None
      else Some(stopShinglesFromSets(sets, maxShingleDf))
    // (doc, band) rows: band index, bucket, all band keys, capped set.
    // Docs with no shingles have no signature; the keys array is never
    // empty, and the outer form stops Catalyst inferring a non-empty
    // filter that would evaluate the signature UDF again per band
    val keyed = applyStop(sets.filter(size(col("__set")) > 0), stop)
      .select(col("__id"), col("__kept"),
        MinHash.signatureUdf(bands * rowsPerBand)(col("__set")).as("sig"))
      .select(col("__id"), col("__kept"), size(col("__kept")).as("__n"),
        array(bandKeys(col("sig"), bands, rowsPerBand): _*).as("__keys"))
      .select(col("*"),
        posexplode_outer(col("__keys")).as(Seq("band", "bucket")))
    val b = capBuckets(keyed, maxBucketDocs)
    val pairs = b.alias("l").join(b.alias("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .filter(col("l.__id") < col("r.__id"))
    def verified(p: DataFrame) = verifyKept(p.select(
      col("l.__id").as("id1"), col("r.__id").as("id2"),
      col("l.__kept").as("__kept1"), col("r.__kept").as("__kept2"),
      col("l.__n").as("n1"), col("r.__n").as("n2")))
    val once =
      if (maxBucketDocs <= 0)
        verified(pairs.filter(col("l.band") ===
          firstEqual(col("l.__keys"), col("r.__keys"), bands)))
      else verified(pairs).dropDuplicates("id1", "id2")
    once.filter(col("jaccard") >= threshold)
  }

  /** Smallest index `i < n` where arrays `a` and `b` hold equal elements
    * (null when none) — one `when` per index, so no lambda. */
  private def firstEqual(a: Column, b: Column, n: Int): Column = {
    val hits = (0 until n).map(i => when(a(i) === b(i), lit(i)))
    if (n == 1) hits.head else least(hits: _*)
  }

  /** Exact all-pairs n-gram Jaccard >= threshold via shingle inverted index
    * (no LSH, no cross join): explode shingles → df-cap stop-shingles →
    * co-count pairs sharing at least one kept shingle → Jaccard filter.
    * Exactly reproducible in SQL — used as the DuckDB-oracle near-dup query.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf,
      pinSets: Boolean = true): DataFrame = {
    val sets0 = shingleSets(df, idCol, textCol, shingleSize)
    jaccardPairsFromSets(if (pinSets) Dedup.pinSets(sets0) else sets0,
      threshold, maxShingleDf)
  }

  /** [[jaccardPairs]] over a prebuilt (`__id`, `__set`) frame — the face
    * [[Pipelines.curate]] uses on the one frame it pins. */
  private[pipeline] def jaccardPairsFromSets(sets: DataFrame,
      threshold: Double, maxShingleDf: Int): DataFrame = {
    val e = cappedSetsFrom(sets, maxShingleDf)
      .select(col("__id"), col("__n"), explode(col("__kept")).as("__tok"))
    selfJoinOnTok(e)
      .groupBy("id1", "id2", "n1", "n2")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "shared", "n1", "n2", "jaccard")
  }

  /** Asymmetric CONTAINMENT pairs: fraction of each doc's shingles found
    * in the other (`c_ab = shared/|A|`, `c_ba = shared/|B|`), kept when
    * either side exceeds `threshold`. This is the quote/subset detector
    * symmetric Jaccard structurally misses: a paragraph embedded in a
    * 100× longer doc has Jaccard ≈ 1%, containment ≈ 100%. Identical
    * machinery and cost to [[jaccardPairs]] — same capped inverted-index
    * self-join — only the final normalization differs, so everything in
    * SCALE.md about the jaccard tier (df caps, grouped variant trade)
    * applies verbatim.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf,
      pinSets: Boolean = true): DataFrame = {
    val e = cappedExploded(df, idCol, textCol, shingleSize, maxShingleDf,
      pinSets)
    selfJoinOnTok(e)
      .groupBy("id1", "id2", "n1", "n2")
      .agg(count(lit(1)).as("shared"))
      .withColumn("c_ab", col("shared").cast("double") / col("n1"))
      .withColumn("c_ba", col("shared").cast("double") / col("n2"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id1", "id2", "shared", "n1", "n2", "c_ab", "c_ba")
  }

  /** [[jaccardPairs]] through per-shingle adjacency lists instead of a
    * self-join: group the capped inverted index by shingle, emit each
    * posting list's ordered pairs with a flatMap, then count shared
    * shingles per pair. EXACTLY the same output. Trades the self-join's
    * second exchange + join machinery for one grouped aggregation + narrow
    * flatMap; [[jaccardPairs]] keeps the ReuseExchange self-join shape.
    * Both are driver-oracled against the same SQL; the measured winner at
    * bench scale is recorded in SCALE.md.
    *
    * Memory bound — read before picking this variant at scale: each
    * posting list is ONE `collect_list` buffer of up to the effective df
    * cap `max(maxShingleDf, nDocs·5‰)` entries, held in executor memory,
    * and its pair fan-out is O(cap²). Because the cap's floor is
    * corpus-RELATIVE, a billion-doc corpus admits 5M-entry buffers with
    * 10¹³-pair fan-outs per near-cap shingle — the self-join streams the
    * same work through the shuffle machinery instead of buffering it.
    * Use this variant only when the effective cap is absolute (small
    * `maxShingleDf` dominating `nDocs·5‰`, i.e. corpora under
    * `maxShingleDf / 0.005` docs); default to [[jaccardPairs]] otherwise.
    * The trade is recorded in SCALE.md ("jaccard pair generation").
    */
  def jaccardPairsGrouped(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf,
      pinSets: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the posting-list flatMap is typed over (Long, Int) pairs — unlike
    // the id-type-generic self-join variant, this one needs a Long id
    // and must say so at plan time, not die inside the encoder
    require(df.schema(df.schema.fieldIndex(idCol)).dataType ==
        org.apache.spark.sql.types.LongType,
      s"jaccardPairsGrouped's typed posting lists need a LongType id; " +
        s"$idCol is " +
        df.schema(df.schema.fieldIndex(idCol)).dataType.simpleString +
        " — use jaccardPairs (id-type generic) instead")
    val posting = cappedExploded(df, idCol, textCol, shingleSize,
        maxShingleDf, pinSets)
      .groupBy("__tok")
      .agg(collect_list(struct(col("__id").as("_1"), col("__n").as("_2")))
        .as("__docs"))
      .select(col("__docs"))
      .as[Seq[(Long, Int)]]
    posting.flatMap { docs =>
      val s = docs.sortBy(_._1)
      for {
        i <- s.indices.iterator
        j <- (i + 1) until s.length
      } yield (s(i)._1, s(j)._1, s(i)._2, s(j)._2)
    }.toDF("id1", "id2", "n1", "n2")
      .groupBy("id1", "id2", "n1", "n2")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "shared", "n1", "n2", "jaccard")
  }

  /** Connected components over an undirected near-dup pair list, by
    * iterative min-label propagation: each round, every node adopts the
    * smallest component label among itself and its neighbors, so labels
    * converge to the minimum id reachable — the cluster key. Pairs are the
    * edge list (`id1`/`id2`); output is one `(id, component)` row per doc
    * that appears in at least one pair, plus `is_rep` marking the minimum
    * id of each cluster (the survivor under keep-one-per-cluster dedup).
    *
    * This is the step between pair emission and survivor selection: the
    * pairwise drop-the-larger policy ([[graft.pipeline.Pipelines.curate]])
    * over-keeps on chains (A~B, B~C keeps A AND anything not directly
    * paired), while cluster-representative dedup keeps exactly one doc per
    * transitive group.
    *
    * Scale shape: edges materialize ONCE (the pair pipeline above them is
    * not recomputed per round); each round is one keyed shuffle
    * (join + min-agg), and the round count is the largest cluster
    * DIAMETER — near-dup clusters are dense (members pair with most of
    * the cluster), so diameters stay in low single digits. A chain-shaped
    * adversarial graph would need the alternating-star algorithm
    * (O(log n) rounds); `maxIter` bounds the loop either way.
    */
  def components(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 20): DataFrame = {
    // materialize the edge list: every iteration re-reads it, and its
    // lineage (LSH/verify/inverted-index) must not re-execute per round
    val edges = pairs
      .select(col(idCol1).as("a"), col(idCol2).as("b"))
      .union(pairs.select(col(idCol2).as("a"), col(idCol1).as("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighbor = edges.join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("comp"))
      // localCheckpoint each round: bounds plan depth across iterations
      val next = labels.unionByName(neighbor)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()
      changed = next.alias("n")
        .join(labels.alias("o"), col("n.id") === col("o.id"))
        .filter(col("n.comp") =!= col("o.comp")).count()
      labels = next
      i += 1
    }
    // a silent truncation would report one transitive cluster as several
    // components and let duplicates pass dedup — fail loudly instead
    // (the kCore non-convergence posture); long-chain graphs belong on
    // [[componentsLogRounds]], which converges in O(log n) rounds
    if (changed > 0) throw new IllegalStateException(
      s"components: min-label propagation did not converge in $maxIter " +
        "rounds — the graph's diameter exceeds the budget; raise maxIter " +
        "or use componentsLogRounds (O(log n) rounds on any shape)")
    labels
  }

  /** Connected components in O(log n) rounds via alternating
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): each round contracts every node toward the
    * minimum of its neighborhood, halving component DIAMETER — where
    * [[components]]'s min-label propagation needs diameter rounds (fine
    * for dense near-dup clusters, hopeless on a million-node chain), this
    * converges on ANY graph shape in logarithmically many rounds.
    *
    * large-star: hang every neighbor larger than `u` off the minimum of
    * `u`'s closed neighborhood. small-star: hang `u` and its
    * smaller-or-equal neighbors off that minimum. Both are one keyed
    * shuffle (min-agg + join back); at the fixpoint the edge set is a
    * disjoint union of stars rooted at each component's minimum id.
    * Convergence check is a single-row signature agg (count + id sums),
    * not a set diff — cheap enough to run every round.
    *
    * Same contract as [[components]]: input is an undirected pair list,
    * output is (id, comp) with `comp` = the component's minimum id, one
    * row per node that appears in at least one pair.
    */
  def componentsLogRounds(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 30): DataFrame = {
    // every node in the pair list, kept aside so nodes appearing ONLY in
    // self-pairs (no real edges) still come back as their own singleton
    // component — same contract as [[components]]
    val nodes = pairs.select(col(idCol1).as("id"))
      .union(pairs.select(col(idCol2).as("id")))
      .distinct()
      .localCheckpoint()
    // canonical (larger u, smaller v) edges; self-pairs contribute nothing
    var edges = pairs
      .select(col(idCol1).as("a"), col(idCol2).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint()

    // one-row convergence signature: star-contraction strictly decreases
    // (edges, sum-of-endpoints) until the fixpoint, so an unchanged
    // signature == an unchanged edge set — no except() set diff needed.
    // TWO independent hash families (32-bit murmur + xxhash64) make an
    // accidental collision ~2^-96; and the label extraction below no
    // longer TRUSTS convergence, so even a colliding early exit would
    // only truncate (the documented degraded mode), never corrupt.
    // decimal sums: exact, and immune to ANSI overflow on huge edge sets
    def signature(e: DataFrame): Seq[Any] =
      e.agg(count(lit(1)),
        sum(hash(col("u")).cast("decimal(38,0)")),
        sum(hash(col("v")).cast("decimal(38,0)")),
        sum(xxhash64(col("u")).cast("decimal(38,0)")),
        sum(xxhash64(col("v")).cast("decimal(38,0)")))
        .collect()(0).toSeq

    // large-star over the symmetrized graph: for each node, every STRICTLY
    // LARGER neighbor re-attaches to min(closed neighborhood). Emitted as
    // (larger, smaller) since the new parent is a neighborhood minimum.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("__mv"), col("u")).as("__m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star over the (u > v)-oriented edges: u and all its smaller
    // neighbors re-attach to the minimum among them
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.join(
        e.groupBy("u").agg(min(col("v")).as("__m")), Seq("u"))
      withM.select(col("v").as("u"), col("__m").as("v"))
        .union(withM.select(col("u"), col("__m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var sig = signature(edges)
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      // localCheckpoint per round: bounds plan depth and re-execution
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      done = nextSig == sig
      sig = nextSig
      edges = next
      i += 1
    }
    // fixpoint is a star forest: u-side nodes are members, v-side their
    // component minimum; roots label themselves. The min-agg runs
    // UNCONDITIONALLY — at the fixpoint it equals distinct() (each u has
    // one parent) at the same one-keyed-shuffle cost, and when maxIter
    // ran out (or a signature collision exited early) it collapses a
    // node's candidate parents to ONE (possibly non-minimal, like an
    // unconverged [[components]] run) label rather than emitting
    // structurally invalid duplicate rows — correctness never rides on
    // the convergence fingerprint.
    val member = edges.select(col("u").as("id"), col("v").as("comp"))
      .union(edges.select(col("v").as("id"), col("v").as("comp")))
    val labels = member.groupBy("id").agg(min("comp").as("comp"))
    // re-attach self-pair-only singletons (left anti = nodes with no label)
    labels.unionByName(
      nodes.join(labels, Seq("id"), "left_anti").withColumn("comp", col("id")))
  }

  /** Inverted-index self-join of an exploded-shingle frame on `__tok`,
    * keeping ordered pairs: (id1, n1, id2, n2) rows, one per shared
    * shingle. Both join children are the SAME plan (aliases applied after
    * the join). As a sort-merge join (large inputs), that lets
    * ReuseExchange shuffle the side once for both. When adaptive
    * execution turns the join into a broadcast hash join (a small side),
    * there is no exchange to reuse: the build side runs as its own stage
    * and the probe side computes the pipeline again in the join's stage —
    * which is why every caller feeds it from a pinned set frame. */
  private def selfJoinOnTok(e: DataFrame): DataFrame =
    e.alias("l").join(e.alias("r"), col("l.__tok") === col("r.__tok"))
      .filter(col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id1"), col("l.__n").as("n1"),
        col("r.__id").as("id2"), col("r.__n").as("n2"))

  /** Embedding-cosine near-duplicates: all pairs with cosine >= threshold.
    *
    * Candidates come from random-hyperplane LSH buckets (exact bucket +
    * 1-bit flips, so pairs differing in <= 1 signature bit are compared);
    * only candidates get the exact cosine. `exact = true` skips LSH and
    * scores every pair via a broadcast cross join — the small-corpus /
    * oracle-comparable path.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dims: Int, exact: Boolean = false,
      numPlanes: Int = 12, seed: Int = 42): DataFrame = {
    val l = df.select(col(idCol).as("id1"), col(vecCol).as("__v1"))
    val r = df.select(col(idCol).as("id2"), col(vecCol).as("__v2"))
    val pairs =
      if (exact) l.join(broadcast(r), col("id1") < col("id2"))
      else {
        val sig1 = Similarity.rhpSignature(col("__v1"), dims, numPlanes, seed)
        val sig2 = Similarity.rhpSignature(col("__v2"), dims, numPlanes, seed)
        val lb = l.withColumn("__sig0", sig1)
          .select(col("id1"), col("__v1"), explode(array(
            (col("__sig0") +: (0 until numPlanes).map(p =>
              col("__sig0").bitwiseXOR(lit(1 << p)))): _*)).as("__sig"))
        val rb = r.withColumn("__sig", sig2)
        lb.join(rb, Seq("__sig")).filter(col("id1") < col("id2"))
          .select("id1", "__v1", "id2", "__v2").distinct()
      }
    pairs
      .withColumn("cos", Similarity.cosine(col("__v1"), col("__v2")))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos")
  }

  /** 64-bit SimHash over token hashes: sign-sum of each bit position across
    * the document's tokens (multiplicity counts). Implemented as a typed
    * [[Aggregator]] over (id, tokenHash) pairs — a single
    * map-side-combinable aggregation.
    *
    * `hash = "xx"` (default) hashes tokens with xxhash64 — the fast path.
    * `hash = "md5"` uses a 60-bit md5-derived hash that DuckDB reproduces
    * exactly, making the whole SimHash pipeline oracle-checkable (bits
    * 60-63 then sign-sum to -n, i.e. 0 — mirrored by only assembling bits
    * 0-59 in SQL).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      hash: String = "xx"): DataFrame = {
    val hashed: Column = hash match {
      case "xx"  => xxhash64(col("__tok"))
      case "md5" => conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long")
      case other => throw new IllegalArgumentException(s"unknown hash '$other'")
    }
    val tokenHashes = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("__tok"))
      .select(col(idCol), hashed.as("__h"))
    tokenHashes.groupBy(idCol)
      .agg(udaf(SimHashAgg, Encoders.scalaLong).apply(col("__h")).as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming`, found via the standard
    * pigeonhole scheme (Manku et al., WWW'07): split the 64-bit simhash into
    * `maxHamming + 1` contiguous blocks and bucket on each (block index,
    * block bits) key — a pair differing in <= maxHamming bits has all its
    * differing bits inside at most maxHamming blocks, so at least one block
    * matches exactly and the pair shares a bucket. Recall is therefore
    * COMPLETE (equivalent to brute-force hamming <= maxHamming), while the
    * join stays bucket-keyed. Larger maxHamming means narrower blocks and
    * fuller buckets — keep maxHamming small (<= 7) at scale.
    *
    * `maxBucketDocs > 0` drops (block, key) buckets holding more documents:
    * a bucket of k docs emits k²/2 join rows, and oversized buckets are
    * boilerplate clusters of near-identical simhashes — sub-splitting can't
    * bound them, because cluster members agree on every block. UNLIKE the
    * minhash band guard, capping here COSTS RECALL: pigeonhole blocks are
    * not redundant (a pair is only guaranteed ONE matching block), so a pair
    * whose sole matching block sits in a dropped bucket is lost — and
    * cluster members themselves stop pairing with each other. Use it as the
    * scale escape hatch when a corpus has pathological boilerplate, sized
    * well above the largest legitimate cluster; 0 (default) = complete
    * recall, the verification tier's operating point.
    */
  def simhashCandidates(sim: DataFrame, idCol: String,
      maxHamming: Int = 3, maxBucketDocs: Int = 0): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks >= 1 && nBlocks <= 64, s"maxHamming $maxHamming out of range")
    val bounds = (0 to nBlocks).map(b => (64 * b) / nBlocks)
    val keys = (0 until nBlocks).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit(mask)).as("key"))
    }
    val b0 = sim
      .select(col(idCol), col("simhash"), explode(array(keys: _*)).as("bk"))
      .select(col(idCol), col("simhash"),
        col("bk.blk").as("blk"), col("bk.key").as("key"))
    val bucketed =
      if (maxBucketDocs <= 0) b0
      else {
        import org.apache.spark.sql.expressions.Window
        b0.withColumn("__bn",
            count(lit(1)).over(Window.partitionBy("blk", "key")))
          .filter(col("__bn") <= maxBucketDocs).drop("__bn")
      }
    // identical children → the simhash aggregation + bucketing runs once
    // and its exchange is reused on the other side (see selfJoinOnBuckets)
    bucketed.alias("l").join(bucketed.alias("r"),
        col("l.blk") === col("r.blk") && col("l.key") === col("r.key"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id1"), col(s"r.$idCol").as("id2"),
        col("l.simhash").as("sh1"), col("r.simhash").as("sh2")).distinct()
      .withColumn("hamming", hamming(col("sh1"), col("sh2")))
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicated n-gram span mining: the most-repeated word n-grams across
    * the corpus with their document frequency and first-occurrence doc —
    * the substring-level duplication signal behind suffix-array training-
    * data dedup (long spans repeated verbatim across documents are
    * boilerplate or leaked templates; reference: Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 — approximated
    * here at fixed span length n, which is the scalable variant). Counts
    * are per-document (a span repeated within one doc counts once), so
    * `df` reads directly as "how many documents carry this span".
    *
    * Scale shape: shingle sets are built in the scan stage, the df count is
    * one map-side-combinable aggregation keyed on the n-gram, and the
    * global top-k is Spark's distributed TakeOrdered — no full sort is
    * materialized. The (df DESC, ngram) order is total, so the cut is
    * deterministic at any k.
    */
  def dupNgrams(df: DataFrame, idCol: String, textCol: String, n: Int = 5,
      minDf: Int = 2, topK: Int = 50): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col("__id"), explode(col("__set")).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("df"), min(col("__id")).as("first_doc"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("ngram"))
      .limit(topK)

  /** Cross-corpus exact near-duplicates: every (new doc, reference doc)
    * pair with shingle-Jaccard >= `threshold` — the batch "dedupe the new
    * crawl against the existing training set" job (the streaming analog is
    * [[graft.streaming.StreamIngest.streamingNearDup]]; within-corpus is
    * [[jaccardPairs]]). The REFERENCE corpus owns the capped vocabulary:
    * its stop-shingle list (df cap + corpus-relative floor) is applied to
    * BOTH sides, exactly like the streaming probe, so results don't shift
    * with the new dump's composition.
    *
    * Scale shape: inverted-index join keyed on the shingle across the two
    * corpora — never an all-pairs product; the stop list bounds hot keys
    * and broadcasts. Pair verify cost is proportional to true cross-corpus
    * overlap.
    */
  def crossCorpusNearDups(newDf: DataFrame, refDf: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val stop =
      if (maxShingleDf <= 0) None
      else Some(stopShingles(refDf, idCol, textCol, shingleSize, maxShingleDf))
    crossVerify(
      keptExploded(newDf, idCol, textCol, shingleSize, stop),
      keptExploded(refDf, idCol, textCol, shingleSize, stop),
      threshold)
  }

  /** Capped inverted-index rows (`__id`, `__n`, `__tok`) of `df` under an
    * externally-supplied stop list (or none). */
  private def keptExploded(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, stop: Option[DataFrame]): DataFrame =
    applyStop(shingleSets(df, idCol, textCol, shingleSize), stop)
      .select(col("__id"), size(col("__kept")).as("__n"),
        explode(col("__kept")).as("__tok"))

  /** Shared verify tail of the cross-corpus paths: inverted-index join on
    * the shingle, per-pair co-count, Jaccard threshold. */
  private def crossVerify(newKept: DataFrame, refKept: DataFrame,
      threshold: Double): DataFrame =
    newKept
      .select(col("__id").as("new_id"), col("__n").as("n_new"), col("__tok"))
      .join(refKept
        .select(col("__id").as("ref_id"), col("__n").as("n_ref"),
          col("__tok")), Seq("__tok"))
      .groupBy("new_id", "ref_id", "n_new", "n_ref")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_new") + col("n_ref") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "ref_id", "shared", "n_new", "n_ref", "jaccard")

  /** Persist the reference side of [[crossCorpusNearDups]] — the near-dup
    * index at rest, so each new dump dedups against a 100 TB training set
    * WITHOUT recomputing its shingles, stop list, or df profile (the
    * dominant cost: shingle/tokenize compute over the full corpus).
    * Artifacts under `path`:
    *   - `meta.parquet`  — (shingle_size, max_shingle_df), read back by
    *     the probe so both sides always shingle identically;
    *   - `stop.parquet`  — the ref-owned stop-shingle list (one array
    *     row; empty array when the cap is off);
    *   - `index.parquet` — the capped inverted index (`ref_id`, `n_ref`,
    *     `tok`), repartitioned on `tok` so probe joins read
    *     shingle-clustered files.
    * The probe ([[probeNearDupIndex]]) is byte-identical to running
    * [[crossCorpusNearDups]] against the original reference corpus — the
    * two paths share `keptExploded`/`crossVerify`, only the ref frame's
    * provenance differs (tested, and the driver query shares the
    * cross-corpus oracle). Same at-rest pattern as
    * [[graft.pipeline.Similarity.writeIvf]] for vectors.
    */
  def writeNearDupIndex(refDf: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3,
      maxShingleDf: Int = DefaultMaxShingleDf): Unit = {
    val spark = refDf.sparkSession
    import spark.implicits._
    // build into a sibling dir, then two-rename swap the WHOLE index —
    // meta/stop/index must change together or a concurrent (or
    // post-crash) probe reads a new stop list against an old index
    // (shared protocol: graft.storage.AtomicDir)
    graft.storage.AtomicDir.publish(spark, path, "writeNearDupIndex") { tmp =>
      Seq((shingleSize, maxShingleDf)).toDF("shingle_size", "max_shingle_df")
        .write.mode("overwrite").parquet(s"$tmp/meta.parquet")
      val stop =
        if (maxShingleDf <= 0)
          Seq(Seq.empty[String]).toDF("__stop")
        else stopShingles(refDf, idCol, textCol, shingleSize, maxShingleDf)
      stop.write.mode("overwrite").parquet(s"$tmp/stop.parquet")
      val stopRead = spark.read.parquet(s"$tmp/stop.parquet")
      keptExploded(refDf, idCol, textCol, shingleSize, Some(stopRead))
        .select(col("__id").as("ref_id"), col("__n").as("n_ref"),
          col("__tok").as("tok"))
        .repartition(col("tok"))
        .write.mode("overwrite").parquet(s"$tmp/index.parquet")
    }
  }

  /** Crash recovery for [[writeNearDupIndex]]'s swap window — see
    * [[graft.storage.AtomicDir.recover]]. Called by both the writer and
    * the probe so the next access self-heals. */
  private[graft] def recoverNearDupIndex(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit =
    graft.storage.AtomicDir.recover(fs, live, "writeNearDupIndex")

  /** Dedup a new dump against a stored [[writeNearDupIndex]] index: the
    * new side is shingled under the STORED stop list (so results don't
    * shift with the dump's composition — same contract as the recompute
    * path), then joined against the stored inverted index. Per probe,
    * compute is proportional to the NEW dump; the reference corpus
    * contributes only a parquet scan of its index rows.
    */
  def probeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newDf: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val live = new org.apache.hadoop.fs.Path(path)
    recoverNearDupIndex(
      live.getFileSystem(spark.sessionState.newHadoopConf()), live)
    val meta = spark.read.parquet(s"$path/meta.parquet").collect()(0)
    val shingleSize = meta.getAs[Int]("shingle_size")
    val stop = spark.read.parquet(s"$path/stop.parquet")
    val idx = spark.read.parquet(s"$path/index.parquet")
      .select(col("ref_id").as("__id"), col("n_ref").as("__n"),
        col("tok").as("__tok"))
    crossVerify(
      keptExploded(newDf, idCol, textCol, shingleSize, Some(stop)),
      idx, threshold)
  }

  /** Benchmark contamination detection: flag training documents that share
    * word n-gram shingles with an evaluation corpus — the standard
    * decontamination test a pretraining pipeline runs so benchmark answers
    * don't leak into the training set (the reference engine has no analog;
    * this is pure pipeline surface). Emits one row per CONTAMINATED train
    * doc: its distinct-shingle count, the number of those shingles that
    * also occur anywhere in the eval corpus, and the overlap ratio.
    *
    * Scale shape: the eval side is a benchmark suite — thousands of docs
    * against a 100 TB train corpus — so its distinct shingle set broadcasts
    * (`broadcastEval=true`, the default) and the probe is a broadcast hash
    * join in the train scan stage: no shuffle of train shingles at all, and
    * the per-doc counts are one map-side-combinable aggregation keyed on
    * doc id. With `broadcastEval=false` the same plan shuffles both sides
    * on the shingle — the fallback when the eval corpus is genuinely large.
    * Docs with fewer than `shingleSize` tokens have no shingles and cannot
    * be flagged.
    */
  def contamination(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3,
      broadcastEval: Boolean = true): DataFrame = {
    val evalSh = shingleSets(evalDf, idCol, textCol, shingleSize)
      .select(explode(col("__set")).as("__tok")).distinct()
    val probe = if (broadcastEval) broadcast(evalSh) else evalSh
    shingleSets(train, idCol, textCol, shingleSize)
      .select(col("__id"), size(col("__set")).cast("long").as("n_shingles"),
        explode(col("__set")).as("__tok"))
      .join(probe, Seq("__tok"))
      .groupBy("__id", "n_shingles")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_shingles"))
          .as("contamination"))
  }

  /** Eval-side leakage report — the inverse direction of [[contamination]]:
    * for each EVAL document, how much of it the training corpus already
    * contains (the number a benchmark owner reads before trusting a
    * score). Emits one row per eval doc — including zero-leak docs AND
    * docs too short to shingle (n_shingles 0, leakage 0), so the report
    * certifies every doc as checked — with its distinct-shingle count,
    * the count of those shingles found anywhere in train, and their
    * ratio.
    *
    * Scale shape mirrors [[contamination]] with the broadcast direction
    * kept on the small side throughout: the eval shingle vocabulary
    * broadcasts into a semi-join that the train scan probes (one pass,
    * no wide shuffle), and the matched-vocabulary result — bounded by
    * the eval vocabulary, not the corpus — broadcasts back into the
    * per-eval-doc count. Train is read once; nothing corpus-sized ever
    * shuffles.
    */
  def contaminationReport(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    val sets = shingleSets(evalDf, idCol, textCol, shingleSize)
    val evalSh = sets.select(col("__id"), explode(col("__set")).as("__tok"))
    val evalVocab = evalSh.select("__tok").distinct()
    val matched = shingleSets(train, idCol, textCol, shingleSize)
      .select(explode(col("__set")).as("__tok"))
      .join(broadcast(evalVocab), Seq("__tok"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1L))
    val hits = evalSh.join(broadcast(matched), Seq("__tok"), "left")
      .groupBy("__id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
    // rejoin onto the full eval doc list: a doc with fewer than
    // shingleSize tokens has no shingles (and no explode rows) but must
    // still certify as checked — n_shingles 0, leakage 0
    sets.select(col("__id"), size(col("__set")).cast("long").as("n_shingles"))
      .join(hits, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_shingles") > 0,
          coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_shingles")).otherwise(lit(0.0)).as("leakage"))
  }

  /** Cross-corpus exact dedup with a Bloom-filter prescreen: emit the
    * incoming documents whose content fingerprint already exists in the
    * reference corpus. The output is EXACT (a semi-join on the
    * fingerprint verifies every candidate, so Bloom false positives
    * never escape) — the filter is purely the scale layer: it is built
    * once over the reference fingerprints (one tree-aggregated job),
    * broadcast, and applied as a narrow filter on the incoming scan, so
    * only the tiny might-match fraction reaches the join. With a 1% fpp
    * the filter costs ~1.2 bytes per reference doc — ~1.2 GB broadcast
    * at 10⁹ refs; beyond that raise `fpp` or shard the reference and
    * union the per-shard results.
    *
    * `expectedItems <= 0` sizes the filter from an exact count of the
    * reference (one cheap aggregate); pass the known corpus size to skip
    * that job.
    */
  def bloomDedup(newDf: DataFrame, refDf: DataFrame, idCol: String,
      textCol: String, fpp: Double = 0.01,
      expectedItems: Long = 0L): DataFrame = {
    val (refFps, might) = fingerprintBloom(refDf, textCol, fpp, expectedItems)
    newDf.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .filter(might(col("fp")))
      // left-semi ignores build-side multiplicity — no distinct needed,
      // which saves a corpus-sized exchange+aggregate over the ref side
      .join(refFps, Seq("fp"), "left_semi")
      .select(col(idCol), col("fp"))
  }

  /** Shared build step of the bloom-prescreened dedup paths (batch
    * [[bloomDedup]], streaming
    * [[graft.streaming.StreamIngest.streamingBloomAdmit]]): the reference
    * fingerprint frame plus a broadcast might-contain predicate over it.
    * `expectedItems <= 0` sizes the filter from an exact count (one
    * cheap aggregate). A null fingerprint is never "might contain". */
  private[graft] def fingerprintBloom(refDf: DataFrame, textCol: String,
      fpp: Double, expectedItems: Long)
      : (DataFrame, org.apache.spark.sql.expressions.UserDefinedFunction) = {
    val refFps = refDf.select(Text.fingerprint(col(textCol)).as("fp"))
    val n = if (expectedItems > 0L) expectedItems
      else math.max(refFps.count(), 1L)
    val bloom = refFps.stat.bloomFilter("fp", n, fpp)
    val bc = refDf.sparkSession.sparkContext.broadcast(bloom)
    (refFps,
      udf((s: String) => s != null && bc.value.mightContainString(s)))
  }

  /** Cluster-representative dedup with a QUALITY policy: connected
    * components over the near-dup pair list, then per cluster keep the
    * highest-scoring member (min id on ties) — the production variant
    * of keep-one-per-cluster where the survivor is chosen by quality
    * rather than smallest id (the near-dup analog of
    * [[exactKeepBest]]). Emits one row per cluster: its label, the
    * kept doc, its score, and the member count. `scores` must cover
    * every doc appearing in `pairs` (score the corpus the pairs came
    * from): the membership join is inner, so an unscored member would
    * silently lose election and leave the count.
    *
    * Scale shape: labeling is [[components]] (edges materialize once,
    * rounds = cluster diameter); survivor selection is ONE
    * two-phase argmax aggregation keyed on the component
    * ([[argmaxStruct]]) — no per-cluster window, map-side partials.
    */
  def clusterKeepBest(pairs: DataFrame, scores: DataFrame, idCol: String,
      scoreCol: String, maxIter: Int = 20,
      logRounds: Boolean = false): DataFrame = {
    requireIntegralId(scores, idCol, "clusterKeepBest")
    // the component pass is pluggable: min-label (loud past maxIter) for
    // dense near-dup clusters, large-star/small-star for chain-shaped
    // graphs whose diameter would blow the round budget
    (if (logRounds) componentsLogRounds(pairs, maxIter = math.max(maxIter, 30))
     else components(pairs, maxIter = maxIter))
      .join(scores.select(col(idCol).as("id"), col(scoreCol).as("__s")),
        Seq("id"))
      .groupBy("comp")
      .agg(argmaxStruct(col("__s"), col("id")).as("__best"),
        count(lit(1)).as("cluster_size"))
      .select(col("comp").as("component"),
        (-col("__best.negid")).as("keep_id"),
        col("__best.s").as("score"),
        col("cluster_size"))
  }

  /** Snapshot diff by content fingerprint — the release-audit report
    * between two corpus versions: per group, how many distinct contents
    * were added, removed, and kept. Keys on (group, fingerprint), so
    * content that moved between groups counts as removed from one and
    * added to the other. One distinct per side + a full-outer join on
    * the same key both sides already shuffled on; output is
    * metadata-sized (|groups| rows) at any corpus size.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    // null texts fingerprint to NULL, and null join keys never match —
    // a null-text doc on both sides would count added+removed instead
    // of kept. The sentinel (not 32 hex chars) cannot collide with a
    // real md5, and matches exact()'s posture of treating all null
    // fingerprints as one content group
    def fps(df: DataFrame, marker: String) =
      df.select(col(groupCol),
          coalesce(Text.fingerprint(col(textCol)), lit("__null__"))
            .as("__fp"))
        .distinct()
        .withColumn(marker, lit(1L))
    fps(oldDf, "__o")
      .join(fps(newDf, "__n"), Seq(groupCol, "__fp"), "full_outer")
      .groupBy(groupCol)
      .agg(
        sum(when(col("__o").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("__n").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("__o").isNotNull && col("__n").isNotNull, 1L)
          .otherwise(0L)).as("n_kept"))
  }

  /** All single-character deletions of a string, plus the string itself —
    * the SymSpell deletion neighborhood at distance 1 (Garbe's published
    * symmetric-delete scheme). Distinct because repeated characters yield
    * identical deletions ("aab": dropping either 'a' gives "ab"). */
  private[graft] def deletionVariants(s: String): Array[String] = {
    if (s == null || s.isEmpty) return Array("")
    val out = new Array[String](s.length + 1)
    out(0) = s
    var i = 0
    while (i < s.length) {
      out(i + 1) = s.substring(0, i) + s.substring(i + 1)
      i += 1
    }
    out.distinct
  }

  private def deletionVariantsUdf
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => deletionVariants(s))

  /** Edit-distance fuzzy join: all doc pairs whose normalized `keyLen`-char
    * prefix keys are within Levenshtein distance 1 — typo-grade near-dup
    * detection (OCR slips, mojibake, off-by-one-character scrapes), the
    * band of similarity the shingle tiers cannot see (one character edit
    * barely moves Jaccard on short texts but IS the whole difference).
    *
    * Candidates come from SymSpell's symmetric-delete scheme rather than
    * any all-pairs scan: two strings with ed(a,b) ≤ 1 ALWAYS share a
    * member of their deletion neighborhoods {s} ∪ del₁(s) — if b inserts
    * one char into a then a ∈ del₁(b); if it substitutes at i then
    * delᵢ(a) = delᵢ(b) — so an equi-join on exploded variants has
    * complete recall by construction (DedupSpec pins it against
    * brute-force). Each candidate pair then exact-verifies with
    * `levenshtein` (codegen'd) — the verify step only confirms/annotates,
    * it cannot add pairs.
    *
    * The key is the normalized text capped at `keyLen` chars: caps both
    * the variant fan-out (≤ keyLen+1 rows per doc) and the verify cost
    * (levenshtein is O(keyLen²)); the fingerprint normalization
    * (lower/trim/collapse-whitespace) is [[Text.fingerprint]]'s, so "the
    * same doc modulo whitespace" keys identically.
    *
    * Scale shape: one narrow variant explode, one equi-join on the
    * variant key (shuffle bounded by docs × (keyLen+1)), distinct on the
    * pair key, then the O(1)-per-pair verify. Pair output over a group of
    * g identical keys is g·(g−1)/2 — inherent to pair semantics (the
    * jaccard tier's contract); `maxBucket` drops variant keys shared by
    * more rows than the cap, bounding any one join key's fan-out: recall
    * stays complete for every pair below the cap, and groups above it are
    * exact-duplicate clusters the cheaper [[exact]]/[[exactDeduped]] tier
    * already finds.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      keyLen: Int = 40, maxBucket: Long = 4096): DataFrame = {
    require(keyLen >= 4 && maxBucket >= 2)
    val keyed = Text.fanOut(df).select(col(idCol).as("__id"),
      substring(regexp_replace(trim(lower(col(textCol))), "\\s+", " "),
        1, keyLen).as("__key"))
    val variants = keyed
      .select(col("__id"), col("__key"),
        explode(deletionVariantsUdf(col("__key"))).as("__v"))
    val capped = variants.groupBy("__v").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("__v")
    val a = variants.join(capped, "__v")
    val b = a.select(col("__v"), col("__id").as("__id_b"),
      col("__key").as("__key_b"))
    a.join(b, "__v")
      .filter(col("__id") < col("__id_b"))
      .select(col("__id").as("doc_a"), col("__id_b").as("doc_b"),
        col("__key"), col("__key_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("__key"), col("__key_b")))
      .filter(col("dist") <= 1)
      .select("doc_a", "doc_b", "dist")
  }

  /** SimHash sign-sum aggregator: +1/-1 per bit per token hash. */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(acc: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
      acc
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(acc: Array[Int]): Long = {
      var out = 0L
      var i = 0
      while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    override def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
