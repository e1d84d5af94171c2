package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}

/** Trained-model tier of [[Text]]: DSIR importance resampling and the
  * counting-trained quality classifier, both with at-rest model artifacts
  * and streaming twins. Split from Text.scala round 12; `Text.<member>`
  * call sites are unchanged. */
private[pipeline] trait TextClassifier { self: Text.type =>

  /** md5-derived 60-bit hash — the oracle-reproducible hash family used
    * throughout ([[shingleFingerprint]]'s md5 mode); always non-negative,
    * so `pmod` and `%` agree across engines. */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-bucket importance weights for [[importanceSample]]: tokens hash
    * into `buckets` buckets; each bucket's weight is the scaled ratio of
    * its relative frequency under the TARGET distribution vs the RAW
    * corpus (add-one smoothed, S = 2^`scaleLog2`):
    *
    *   w_b = ⌊ S · (tgt_b + 1) · N_raw  /  ((raw_b + 1) · N_tgt) ⌋
    *
    * — w_b ≈ S means the bucket is equally likely under both; > S,
    * target-enriched. The output is `buckets` rows — tokenizer-metadata
    * scale, broadcastable by construction. Two corpus passes (one per
    * distribution), each a narrow hash-map into a `buckets`-key
    * aggregation; the totals derive from the bucket frames, never a
    * third scan.
    */
  def importanceWeights(raw: DataFrame, tgt: DataFrame, textCol: String,
      buckets: Int = 256, scaleLog2: Int = 20): DataFrame = {
    require(buckets >= 2 && scaleLog2 >= 10 && scaleLog2 <= 30)
    val s = 1L << scaleLog2
    val big = (c: Column) => c.cast("decimal(38,0)")
    def bucketCounts(df: DataFrame): DataFrame = fanOut(df)
      .select(explode(tokens(col(textCol))).as("tok"))
      .select(pmod(md5Long(col("tok")), lit(buckets.toLong)).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"))
    val rawB = bucketCounts(raw)
    val tgtB = bucketCounts(tgt)
    val nRaw = rawB.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val nTgt = tgtB.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    require(nTgt > 0, "importanceWeights needs a non-empty target corpus")
    // DENSE bucket table — all `buckets` rows, raw-absent buckets at
    // raw_b = 0. Batch scoring never reads the extra rows (a raw token's
    // bucket is raw-present by definition), but STREAMING scoring
    // against a stored table does: a stream token hashing into a bucket
    // the historical raw corpus never touched must score with the
    // maximally-target-enriched weight, not silently vanish from the
    // doc mean in the inner join
    raw.sparkSession.range(buckets.toLong).select(col("id").as("bkt"))
      .join(rawB, Seq("bkt"), "left")
      .join(tgtB.withColumnRenamed("c", "tc"), Seq("bkt"), "left")
      .withColumn("__wn",
        big(lit(s)) * big(coalesce(col("tc"), lit(0L)) + 1) * big(lit(nRaw)))
      .withColumn("__wd",
        big(coalesce(col("c"), lit(0L)) + 1) * big(lit(nTgt)))
      .withColumn("w", expr("__wn div __wd"))
      .select("bkt", "w")
  }

  /** DSIR-shaped data selection (Xie et al. 2023, arXiv:2302.03169):
    * deterministic importance resampling of the raw corpus toward a
    * target distribution, with hashed token buckets as the feature space.
    * Each doc scores the mean bucket weight of its tokens,
    *
    *   weight = ⌊ Σ_tok w_bucket(tok) / n_toks ⌋     (scaled: S ≈ 1.0)
    *
    * and is kept iff `md5(doc_id) mod S < weight` — acceptance with
    * probability min(1, weight/S), proportional to the importance ratio,
    * reproducible on any engine (DSIR's Gumbel top-k draws an RNG; the
    * hash-threshold form is the same selection pressure with a
    * deterministic coin, the [[mixSample]]/[[hashSplit]] discipline).
    * Docs with zero tokens carry no feature signal and are dropped.
    *
    * Scale shape: the weight table is `buckets` rows — broadcast onto one
    * exploded corpus pass; the per-doc reduce is map-side combinable; the
    * keep decision is a narrow map. Nothing driver-side beyond the two
    * total-count scalars.
    */
  def importanceSample(df: DataFrame, tgtDf: DataFrame, idCol: String,
      textCol: String, buckets: Int = 256, scaleLog2: Int = 20): DataFrame =
    importanceReduce(
      streamingImportanceScore(fanOut(df),
        ImportanceModel(importanceWeights(df, tgtDf, textCol, buckets,
          scaleLog2), buckets, scaleLog2), idCol, textCol),
      idCol, scaleLog2)

  /** A trained DSIR weight table plus the layout parameters scoring must
    * reproduce (bucket count for the token hash, scale for the coin). */
  final case class ImportanceModel(w: DataFrame, buckets: Int, scaleLog2: Int)

  /** Per-token weight partials for importance scoring — STATELESS on a
    * stream (the weight table is `buckets` rows, broadcast; no watermark,
    * no state store), reduced per doc by [[importanceReduce]] on the
    * drained sink / downstream. Partials are associative, so the reduce
    * equals the batch [[importanceSample]] however the source splits. */
  def streamingImportanceScore(stream: DataFrame, model: ImportanceModel,
      idCol: String, textCol: String): DataFrame =
    stream
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("bkt",
        pmod(md5Long(col("tok")), lit(model.buckets.toLong)))
      .join(broadcast(model.w), "bkt")
      .select(col(idCol), col("w"))

  /** The per-doc reduce over [[streamingImportanceScore]] partials: mean
    * bucket weight + the deterministic md5-coin keep decision. */
  def importanceReduce(partials: DataFrame, idCol: String,
      scaleLog2: Int = 20): DataFrame =
    partials
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_toks"), sum("w").as("__sw"))
      .withColumn("weight", expr("__sw div n_toks"))
      .withColumn("kept",
        (pmod(md5Long(col(idCol).cast("string")), lit(1L << scaleLog2)) <
          col("weight")).cast("long"))
      .drop("__sw")

  /** Persist a trained DSIR weight table — `buckets` rows + the layout
    * scalars, so admission decisions stay frozen while crawls stream in
    * (retraining shifts every acceptance threshold; the stored table is
    * the reproducibility unit, the [[writeTokenizer]] argument). Same
    * two-rename publish. */
  def writeImportanceWeights(model: ImportanceModel, path: String): Unit = {
    val spark = model.w.sparkSession
    import spark.implicits._
    graft.storage.AtomicDir.publish(spark, path, "writeImportanceWeights") {
      tmp =>
        Seq((model.buckets, model.scaleLog2)).toDF("buckets", "scale_log2")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta.parquet")
        model.w.coalesce(1).write.mode("overwrite")
          .parquet(s"$tmp/weights.parquet")
    }
  }

  /** Open a [[writeImportanceWeights]]-stored model — scoring runs
    * unchanged against the stored table. */
  def openImportanceWeights(spark: org.apache.spark.sql.SparkSession,
      path: String): ImportanceModel = {
    val p = new org.apache.hadoop.fs.Path(path)
    graft.storage.AtomicDir.recover(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p,
      "writeImportanceWeights")
    val meta = spark.read.parquet(s"$path/meta.parquet").head()
    ImportanceModel(spark.read.parquet(s"$path/weights.parquet"),
      meta.getAs[Int]("buckets"), meta.getAs[Int]("scale_log2"))
  }

  // --- trained-model artifacts at rest ------------------------------------

  /** A TRAINED document classifier at the shape of the fastText/DCLM
    * quality filter: `w` maps every token of the joint training vocabulary
    * to a scaled add-one-smoothed class-likelihood ratio
    * ⌊S·p̂(tok|pos)/p̂(tok|neg)⌋, `w0` is the weight of a token unseen in
    * training (both class counts zero — the same formula at cp = cn = 0),
    * `s` the fixed-point scale. Training is COUNTING (the multinomial
    * Naive Bayes estimator), so the whole model is reproducible by a
    * second engine bit for bit — the same reason [[LmRef]] carries counts,
    * not floats. The frame is vocabulary-sized; the scalars fold in at
    * weight-build time. */
  final case class ClassifierRef(w: DataFrame, w0: Long, s: Long,
      private val pinned: Option[DataFrame] = None) {
    /** Release the training-time vocabulary pin (no-op for stored models —
      * their weights are parquet-backed, nothing is cached). Serving
      * sessions that train many throwaway models call this; the pin is
      * evictable MEMORY_AND_DISK with lineage kept, so not calling it
      * costs at most cache pressure, never correctness. */
    def release(): Unit = pinned.foreach { p =>
      p.unpersist()
      vocabPins.synchronized { vocabPins -= p }
    }
  }

  /** Outstanding training-vocab pins, oldest first — the backstop for
    * callers that never [[ClassifierRef.release]] (the entry paths train a
    * throwaway ref per invocation): past [[MaxVocabPins]] the OLDEST pin
    * unpersists. Lineage is kept on these pins, so evicting one under an
    * in-flight query only costs recompute, never correctness — which is
    * what makes an automatic bound safe where localCheckpoint pins would
    * need explicit ownership. */
  private val vocabPins = scala.collection.mutable.Queue.empty[DataFrame]
  private[pipeline] val MaxVocabPins = 8
  private def registerVocabPin(p: DataFrame): Unit =
    vocabPins.synchronized {
      vocabPins += p
      while (vocabPins.size > MaxVocabPins)
        vocabPins.dequeue().unpersist(blocking = false)
    }
  private[pipeline] def vocabPinCount: Int =
    vocabPins.synchronized(vocabPins.size)

  /** Train a [[ClassifierRef]] from a labeled positive/negative corpus
    * pair — the DCLM/CCNet setup where "positive" is a curated reference
    * distribution and "negative" the raw crawl. Per joint-vocabulary token
    * with class counts cp, cn, class token totals nPos, nNeg, vocab V,
    * scale S = 2^`scaleLog2`:
    *
    *   w_s(tok) = ⌊ S · (cp+1) · (nNeg+V) / ((cn+1) · (nPos+V)) ⌋
    *
    * — the add-one-smoothed likelihood ratio p̂(tok|pos)/p̂(tok|neg): > S
    * means the token prefers the positive class. No float log anywhere
    * (decimal(38,0) cross-multiplication), so weights are bit-identical
    * across engines; the monotone-score deviation from log-space Naive
    * Bayes is deliberate and documented at [[classifierScore]].
    *
    * Scale shape: two count passes (one per class, each a narrow
    * tokenize + combinable groupBy), a vocabulary-sized full outer join,
    * and three scalars. Nothing is corpus-sized past the first
    * aggregation — training a quality filter over a 100 TB crawl is two
    * scans and a vocab-sized shuffle. */
  def classifierTrain(pos: DataFrame, neg: DataFrame, textCol: String,
      scaleLog2: Int = 20): ClassifierRef =
    classifierFromVocab(classVocab(pos, neg, textCol), scaleLog2)

  /** One labeled corpus pair → joint-vocabulary `(tok, cp, cn)` counts —
    * the classifier's mergeable substrate (counts add; weights do not). */
  private def classVocab(pos: DataFrame, neg: DataFrame,
      textCol: String): DataFrame = {
    def classCounts(df: DataFrame, name: String) = fanOut(df)
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as(name))
    classCounts(pos, "__cp")
      .join(classCounts(neg, "__cn"), Seq("tok"), "full")
      .select(col("tok"), coalesce(col("__cp"), lit(0L)).as("cp"),
        coalesce(col("__cn"), lit(0L)).as("cn"))
  }

  /** Weight derivation shared by [[classifierTrain]] and
    * [[openClassifierCounts]]: merged `(tok, cp, cn)` counts →
    * [[ClassifierRef]], scalars folded in at build time. */
  private def classifierFromVocab(vocab0: DataFrame,
      scaleLog2: Int): ClassifierRef = {
    require(scaleLog2 >= 10 && scaleLog2 <= 30)
    val s = 1L << scaleLog2
    // the scalar pass below MATERIALIZES the vocabulary, and the weight
    // frame derives from the same vocabulary — persist it so the scoring
    // join reads the counted blocks instead of re-running both class
    // count passes (tokenize + combinable groupBy each) a second time
    // through pure lineage. persist (not localCheckpoint) keeps lineage:
    // an evicted/lost block recomputes, so preemptible fleets need no
    // opt-out; the frame is vocabulary-sized (KBs per 10k tokens).
    val vocab = vocab0.persist()
    registerVocabPin(vocab)
    val m = vocab.agg(coalesce(sum("cp"), lit(0L)),
      coalesce(sum("cn"), lit(0L)), count(lit(1))).head()
    val (nPos, nNeg, v) = (m.getLong(0), m.getLong(1), m.getLong(2))
    require(nPos > 0 && nNeg > 0,
      "classifier needs non-empty positive AND negative token counts")
    val big = (c: Column) => c.cast("decimal(38,0)")
    val w = vocab
      .withColumn("__num", big(lit(s)) * big(col("cp") + 1) *
        big(lit(nNeg + v)))
      .withColumn("__den", big(col("cn") + 1) * big(lit(nPos + v)))
      .select(col("tok"), expr("__num div __den").as("w"))
    val w0 = (BigInt(s) * BigInt(nNeg + v) / BigInt(nPos + v)).toLong
    ClassifierRef(w, w0, s, pinned = Some(vocab))
  }

  /** Score documents under a trained [[ClassifierRef]]: per doc,
    * `clf_score` = ⌊ Σ w_s(tok) / n_toks ⌋ — the MEAN scaled token
    * likelihood ratio — and `pred_pos` = 1 iff clf_score ≥ S (the mean
    * token prefers the positive class). Deliberate deviation from
    * log-space Naive Bayes: the mean of ratios replaces the sum of
    * log-ratios, trading the probabilistic calibration for exact integer
    * arithmetic (the [[lmScore]] surrogate argument: monotone in per-token
    * class preference, no transcendental anywhere, oracle-checkable bit
    * for bit). Zero-token docs are dropped — no lexical evidence.
    *
    * Scale shape: one tokenize pass over the scored corpus, a
    * vocabulary-sized left join (never broadcast-forced; AQE broadcasts
    * exactly when the model fits), one map-side-combinable per-doc
    * reduce. The sum rides decimal(38,0): a billion-token document times
    * a 2^40-scale ratio weight must not wrap a long. */
  def classifierScore(df: DataFrame, ref: ClassifierRef, idCol: String,
      textCol: String): DataFrame =
    streamingClassifierScore(fanOut(df), ref, idCol, textCol)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_toks"),
        sum(col("w").cast("decimal(38,0)")).as("__sum"))
      .withColumn("clf_score", expr("__sum div n_toks"))
      .withColumn("pred_pos", (col("clf_score") >= ref.s).cast("long"))
      .drop("__sum")

  /** Streaming twin of [[classifierScore]]'s per-token half: weight
    * lookups as a STATELESS stream-static join against the (typically
    * [[openClassifier]]-stored) model — no state store, no watermark, and
    * the `(id, w)` partials are associative, so the sink-side reduce
    * equals the batch scorer however the source splits into
    * micro-batches (the [[streamingLmScore]] contract). */
  def streamingClassifierScore(stream: DataFrame, ref: ClassifierRef,
      idCol: String, textCol: String): DataFrame =
    stream
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .join(ref.w, Seq("tok"), "left")
      .select(col(idCol), coalesce(col("w"), lit(ref.w0)).as("w"))

  /** Persist a [[ClassifierRef]] — the quality filter AT REST, trained
    * once and applied to every fresh dump (scores are only comparable
    * under one frozen model). Layout: `meta.parquet` (w0, s) +
    * `w.parquet` (tok, w) sorted by token in a bounded file count; the
    * same two-rename publish as [[writeLm]] — weights and scalars must
    * change together or unseen-token scoring goes stale. */
  def writeClassifier(ref: ClassifierRef, path: String): Unit = {
    val spark = ref.w.sparkSession
    import spark.implicits._
    graft.storage.AtomicDir.publish(spark, path, "writeClassifier") { tmp =>
      Seq((ref.w0, ref.s)).toDF("w0", "s")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta.parquet")
      ref.w.repartition(4).sortWithinPartitions("tok")
        .write.mode("overwrite").parquet(s"$tmp/w.parquet")
    }
  }

  /** Open a [[writeClassifier]]-stored model — [[classifierScore]] runs
    * unchanged against the stored frame; no count pass. */
  def openClassifier(spark: org.apache.spark.sql.SparkSession,
      path: String): ClassifierRef = {
    val p = new org.apache.hadoop.fs.Path(path)
    graft.storage.AtomicDir.recover(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p,
      "writeClassifier")
    val meta = spark.read.parquet(s"$path/meta.parquet").head()
    ClassifierRef(spark.read.parquet(s"$path/w.parquet"),
      meta.getAs[Long]("w0"), meta.getAs[Long]("s"))
  }

  /** One labeled batch → its `(tok, cp, cn, batch_key)` count partial. */
  private def classBatchCounts(pos: DataFrame, neg: DataFrame,
      textCol: String, batchKey: String): DataFrame =
    classVocab(pos, neg, textCol).withColumn("batch_key", lit(batchKey))

  /** The classifier's count substrate AT REST — INCREMENTAL training: at
    * 100 TB a fresh labeled dump cannot trigger a re-tokenize of every
    * corpus ever labeled, so the count store accumulates per-batch class
    * token counts under replay-stable batch keys (the
    * [[appendDupGramIndex]] discipline: counts merge by ADDITION, the one
    * associative fold this tier needs; an at-least-once redelivery lands
    * a duplicate `(tok, batch_key)` row every reader drops before
    * summing). Weights are NOT stored — they are a per-token function of
    * the GLOBAL totals, so any cached weight goes stale on every append;
    * [[openClassifierCounts]] derives them from the merged counts, making
    * an incrementally-grown model equal the from-scratch train bit for
    * bit. Serve-time freeze still goes through [[writeClassifier]]. */
  def writeClassifierCounts(pos: DataFrame, neg: DataFrame,
      textCol: String, path: String, batchKey: String = "base"): Unit =
    graft.storage.AtomicDir.publish(pos.sparkSession, path,
      "classifier counts") { tmp =>
      classBatchCounts(pos, neg, textCol, batchKey)
        .coalesce(4).write.parquet(tmp)
    }

  /** Append one labeled batch's count partial under a replay-stable key. */
  def appendClassifierCounts(pos: DataFrame, neg: DataFrame,
      textCol: String, path: String, batchKey: String): Unit =
    classBatchCounts(pos, neg, textCol, batchKey)
      .coalesce(4).write.mode("append").parquet(path)

  /** Derive the serving [[ClassifierRef]] from an accumulated count
    * store: replay duplicates dropped, per-batch partials summed per
    * token, then the [[classifierTrain]] weight formula over the merged
    * totals — base + increments ≡ a one-shot train over the union
    * corpus. */
  def openClassifierCounts(spark: org.apache.spark.sql.SparkSession,
      path: String, scaleLog2: Int = 20): ClassifierRef = {
    val p = new org.apache.hadoop.fs.Path(path)
    graft.storage.AtomicDir.recover(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p,
      "classifier counts")
    classifierFromVocab(
      spark.read.parquet(path)
        .dropDuplicates("tok", "batch_key")
        .groupBy("tok").agg(sum("cp").as("cp"), sum("cn").as("cn")),
      scaleLog2)
  }

  /** Fold accumulated per-batch count partials to one row per token —
    * the IO compaction that caps file-listing cost as labeled dumps pile
    * up, doubling as the durable replay repair (run with appends
    * quiesced — the rollup-store compaction rule). */
  def compactClassifierCounts(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    graft.storage.AtomicDir.recoverCompact(fs, live)
    graft.storage.AtomicDir.compactPublish(spark, path,
      "compact classifier counts") { tmp =>
      val key = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"
      spark.read.parquet(path)
        .dropDuplicates("tok", "batch_key")
        .groupBy("tok").agg(sum("cp").as("cp"), sum("cn").as("cn"))
        .withColumn("batch_key", lit(key))
        .coalesce(4).write.parquet(tmp)
    }
  }
}
