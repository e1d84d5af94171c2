package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}

/** Quality-scoring tier of [[Text]]: heuristic and Gopher-style document
  * quality features, PII scrubbing, language ID, length profiling — the
  * filters a curation pipeline runs before anything expensive. Split from
  * Text.scala round 12 (file-size hygiene); `Text.<member>` call sites are
  * unchanged — the members mix back into the one object. */
private[pipeline] trait TextQuality { self: Text.type =>

  /** Quality-score features (length / punctuation / stopword / digit
    * ratios) — the standard cheap heuristics a pretraining pipeline filters
    * on. All ratios are exact integer/integer divisions, so an SQL oracle
    * reproduces them bit-for-bit.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = col("__toks") // materialized once — see shinglesOfTokens note
    val nChars = length(t)
    val nTokens = size(toks)
    val nPunct = nChars - length(regexp_replace(t, "[.,;:!?'\"()-]", ""))
    val nDigit = nChars - length(regexp_replace(t, "[0-9]", ""))
    val nWs = nChars - length(regexp_replace(t, " ", ""))
    val nStop = wordHits(t, StopwordsEn)
    df.withColumn("__toks", tokens(t))
      .withColumn("n_chars_m", nChars.cast("long"))
      .withColumn("n_tokens", nTokens.cast("long"))
      .withColumn("punct_ratio",
        when(nChars > 0, nPunct.cast("double") / nChars).otherwise(lit(0.0)))
      .withColumn("digit_ratio",
        when(nChars > 0, nDigit.cast("double") / nChars).otherwise(lit(0.0)))
      .withColumn("ws_ratio",
        when(nChars > 0, nWs.cast("double") / nChars).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(nTokens > 0, nStop.cast("double") / nTokens).otherwise(lit(0.0)))
      .withColumn("mean_token_len",
        when(nTokens > 0,
          length(array_join(toks, "")).cast("double") / nTokens)
          .otherwise(lit(0.0)))
      .drop("__toks")
  }

  /** Fixed default weights for [[qualityScore]] — an interpretable linear
    * model over the engineered features: stopword density and healthy
    * whitespace vote FOR natural prose, digit/punctuation stuffing and
    * extreme token lengths vote against, and a capped length ramp rewards
    * docs long enough to carry signal. Deliberately published constants
    * (not learned here): the point is the STAGE — classifier-scored
    * filtering à la CCNet/fastText quality — with a deterministic model
    * any engine reproduces; a trained linear model drops into the same
    * (weights, bias, threshold) slots. */
  val DefaultQualityWeights: Seq[(String, Double)] = Seq(
    "stopword_ratio" -> 3.0,
    "punct_ratio" -> -2.0,
    "digit_ratio" -> -4.0,
    "ws_ratio" -> 1.0,
    "mean_token_len" -> -0.25,
    "len_ramp" -> 2.0)

  /** Classifier-based quality scoring: a linear model over
    * [[qualityFeatures]] (+ `len_ramp` = min(n_tokens, 100)/100) with a
    * keep decision at `threshold` — the model-scored filtering stage a
    * curation pipeline runs after the hard rule filters. The score is a
    * LEFT-FOLDED sum `bias + Σ wᵢ·fᵢ` in declared weight order: IEEE
    * double addition is order-sensitive, so fixing the order makes the
    * score bit-identical across engines (the SQL oracle mirrors the same
    * association). One narrow map over the scan — no shuffle, no UDF.
    */
  def qualityScore(df: DataFrame, textCol: String,
      weights: Seq[(String, Double)] = DefaultQualityWeights,
      bias: Double = 0.0, threshold: Double = 0.5): DataFrame = {
    val feats = qualityFeatures(df, textCol)
      .withColumn("len_ramp",
        least(col("n_tokens"), lit(100L)).cast("double") / lit(100.0))
    val score = weights.foldLeft(lit(bias)) {
      case (acc, (f, w)) => acc + lit(w) * col(f)
    }
    feats.withColumn("q_score", score)
      .withColumn("q_keep", (col("q_score") >= lit(threshold)).cast("long"))
  }

  /** Within-document repetition statistics — the Gopher-style signals a
    * pretraining filter cuts boilerplate and degenerate (looping) text on:
    * duplicate-token and duplicate-3-gram fractions plus top-token
    * dominance. Emitted as raw INTEGER counts (ratios are one division
    * away) so the SQL oracle compares bit-exactly. One pass per document in
    * a compact JVM UDF — per-doc HashMap beats exploding the token stream
    * into two groupBy shuffles, and stays a narrow map at any corpus size.
    */
  /** One-pass per-doc counters shared by [[repetitionStats]] and
    * [[gopherFilter]] — ONE implementation of the counting semantics the
    * DuckDB oracles mirror: (token count, distinct tokens, max token
    * frequency, positional 3-grams, distinct 3-grams, total token chars).
    * Total 3-gram count is positional (n-2); shinglesScala returns the
    * DISTINCT set. */
  private def docCountersScala(s: String)
      : (Long, Long, Long, Long, Long, Long) = {
    val toks = tokensScala(if (s == null) "" else s)
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    var sumLen = 0L
    toks.foreach { t =>
      counts.update(t, counts.getOrElse(t, 0) + 1); sumLen += t.length }
    val n = toks.length
    val maxFreq = if (counts.isEmpty) 0 else counts.valuesIterator.max
    (n.toLong, counts.size.toLong, maxFreq.toLong,
      math.max(n - 2, 0).toLong, shinglesScala(toks, 3).length.toLong,
      sumLen)
  }

  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val f = udf((s: String) => docCountersScala(s))
    fanOut(df).select(col(idCol), f(col(textCol)).as("__r"))
      .select(col(idCol),
        col("__r._1").as("n_tokens"),
        col("__r._2").as("n_distinct_tokens"),
        col("__r._3").as("max_token_freq"),
        col("__r._4").as("n_shingles3"),
        col("__r._5").as("n_distinct_shingles3"))
  }

  /** Gopher-style composite quality filter (Rae et al. 2021, Appendix A —
    * adapted thresholds): the rule set a pretraining pipeline actually
    * DROPS on, combining length, duplicate-token/3-gram fractions,
    * top-token dominance, and mean token length. Every rule is evaluated
    * as an INTEGER cross-multiplication (e.g. dup-fraction <= 3/10 checked
    * as `(n - distinct) * 10 <= n * 3`), so the SQL oracle reproduces each
    * flag bit-exactly — no float thresholds. Emits the raw counters, one
    * 0/1 flag per rule, and the final `keep`. One narrow UDF pass per doc
    * (same engine-choice rationale as [[repetitionStats]]).
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 10, maxTokens: Int = 200): DataFrame = {
    val f = udf((s: String) => docCountersScala(s))
    val c = fanOut(df).select(col(idCol), f(col(textCol)).as("__c"))
      .select(col(idCol),
        col("__c._1").as("n_tokens"), col("__c._2").as("n_distinct"),
        col("__c._3").as("max_freq"), col("__c._4").as("n_3grams"),
        col("__c._5").as("n_distinct_3grams"), col("__c._6").as("sum_len"))
    val n = col("n_tokens")
    c.withColumn("len_ok",
        n.between(minTokens.toLong, maxTokens.toLong).cast("long"))
      .withColumn("dup_tok_ok",
        ((n - col("n_distinct")) * 10 <= n * 3).cast("long"))
      .withColumn("dup_3gram_ok",
        ((col("n_3grams") - col("n_distinct_3grams")) * 10 <=
          col("n_3grams") * 3).cast("long"))
      .withColumn("top_tok_ok", (col("max_freq") * 5 <= n).cast("long"))
      .withColumn("tok_len_ok",
        (n * 2 <= col("sum_len") && col("sum_len") <= n * 12).cast("long"))
      .withColumn("keep",
        (col("len_ok") + col("dup_tok_ok") + col("dup_3gram_ok") +
          col("top_tok_ok") + col("tok_len_ok") === 5L).cast("long"))
  }

  /** Top-`k` terms per document by term frequency, carrying the corpus
    * document frequency and corpus size — the INTEGER components of
    * TF-IDF, emitted raw so the oracle compares exactly (the weighting
    * formula is one float expression away and a caller choice: ln, log10,
    * smoothed, BM25...). Ties break on the token for determinism.
    *
    * Scale shape: two map-side-combinable aggregations (tf keyed on
    * (doc, token), df keyed on token), one token-keyed join, and a per-doc
    * top-k window — no global sort, no driver data.
    */
  def tfIdfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = fanOut(df).select(col(idCol),
      explode(tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(idCol).orderBy(col("tf").desc, col("token").asc)
    tf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .join(idf, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("n_docs"), col("rank"))
  }

  /** Per-document novelty — the memorization-risk / content-uniqueness
    * metric: of a doc's distinct shingles, how many appear in NO other
    * document (corpus df == 1). High-novelty docs carry unique content;
    * near-zero novelty marks boilerplate assembled from shared spans.
    * Emits (id, n_shingles, n_novel, novelty) — one row per doc WITH AT
    * LEAST `shingleSize` tokens. Shorter docs have no shingles and no
    * output row (they'd need an n_shingles=0 row with an undefined
    * novelty ratio); a consumer averaging novelty per source must
    * left-join from the corpus if it wants those docs represented.
    *
    * Scale shape: explode distinct shingles once, df by one
    * map-side-combinable count keyed on shingle, then join the exploded
    * rows back on the same shingle key — the df frame and the exploded
    * frame hash-partition identically, so the join reuses the df
    * aggregation's exchange — and finish with a doc-keyed count. Two
    * keyed shuffles total (vocabulary, then docs); nothing quadratic,
    * no broadcast of corpus-sized state.
    */
  def noveltyCounts(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val ex = fanOut(df).select(col(idCol).as("__id"),
        explode(shingleSetUdf(shingleSize)(col(textCol))).as("__tok"))
    val dfreq = ex.groupBy("__tok").agg(count(lit(1)).as("__df"))
    ex.join(dfreq, Seq("__tok"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
  }

  /** Per-source curation report — the corpus-composition summary a data
    * pipeline publishes per crawl/source: document and token volume,
    * character volume, language spread, and distinct-content count
    * (n_docs − n_unique = exact duplicates within the source). One
    * groupBy over the scan; the two distincts expand map-side and
    * partial-aggregate, so per-source state stays bounded by the
    * source's distinct languages + fingerprints, never its row count.
    */
  def sourceStats(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    langId(fanOut(df), textCol)
      .select(col(sourceCol), col(textCol), col("lang_pred"),
        tokenCount(col(textCol)).cast("long").as("__nt"),
        length(col(textCol)).cast("long").as("__nc"),
        fingerprint(col(textCol)).as("__fp"))
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__nc")).as("n_chars"),
        countDistinct(col("lang_pred")).as("n_langs"),
        countDistinct(col("__fp")).as("n_unique"))

  /** Token-length histogram per group: docs bucketed by
    * `n_tokens div width` — the length-distribution profile used to pick
    * truncation/packing context sizes. One map-side-combinable groupBy;
    * output is |groups| × |buckets| metadata rows at any corpus size. */
  def lengthHistogram(df: DataFrame, textCol: String, groupCol: String,
      width: Int): DataFrame = {
    // div 0 is NULL in Spark SQL — a zero width would yield one
    // plausible-looking null bucket instead of failing
    require(width > 0, s"lengthHistogram needs a positive width: $width")
    fanOut(df)
      .select(col(groupCol),
        tokenCount(col(textCol)).cast("long").as("__nt"))
      .withColumn("bucket", expr(s"__nt div $width"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Percentile-band length filter: keep documents whose token count lies
    * within the exact [`pLo`, `pHi`] quantiles of their group's length
    * distribution — the RELATIVE outlier cut (too short/long for their
    * domain) a quality pipeline applies after absolute thresholds, so one
    * rule serves domains with very different natural lengths. Exact
    * interpolating `percentile` (bit-identical to DuckDB `quantile_cont`
    * on integer inputs with dyadic p — see `text_length_quantiles`); the
    * per-group bound table is tiny and broadcasts back onto the corpus.
    * At extreme group cardinality swap in `approx_percentile` — the plan
    * shape (agg + broadcast join + filter) is unchanged.
    */
  def filterByLengthQuantiles(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, pLo: Double, pHi: Double): DataFrame = {
    val toks = fanOut(df).select(col(idCol), col(groupCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val bounds = toks.groupBy(groupCol).agg(
      expr(s"percentile(n_tokens, $pLo)").as("p_lo"),
      expr(s"percentile(n_tokens, $pHi)").as("p_hi"))
    toks.join(broadcast(bounds), Seq(groupCol))
      .filter(col("n_tokens") >= col("p_lo") && col("n_tokens") <= col("p_hi"))
  }

  /** Email/phone patterns shared by [[scrubPii]] and the count expressions.
    * Deliberately simple constructs (classes, bounded repeats) that behave
    * identically under Java regex (Spark) and RE2 (DuckDB), keeping the
    * scrub oracle-exact. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern: String = "\\+[0-9][0-9 -]{6,}[0-9]"

  /** PII scrub: mask emails and international-format phone numbers — the
    * redaction pass a training-data pipeline runs before anything else
    * sees the text. Pure `regexp_replace` chain: codegen'd, no UDF. */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Match counts on the UNSCRUBBED text (audit trail for the scrub). */
  def piiEmailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long")
  def piiPhoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhonePattern), lit(0))).cast("long")

  val StopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as", "was", "at", "by")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "oder", "von",
    "zu", "im", "ist", "es", "dass", "mit", "als", "war", "bei", "ein", "eine")
  val StopwordsEs: Seq[String] = Seq("el", "la", "los", "las", "y", "o", "de",
    "en", "es", "que", "por", "con", "como", "un", "una", "del", "se")
  val StopwordsFr: Seq[String] = Seq("le", "la", "les", "et", "ou", "de", "en",
    "est", "que", "pour", "avec", "comme", "un", "une", "du", "se", "au")

  /** Language-ID n-gram/stopword heuristic: per-language stopword hit counts
    * over the token stream; argmax with deterministic tie-break (language
    * code order). `und` when nothing matches. A real pipeline swaps in
    * fastText — the *shape* (scores struct + argmax) is the operator.
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    def score(words: Seq[String]): Column =
      wordHits(col(textCol), words).cast("long")
    // greatest-of-structs argmax: (score, langRank) — ranks inverted so ties
    // pick the alphabetically-first language
    val scored = df
      .withColumn("score_de", score(StopwordsDe))
      .withColumn("score_en", score(StopwordsEn))
      .withColumn("score_es", score(StopwordsEs))
      .withColumn("score_fr", score(StopwordsFr))
    val langs = Seq("de", "en", "es", "fr")
    val best = greatest(langs.zipWithIndex.map { case (l, i) =>
      struct(col(s"score_$l").as("s"), lit(langs.length - i).as("r"),
        lit(l).as("lang"))
    }: _*)
    scored.withColumn("lang_pred",
      when(best.getField("s") > 0, best.getField("lang")).otherwise(lit("und")))
  }

  /** Per-group percentile length trim — the ADAPTIVE quality filter:
    * instead of one fixed length band for the whole corpus, each group
    * (language, source) keeps only its own [loPct, hiPct] percentile
    * band, so a short-form source and a long-form source each lose their
    * own outliers. Each length value occupies the rank-mass interval
    * (cnt_lt, cnt_le] of its group; a row survives iff that interval
    * OVERLAPS the kept band (n·lo/100, n·hi/100] — so a length entirely
    * inside the bottom loPct or top (100−hiPct) tail drops, while a
    * constant-length group (whose single value IS the central mass)
    * keeps everything. Decided by integer cross-multiplication
    * (cnt·100 vs n·pct), never a float percentile.
    *
    * Scale shape: the quantile never runs as a per-row window. The
    * per-(group, length) HISTOGRAM aggregates first (map-side partials),
    * the cumulative window runs over that metadata-sized frame, and the
    * surviving (group, length) pairs broadcast back as a semi join — so
    * the big table is touched by one aggregate and one broadcast filter,
    * no matter how skewed the groups are.
    */
  def lengthTrimPct(df: DataFrame, lenCol: String, groupCol: String,
      loPct: Int = 5, hiPct: Int = 95): DataFrame =
    df.join(broadcast(lengthBand(df, lenCol, groupCol, loPct, hiPct)),
      Seq(groupCol, lenCol), "left_semi")

  /** The kept (group, length) pairs of [[lengthTrimPct]]'s band —
    * exposed separately so a STREAM can trim against a static corpus's
    * band (stream-static semi join, stateless) and so a band mined once
    * can filter later dumps without re-aggregating. Metadata-sized: one
    * row per surviving distinct (group, length). */
  def lengthBand(df: DataFrame, lenCol: String, groupCol: String,
      loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 <= loPct && loPct < hiPct && hiPct <= 100,
      s"need 0 <= loPct < hiPct <= 100, got [$loPct, $hiPct]")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(groupCol, lenCol).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(groupCol).orderBy(lenCol)
    val cum = counts
      .withColumn("__cum_le", sum("__c").over(w))
      .withColumn("__cum_lt", col("__cum_le") - col("__c"))
    val tot = counts.groupBy(groupCol).agg(sum("__c").as("__n"))
    cum.join(tot, groupCol)
      .filter(col("__cum_le") * 100 > col("__n") * loPct &&
        col("__cum_lt") * 100 < col("__n") * hiPct)
      .select(groupCol, lenCol)
  }

  /** Single-pass table profile — the data-validation primitive: per-column
    * row/null/distinct counts and native-ordered min/max, computed in ONE
    * aggregate over ONE scan (the only honest shape at 100 TB — a
    * per-column loop would rescan the table N times). Distinct counts are
    * exact (Spark plans the multi-distinct via Expand — one pass, ×N rows
    * into the shuffle); for quick approximate profiles at extreme scale
    * the HLL sketch tier ([[approxDistinct]]) is the alternative. Min/max
    * compare in the column's native type and render as strings so one
    * tidy (col_name, n, n_nulls, n_distinct, min_s, max_s) row per column
    * comes back regardless of schema.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}__nulls"),
        countDistinct(col(c)).as(s"__${c}__nd"),
        min(col(c)).cast("string").as(s"__${c}__min"),
        max(col(c)).cast("string").as(s"__${c}__max"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stacked = cols.map { c =>
      s"'$c', __n, __${c}__nulls, __${c}__nd, __${c}__min, __${c}__max"
    }.mkString(", ")
    one.select(expr(
      s"stack(${cols.size}, $stacked) AS " +
        "(col_name, n, n_nulls, n_distinct, min_s, max_s)"))
  }
}
