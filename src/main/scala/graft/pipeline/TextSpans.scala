package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}

/** Duplicated-span tier of [[Text]]: span coverage and excision over
  * k-gram indexes (in-memory and at-rest), boilerplate removal, chunk
  * duplication stats, shingle fingerprints. Split from Text.scala round 12;
  * `Text.<member>` call sites are unchanged. */
private[pipeline] trait TextSpans { self: Text.type =>

  /** Exact duplicated-SPAN coverage per document — the substring-dedup
    * signal of "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2022) as a per-doc measure: how many of a document's
    * tokens sit inside at least one k-token window whose exact text
    * occurs ≥ `minCount` times across the corpus (within-doc repeats
    * count — a self-repeating doc is as memorization-prone as a cross-doc
    * copy). Overlapping duplicated windows merge into MAXIMAL spans
    * before measuring, so a token under many windows counts once —
    * `dup_tokens` is the size of the union of covered positions, the
    * number a span-excision pass would actually remove.
    *
    * Scale shape: one tokenize pass and two keyed shuffles. The windows
    * shuffle on the gram, where a per-gram `count` window marks the
    * duplicated ones (no aggregate joined back: a gram's occurrences
    * share one window partition, so a boilerplate gram in millions of
    * docs is one large — spilling — partition); then each doc's
    * duplicated positions shuffle on the doc id and fold into one list,
    * whose span union a narrow UDF sums — bounded by the doc's token
    * count, never a global sort. Every input row keeps exactly one
    * output row, from its anchor row (a doc shorter than `k` has only
    * that; a null id scores 0). The gram string is the shuffle key so a
    * second engine reproduces the result bit for bit; a production run
    * would xxhash64 it (same equality, 8-byte keys).
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Long = 2L): DataFrame = {
    require(minCount >= 2L, s"minCount < 2 would cover every token")
    import org.apache.spark.sql.expressions.Window
    val windows = spanWindows(df, idCol, textCol, k)
    // an anchor's null gram takes a key no gram can have ('#' is a
    // token separator), so anchors spread over the tasks instead of
    // sharing the null partition; they are never duplicated
    val key = coalesce(col("__gram"),
      concat(lit("#"), col(idCol).cast("string")))
    spanCoverage(windows.withColumn("__dup", col("__gram").isNotNull &&
      count(lit(1)).over(Window.partitionBy(key)) >= minCount), idCol, k)
  }

  private def spanTokens(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), coalesce(tokens(col(textCol)), array())
      .as("__toks"))

  /** Every k-token window of `toks` joined by one space, in order, with
    * repeats — the positional counterpart of [[shinglesScala]]. A doc
    * shorter than k has none. One narrow UDF: the Catalyst form is a
    * `transform` lambda, which is CodegenFallback and splits its stage. */
  private def kGramsUdf(k: Int) = {
    require(k >= 1, s"span length must be positive: $k")
    udf((toks: Seq[String]) =>
      if (toks.length < k) Seq.empty[String]
      else toks.sliding(k).map(_.mkString(" ")).toSeq)
  }

  /** (id, __pos, __gram) — every k-token window of every doc, 0-based
    * start positions. A doc shorter than k has none. */
  private def spanGrams(base: DataFrame, idCol: String, k: Int): DataFrame =
    base.select(col(idCol), posexplode(kGramsUdf(k)(col("__toks"))))
      .select(col(idCol), col("pos").as("__pos"), col("col").as("__gram"))

  /** (id, n_tokens, __pos, __gram): one anchor row per input row, with
    * null `__pos` and `__gram` — the row [[spanCoverage]] reports it on,
    * and which no gram join can match or multiply — plus one row per
    * k-token window at its 0-based start. */
  private def spanWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    spanTokens(df, idCol, textCol)
      .select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"),
        // never empty; the outer form stops Catalyst inferring a
        // non-empty filter that would run the UDF twice
        posexplode_outer(concat(array(lit(null).cast("string")),
          kGramsUdf(k)(col("__toks")))))
      .select(col(idCol), col("n_tokens"),
        when(col("pos") > 0, col("pos") - 1).as("__pos"),
        col("col").as("__gram"))

  /** (id, __start, __end): each doc's duplicated windows merged into
    * MAXIMAL spans by [[mergeSpans]], one row per (doc, island) — one
    * per-doc fold of the doc's OWN duplicated positions. */
  private def spanIslands(grams: DataFrame, dupGrams: DataFrame,
      idCol: String, k: Int): DataFrame =
    grams.join(dupGrams.select("__gram"), "__gram")
      .groupBy(idCol).agg(collect_list(col("__pos")).as("__ps"))
      .select(col(idCol),
        explode(spanIslandsUdf(k)(col("__ps"))).as("__isl"))
      .select(col(idCol), col("__isl._1").as("__start"),
        col("__isl._2").as("__end"))

  /** THE span merge: the windows `[p, p + k)` over start positions `ps`
    * as maximal `[start, end)` islands, in order — sorted, a window
    * opens a new island where it starts at or past the current island's
    * end. [[dupSpanCoverage]] sums the islands, excision removes them. */
  private def mergeSpans(ps: Seq[Int], k: Int): Seq[(Int, Int)] = {
    val s = ps.toArray
    java.util.Arrays.sort(s)
    val out = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < s.length) {
      val start = s(i)
      var end = start + k
      i += 1
      while (i < s.length && s(i) < end) { end = s(i) + k; i += 1 }
      out += ((start, end))
    }
    out.result()
  }

  private def spanIslandsUdf(k: Int) =
    udf((ps: Seq[Int]) => mergeSpans(ps, k))

  /** Size of the union of the windows `[p, p + k)` — the summed
    * [[mergeSpans]] islands. */
  private def spanUnionUdf(k: Int) = udf((ps: Seq[Int]) =>
    mergeSpans(ps, k).map { case (s, e) => (e - s).toLong }.sum)

  /** (id, n_tokens, dup_tokens), one row per input row, from
    * [[spanWindows]] rows marked `__dup`: one aggregation per id folds
    * the duplicated positions and each row's token count, and the union
    * of the windows `[p, p + k)` is summed by [[spanUnionUdf]]. Rows
    * sharing an id merge their windows into one union, as one doc's
    * would; a null id scores 0. */
  private def spanCoverage(marked: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val anchor = col("__pos").isNull
    marked
      // only duplicated windows and each row's anchor cross the shuffle
      .filter(col("__dup") || anchor)
      .groupBy(idCol)
      .agg(collect_list(when(col("__dup"), col("__pos"))).as("__ps"),
        collect_list(when(anchor, col("n_tokens"))).as("__ns"))
      .select(col(idCol), explode(col("__ns")).as("n_tokens"),
        when(col(idCol).isNull, lit(0L))
          .otherwise(spanUnionUdf(k)(col("__ps"))).as("dup_tokens"))
  }

  /** EXCISE the duplicated spans — the transform half of Lee et al.
    * 2022 (their dedup deletes the duplicated substring, keeping the
    * document): every token under a ≥ `minCount`-occurrence k-window
    * leaves, the survivors rejoin in order. Output text is the CANONICAL
    * token stream (lowercased, punctuation collapsed to single spaces) —
    * the same normal form the duplication is defined on, so excision
    * bounds are exact rather than a byte-offset approximation.
    *
    * Scale shape: the island frame is per-doc-bounded as in
    * [[dupSpanCoverage]]; covered positions explode at most one row per
    * REMOVED token (never corpus × windows), and the rebuild is one
    * per-doc sorted fold (`sort_array(collect_list)` of (pos, token)
    * structs — bounded by the doc's own length). */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Long = 2L): DataFrame = {
    require(minCount >= 2L, s"minCount < 2 would excise every token")
    val base = spanTokens(df, idCol, textCol)
    val grams = spanGrams(base, idCol, k)
    val dupGrams = grams.groupBy("__gram").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
    exciseWith(base, grams, dupGrams, idCol, k)
  }

  /** [[exciseDupSpans]] against a stored (or otherwise pre-mined)
    * dup-gram frame — the transform half of [[dupSpanCoverageStored]]:
    * same windows, same island merge, same rebuild, but the duplicated
    * set comes from the index, so a new dump (or a streaming micro-batch
    * — [[graft.streaming.StreamIngest.streamingExciseSpans]]) excises in
    * one scoring join with no corpus-wide re-count. */
  def exciseDupSpansStored(df: DataFrame, idCol: String, textCol: String,
      index: DataFrame, k: Int = 8): DataFrame = {
    val base = spanTokens(df, idCol, textCol)
    exciseWith(base, spanGrams(base, idCol, k),
      index.select(col("gram").as("__gram")), idCol, k)
  }

  /** Shared excision core: island merge, coverage stats, covered-position
    * removal, and the per-doc sorted rebuild — identical whether the
    * duplicated set was mined inline or read from an index. */
  private def exciseWith(base: DataFrame, grams: DataFrame,
      dupGrams: DataFrame, idCol: String, k: Int): DataFrame = {
    // ONE island pass feeds both the coverage stats and the excision
    val islands = spanIslands(grams, dupGrams, idCol, k)
    val covered = islands.groupBy(idCol)
      .agg(sum(col("__end") - col("__start")).as("dup_tokens"))
    val coveredPos = islands.select(col(idCol),
      explode(expr("sequence(__start, __end - 1)")).as("__pos"))
    val toks = base.select(col(idCol), posexplode(col("__toks")))
      .select(col(idCol), col("pos").as("__pos"), col("col").as("__tok"))
    val rebuilt = toks
      .join(coveredPos, Seq(idCol, "__pos"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(expr(
        "transform(sort_array(collect_list(struct(__pos, __tok))), " +
          "s -> s.__tok)"), " ").as("text_clean"))
    // docs fully excised (or empty to begin with) keep a row with ''
    base.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("text_clean", coalesce(col("text_clean"), lit("")))
  }

  /** [[dupSpanCoverage]]'s duplicated-gram set AT REST: mine the corpus
    * once, store `(gram, cnt)` with the span length `k` riding every row
    * (the bucket_ns self-description discipline — [[openDupGramIndex]]
    * fails loudly on a k mismatch instead of silently scoring with the
    * wrong window width). Atomic two-rename publish. The index is the
    * DUPLICATED subset only — tiny relative to the corpus — so later
    * dumps, streams, and probes score against it without re-mining. */
  def writeDupGramIndex(df: DataFrame, path: String, idCol: String,
      textCol: String, k: Int = 8, minCount: Long = 2L): Unit = {
    require(minCount >= 2L, s"minCount < 2 would cover every token")
    val grams = spanGrams(spanTokens(df, idCol, textCol), idCol, k)
    graft.storage.AtomicDir.publish(df.sparkSession, path,
      "dup-gram index") { tmp =>
      grams.groupBy("__gram").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount)
        .select(col("__gram").as("gram"), col("cnt"),
          lit(k).as("k"))
        .write.parquet(tmp)
    }
  }

  /** Read a stored dup-gram index, failing loudly when its span length
    * differs from the probe's `k`. */
  def openDupGramIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int): DataFrame = {
    val idx = spark.read.parquet(path)
    idx.withColumn("gram", when(assert_true(col("k") === k,
      lit(s"dup-gram index at $path was mined at a different span " +
        s"length than the probe's k=$k")).isNull, col("gram")))
  }

  /** INCREMENTAL dup-gram maintenance — at 100 TB a new dump cannot
    * trigger a corpus-wide re-mine, so the maintenance index accumulates
    * per-batch gram COUNTS (counts merge by addition — the one
    * associative fold this tier needs) under replay-stable batch keys,
    * exactly the rollup-store append discipline: an at-least-once
    * redelivery lands a DUPLICATE (gram, batch_key) row that every
    * reader and [[compactDupGramIndex]] drop before summing. Unlike the
    * serving index ([[writeDupGramIndex]]), the maintenance index keeps
    * cnt=1 rows — they are load-bearing: a gram seen once in two
    * different dumps is duplicated overall, and dropping singletons
    * would make that cross-dump duplication invisible forever. The span
    * length is validated against the index FIRST (metadata-sized scan),
    * the requireGrain posture. */
  def appendDupGramIndex(df: DataFrame, path: String, batchKey: String,
      idCol: String, textCol: String, k: Int = 8,
      validateK: Boolean = true): Unit = {
    val spark = df.sparkSession
    if (validateK) requireIndexK(spark, path, k)
    spanGrams(spanTokens(df, idCol, textCol), idCol, k)
      .groupBy("__gram").agg(count(lit(1)).as("cnt"))
      .select(col("__gram").as("gram"), col("cnt"), lit(k).as("k"),
        lit(batchKey).as("batch_key"))
      .write.mode("append").parquet(path)
  }

  /** Fail loudly when an existing maintenance index's span length
    * differs from `k` — the requireGrain posture. A long-lived appender
    * ([[graft.streaming.StreamIngest.dupGramIngest]]) runs this ONCE at
    * stream start instead of per micro-batch (the probe scans every
    * accumulated partial file); [[openDupGramIndex]]'s in-plan assert
    * still backstops a writer that bypasses it. */
  private[graft] def requireIndexK(
      spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(live))
      spark.read.parquet(path).select("k").distinct().collect()
        .map(_.getInt(0)).foreach(k0 => require(k0 == k,
          s"dup-gram index at $path holds $k0-token grams; appending " +
            s"$k-token partials would mix span lengths"))
  }

  /** The duplicated-gram frame a maintenance index serves: replay
    * duplicates dropped, per-batch partials summed per gram, `minCount`
    * applied to the TOTAL — so base + increments equal a one-shot mine
    * of the union corpus exactly. Feed it to [[dupSpanCoverageStored]],
    * or publish it as a probe-optimized serving index via
    * [[writeServingIndex]]. */
  def dupGramsFrom(spark: org.apache.spark.sql.SparkSession, path: String,
      k: Int, minCount: Long = 2L): DataFrame = {
    require(minCount >= 2L, s"minCount < 2 would cover every token")
    openDupGramIndex(spark, path, k)
      .dropDuplicates("gram", "batch_key")
      .groupBy("gram", "k").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") >= minCount)
      .select("gram", "cnt", "k")
  }

  /** Re-publish the tiny probe-optimized serving index from the
    * maintenance index — one pass over the INDEX (gram-count rows),
    * never the corpus. Atomic two-rename publish. */
  def writeServingIndex(spark: org.apache.spark.sql.SparkSession,
      maintenancePath: String, servingPath: String, k: Int,
      minCount: Long = 2L): Unit =
    graft.storage.AtomicDir.publish(spark, servingPath,
      "dup-gram serving index") { tmp =>
      dupGramsFrom(spark, maintenancePath, k, minCount).write.parquet(tmp)
    }

  /** Fold a maintenance index's accumulated per-batch partials to one
    * row per gram — the IO compaction that caps file-listing cost as
    * dumps pile up, doubling as the durable replay repair (the
    * rollup-store compaction discipline; run with appends quiesced). */
  def compactDupGramIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    graft.storage.AtomicDir.recoverCompact(fs, live)
    graft.storage.AtomicDir.compactPublish(spark, path,
      "compact dup-gram index") { tmp =>
      val key = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"
      spark.read.parquet(path)
        .dropDuplicates("gram", "batch_key")
        .groupBy("gram", "k").agg(sum("cnt").as("cnt"))
        .select(col("gram"), col("cnt"), col("k"),
          lit(key).as("batch_key"))
        .write.parquet(tmp)
    }
  }

  /** Score documents against a stored (or otherwise pre-mined) dup-gram
    * frame — the probe half of [[dupSpanCoverage]]: same windows, same
    * maximal-span merge, but the duplicated set comes from the index, so
    * a new dump scores in one pass with no corpus-wide re-count. */
  def dupSpanCoverageStored(df: DataFrame, idCol: String, textCol: String,
      index: DataFrame, k: Int = 8): DataFrame = {
    // a left join marks the indexed windows (a gram listed twice only
    // repeats a position, which the union ignores)
    val dup = index.select(col("gram").as("__gram"), lit(true).as("__hit"))
    spanCoverage(spanWindows(df, idCol, textCol, k)
        .join(dup, Seq("__gram"), "left")
        .withColumn("__dup", coalesce(col("__hit"), lit(false))),
      idCol, k)
  }

  /** Chunk-granularity duplication stats — the paragraph-dedup signal
    * (CCNet/RefinedWeb shape at fixed token spans): non-overlapping
    * [[chunk]]s fingerprint with md5, the corpus-wide occurrence
    * frequency joins back, and each doc reports how many of its chunks
    * are duplicated ANYWHERE (including within itself — repeated
    * boilerplate is the point). Two keyed shuffles on the fingerprint
    * and the doc id; chunking itself is a narrow map + explode.
    */
  def dupChunkStats(df: DataFrame, idCol: String, textCol: String,
      size: Int = 32): DataFrame = {
    val chunks = chunk(df, idCol, textCol, size, overlap = 0)
      .select(col(idCol), md5(col("chunk_text")).as("__fp"))
    val freq = chunks.groupBy("__fp").agg(count(lit(1)).as("__df"))
    chunks.join(freq, "__fp")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
  }

  /** Boilerplate removal — the "most common spans" cleaning step
    * (CCNet/RefinedWeb shape): fixed non-overlapping [[chunk]] spans
    * fingerprint with md5, spans whose corpus-wide occurrence count
    * reaches `minDf` (headers, footers, nav text, license blurbs —
    * anything repeated across the corpus) are DROPPED, and each doc's
    * text reassembles from its surviving spans in order. Unlike
    * [[dupChunkStats]] (which only reports the signal) this returns the
    * cleaned corpus: (id, text_clean, n_chunks, n_dropped); docs whose
    * every span is boilerplate come back with empty text (n_chunks =
    * n_dropped), and token-less docs pass through untouched.
    *
    * Scale shape: two keyed shuffles (fingerprint df, then doc
    * reassembly); the per-doc collect is bounded by the doc's own chunk
    * count, and the df table is the distinct-span set — never all-pairs.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      size: Int = 16, minDf: Long = 3): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would drop every span, got $minDf")
    removeBoilerplateWith(df, idCol, textCol, size,
      boilerplateSpans(df, idCol, textCol, size, minDf))
  }

  /** The mined boilerplate span set of a corpus: one (fp, df) row per
    * span whose corpus-wide occurrence count reaches `minDf`. Small by
    * construction (only the repeated spans), which is what makes it a
    * broadcastable at-rest artifact — see [[writeBoilerplateIndex]]. */
  def boilerplateSpans(df: DataFrame, idCol: String, textCol: String,
      size: Int = 16, minDf: Long = 3): DataFrame =
    chunk(df, idCol, textCol, size, overlap = 0)
      .select(md5(col("chunk_text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** Clean `df` against an already-mined span set (same semantics as
    * [[removeBoilerplate]]; the span frame broadcasts, so the corpus pays
    * one chunk pass + one broadcast join + the per-doc reassembly). */
  def removeBoilerplateWith(df: DataFrame, idCol: String, textCol: String,
      size: Int, spans: DataFrame): DataFrame = {
    val chunks = chunk(df, idCol, textCol, size, overlap = 0)
      .withColumn("__fp", md5(col("chunk_text")))
    val keep = col("df").isNull // no span row = not boilerplate
    val agg = chunks.join(broadcast(spans.select(col("fp"), col("df"))),
        col("__fp") === col("fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(keep, 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(keep,
            struct(col("chunk_idx"), col("chunk_text"))))),
          x => x.getField("chunk_text")), " ").as("text_clean"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Persist the mined span set ([[boilerplateSpans]]) with its mining
    * parameters — the at-rest artifact that lets serving restarts, later
    * corpus dumps, and the streaming cleaner skip the corpus mining pass
    * (the [[graft.pipeline.Retrieval.writeBm25Index]] convention; same
    * [[graft.storage.AtomicDir]] crash-safe publish). */
  def writeBoilerplateIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, size: Int = 16, minDf: Long = 3): Unit = {
    require(minDf >= 2, s"minDf < 2 would drop every span, got $minDf")
    val spark = df.sparkSession
    import spark.implicits._
    graft.storage.AtomicDir.publish(spark, path,
      "writeBoilerplateIndex") { tmp =>
      Seq((size, minDf)).toDF("size", "min_df")
        .write.mode("overwrite").parquet(s"$tmp/meta.parquet")
      boilerplateSpans(df, idCol, textCol, size, minDf)
        .coalesce(1) // small by construction — one file serves fastest
        .write.mode("overwrite").parquet(s"$tmp/spans.parquet")
    }
  }

  /** Clean a corpus against a stored [[writeBoilerplateIndex]] — the
    * chunk size comes from the INDEX meta so a probe can never chunk
    * differently than the miner did. */
  def removeBoilerplateStored(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    graft.storage.AtomicDir.recover(
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path), "writeBoilerplateIndex")
    val meta = spark.read.parquet(s"$path/meta.parquet").head()
    removeBoilerplateWith(df, idCol, textCol, meta.getInt(0),
      spark.read.parquet(s"$path/spans.parquet"))
  }

  /** Rolling-hash document fingerprint: min/max/xor folds over 64-bit hashes
    * of word shingles (winnowing-style content signature; robust to word
    * order at the edges).
    *
    * `hash = "xx"` (default) uses Spark-native seed-stable xxhash64 — the
    * fast path. `hash = "md5"` derives a 60-bit value from the first 15 hex
    * digits of md5, which DuckDB reproduces exactly
    * (`('0x' || substr(md5(s),1,15))::BIGINT`) — the oracle-checkable path.
    */
  def shingleFingerprint(df: DataFrame, textCol: String, n: Int = 3,
      hash: String = "xx"): DataFrame = {
    val hashFn: Column => Column = hash match {
      case "xx"  => s => xxhash64(s)
      case "md5" => s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")
      case other => throw new IllegalArgumentException(s"unknown hash '$other'")
    }
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__hashes",
        transform(shinglesOfTokens(col("__toks"), n), hashFn))
      .withColumn("fp_min", array_min(col("__hashes")))
      .withColumn("fp_max", array_max(col("__hashes")))
      .withColumn("fp_xor",
        aggregate(col("__hashes"), lit(0L), (acc, h) => acc.bitwiseXOR(h)))
      .drop("__toks", "__hashes")
  }

  // --- Adjacent-bigram substrate (collocations, LM scoring) ---------------
}
