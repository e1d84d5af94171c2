package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}

/** Sketch / co-occurrence tier of [[Text]]: CMS, HLL and quantile
  * sketches with their at-rest stores, heavy hitters, co-occurrence and
  * collocation substrates, LM reference scoring. Split from Text.scala
  * round 12; `Text.<member>` call sites are unchanged. */
private[pipeline] trait TextSketches { self: Text.type =>

  /** Adjacent character-pair frequencies over the tokenized corpus — the
    * count table BPE tokenizer training starts from (the most frequent
    * pair is the first merge rule). Pairs are within-word only, one
    * count per occurrence, exactly like the BPE statistics pass. One
    * map-side-combinable count keyed on the pair (the key space is
    * alphabet², tiny) + a distributed TakeOrdered on the total
    * (count DESC, pair) order — no full sort materializes at any corpus
    * size. Per-word pair expansion runs in a compact JVM UDF (the HOF
    * equivalent is CodegenFallback, measured ~20× slower on per-doc text
    * work).
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int = 50)
      : DataFrame = {
    // one compiled text→pairs pass (the shingleSetUdf pattern) — routing
    // through the tokens() HOF would put the interpreted lambda this
    // comment's own rationale warns about back on the hot path
    val pairsUdf = udf((text: String) =>
      tokensScala(text).flatMap(w =>
        (0 until w.length - 1).map(i => w.substring(i, i + 2))).toSeq)
    fanOut(df)
      .select(explode(pairsUdf(col(textCol))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** Ordered-pair expansion of a sorted token array — shared by
    * [[cooccurrence]] and its streaming twin. */
  def tokenPairsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((toks: Seq[String]) =>
      for { i <- toks.indices; j <- i + 1 until toks.size }
        yield (toks(i), toks(j)))

  /** Top-`topK` tokens by DOCUMENT frequency, (df desc, tok asc) order —
    * [[cooccurrence]]'s vocabulary, shared with its streaming twin so
    * the two can never drift at a rank-`topK` tie. */
  def docFrequencyVocab(df: DataFrame, textCol: String,
      topK: Int): DataFrame =
    fanOut(df)
      .select(explode(tokenSet(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(topK)
      .select("tok")

  /** Doc-level token co-occurrence counts over a capped vocabulary — the
    * raw-count substrate for PMI / association mining (consumers divide by
    * doc totals; counts stay integer here so the result is engine-exact).
    * The vocabulary cap is the scale control: only the global top-`topK`
    * tokens by document frequency participate, so the per-document pair
    * fan-out is bounded by `topK²/2` regardless of corpus size, and the
    * per-doc token buffer by `topK` entries. Two shuffles after the
    * (small, broadcast) vocabulary is built: one groupBy doc to assemble
    * the capped token list, one on the pair key to count. The all-pairs
    * self-join alternative would shuffle the token-doc frame twice and
    * re-filter; this posting-list form is strictly bounded because the
    * list is capped by construction (unlike a raw df-capped posting list,
    * which grows with the corpus).
    */
  def cooccurrence(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 100): DataFrame = {
    val tokDoc = fanOut(df)
      .select(col(idCol), explode(tokenSet(col(textCol))).as("tok"))
    val vocab = docFrequencyVocab(df, textCol, topK)
    tokDoc.join(broadcast(vocab), "tok")
      .groupBy(idCol).agg(sort_array(collect_list("tok")).as("__toks"))
      .select(explode(tokenPairsUdf(col("__toks"))).as("__p"))
      .select(col("__p._1").as("tok_a"), col("__p._2").as("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_docs"))
  }

  /** [[MisraGriesAgg]] over a text column's tokens → (tok, est) frame. */
  def heavyHitters(df: DataFrame, textCol: String, m: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    fanOut(df)
      .select(explode(tokens(col(textCol))).as("tok")).as[String]
      .select(new MisraGriesAgg(m).toColumn)
      .toDF("hh")
      .select(explode(col("hh")).as("p"))
      .select(col("p._1").as("tok"), col("p._2").as("est"))
  }

  /** One-row (sk: array<bigint>) frame: the corpus token stream folded
    * into a [[CountMinAgg]] sketch. */
  def countMinSketch(df: DataFrame, textCol: String,
      d: Int = 4, w: Int = 2048): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    fanOut(df)
      .select(explode(tokens(col(textCol))).as("tok")).as[String]
      .select(new CountMinAgg(d, w).toColumn)
      .toDF("sk")
  }

  /** (tok, cnt, est) for every distinct token: exact counts joined with
    * the broadcast one-row sketch, estimates via [[Cms.estimate]]. The
    * verification surface for the sketch's two bounds — est ≥ cnt always,
    * est ≤ cnt + (e/w)·N for all but ~e^−d of tokens. */
  def cmsVsExact(df: DataFrame, textCol: String,
      d: Int = 4, w: Int = 2048): DataFrame = {
    val est = udf((sk: Seq[Long], tok: String) =>
      Cms.estimate(sk.toArray, tok, d, w))
    val exact = fanOut(df)
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    exact.crossJoin(broadcast(countMinSketch(df, textCol, d, w)))
      .select(col("tok"), col("cnt"), est(col("sk"), col("tok")).as("est"))
  }

  /** Top-`topK` tokens by total occurrence, (count desc, tok asc) order —
    * the vocabulary for [[windowCooccurrence]] and its streaming twin. */
  def occurrenceVocab(df: DataFrame, textCol: String,
      topK: Int): Set[String] =
    fanOut(df)
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(topK)
      .collect().map(_.getString(0)).toSet

  /** Text→pairs UDF of [[windowCooccurrence]] — the vocab arrives as a
    * BROADCAST variable (shipped once per executor, not serialized into
    * every task closure — immaterial at topK=100, the difference between
    * workable and not at real vocabulary sizes), and tokenization happens
    * INSIDE the compiled UDF ([[tokensScala]]): routing through the
    * `tokens()` HOF would put the interpreted CodegenFallback lambda back
    * on the per-doc hot path (the ~20× measured penalty the bpePairCounts
    * comment records). */
  def windowPairsUdf(vocab: org.apache.spark.broadcast.Broadcast[Set[String]],
      window: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(window >= 1, "window must be >= 1")
    udf((text: String) => {
      val v = vocab.value
      val toks = tokensScala(text)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var i = 0
      while (i < toks.length) {
        val a = toks(i)
        if (v(a)) {
          var o = 1
          while (o <= window && i + o < toks.length) {
            val b = toks(i + o)
            if (v(b))
              out += (if (a <= b) (a, b) else (b, a))
            o += 1
          }
        }
        i += 1
      }
      out.toSeq
    })
  }

  /** Positional (±`window`) token co-occurrence — the word2vec/skip-gram
    * statistic, distinct from [[cooccurrence]]'s doc-level co-membership:
    * a pair counts once per time the two tokens appear within `window`
    * positions in the raw sequence (gaps are NOT collapsed — tokens
    * outside the vocabulary still occupy positions). The top-`topK`-by-
    * occurrence vocabulary bounds the pair key space at K²/2; it is
    * topK-sized metadata, collected once and BROADCAST to the pairing
    * UDF. Pair fan-out ≤ `window` per token; one count shuffle.
    */
  def windowCooccurrence(df: DataFrame, textCol: String, window: Int = 2,
      topK: Int = 100): DataFrame = {
    val pairsUdf = windowPairsUdf(
      df.sparkSession.sparkContext.broadcast(
        occurrenceVocab(df, textCol, topK)), window)
    fanOut(df)
      .select(explode(pairsUdf(col(textCol))).as("__p"))
      .select(col("__p._1").as("tok_a"), col("__p._2").as("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n"))
  }

  /** Per-group HLL distinct-token sketches (Apache DataSketches via Spark's
    * `hll_sketch_agg`) with their estimates — the scale path for "how many
    * distinct tokens/users/urls per domain" questions where exact
    * `count_distinct` would shuffle the full key set: sketch state is a few
    * KB per group regardless of cardinality, partial-aggregates map-side,
    * and sketches MERGE, so per-partition/per-day/per-domain sketches roll
    * up without touching raw data again ([[mergeSketchEstimate]]).
    * `lgK`=12 ⇒ ~1.6% standard error.
    */
  def distinctTokenSketch(df: DataFrame, textCol: String, groupCol: String,
      lgK: Int = 12): DataFrame =
    fanOut(df)
      .select(col(groupCol), explode(tokens(col(textCol))).as("__token"))
      .groupBy(groupCol)
      .agg(expr(s"hll_sketch_agg(__token, $lgK)").as("sketch"))
      .withColumn("estimate", expr("hll_sketch_estimate(sketch)"))

  /** Mergeable approximate quantiles per group: `percentile_approx` is a
    * partial-aggregating sketch (KB of state per group, merges across
    * partitions/days), the 100 TB quantile path beside the exact
    * `percentile` the length filter uses — exact quantiles shuffle the
    * full value column, the sketch never does. Emits the exact value
    * next to the estimate so callers (and the driver gate) can bound the
    * sketch error against truth.
    */
  def lengthQuantileSketch(df: DataFrame, textCol: String, groupCol: String,
      p: Double = 0.5, accuracy: Int = 10000): DataFrame =
    fanOut(df)
      .select(col(groupCol), tokenCount(col(textCol)).cast("long").as("__nt"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        expr(s"percentile(__nt, $p)").as("p_exact"),
        expr(s"percentile_approx(__nt, $p, $accuracy)").as("p_approx"))

  /** Merge a frame of HLL sketches into one global (sketch, estimate) row —
    * the roll-up step proving sketch mergeability. */
  def mergeSketchEstimate(sketches: DataFrame,
      sketchCol: String = "sketch"): DataFrame =
    sketches.agg(expr(s"hll_union_agg($sketchCol, true)").as("sketch"))
      .withColumn("estimate", expr("hll_sketch_estimate(sketch)"))

  /** Per-doc DEFLATE compression ratio in basis points
    * (compressed·10⁴/raw) — the entropy-flavored quality signal of the
    * Gopher class: boilerplate, keyword stuffing, and template spam
    * compress far below natural prose, so a low ratio flags low-entropy
    * docs the token-level filters miss. One reused `Deflater` per
    * partition (allocation-free inner loop, the same mapPartitions shape
    * as the multimodal decoders); null/empty text yields null ratio
    * (absent data is not "maximally compressible"). DEFLATE output bytes
    * are deterministic for a fixed level but NOT specified across zlib
    * implementations, so this op is deliberately rows-only at the driver
    * gate — the ordering property (repetitive ≪ varied) is pinned in
    * ScalaTest instead, and thresholds consuming the ratio should be
    * calibrated per deployment, not hardcoded.
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val idIdx = df.schema.fieldIndex(idCol)
    // the mapPartitions below reads the id as a Long; any other id type
    // must fail HERE at plan time, not as per-task ClassCastExceptions
    // mid-job (string/uuid ids: hash them to a long first — md5Long)
    require(df.schema(idIdx).dataType == LongType,
      s"compressionRatio needs a LongType id column; $idCol is " +
        s"${df.schema(idIdx).dataType.simpleString}")
    val txtIdx = df.schema.fieldIndex(textCol)
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("raw_bytes", LongType),
      StructField("comp_bytes", LongType),
      StructField("ratio_bps", LongType)))
    val rdd = df.rdd.mapPartitions { it =>
      val defl = new java.util.zip.Deflater(6)
      // Deflater holds NATIVE zlib memory until end() — finalization is
      // too late on long-lived executors running many tasks, so release
      // deterministically when the task completes (covers both iterator
      // exhaustion and task failure/cancellation mid-stream)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => defl.end()))
      val buf = new Array[Byte](64 * 1024)
      it.map { row =>
        val id = row.getLong(idIdx)
        val text = if (row.isNullAt(txtIdx)) null else row.getString(txtIdx)
        if (text == null || text.isEmpty)
          org.apache.spark.sql.Row(id, null, null, null)
        else {
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(raw)
          defl.finish()
          var comp = 0L
          while (!defl.finished()) comp += defl.deflate(buf)
          org.apache.spark.sql.Row(id, raw.length.toLong, comp,
            comp * 10000L / raw.length)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Pairwise distinct-token OVERLAP estimates between groups via HLL
    * inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), with the
    * union estimated by a scalar `hll_union` of the two stored sketches —
    * no raw-data rescan. This is the cross-corpus question ("how much
    * vocabulary do these two sources share?") answered from KB-sized
    * at-rest state: per-group sketches build once (combinable agg), the
    * pair table is |groups|² over a broadcast self-join of sketch ROWS,
    * never a join of token sets. Intersection error compounds the three
    * estimates' errors, so it is relative to the UNION size (~5% at
    * lgK=12) — callers gate accordingly; the engine's exactness rule is
    * deliberately traded here, which is why the driver query emits the
    * exact intersection BESIDE the estimate and hash-checks only exact
    * values plus an in-plan error-bound bit.
    */
  def tokenOverlapSketch(df: DataFrame, textCol: String, groupCol: String,
      lgK: Int = 12): DataFrame = {
    val sk = distinctTokenSketch(df, textCol, groupCol, lgK)
    val a = sk.select(col(groupCol).as("group_a"), col("sketch").as("__sa"),
      col("estimate").as("est_a"))
    val b = sk.select(col(groupCol).as("group_b"), col("sketch").as("__sb"),
      col("estimate").as("est_b"))
    a.crossJoin(broadcast(b)).filter(col("group_a") < col("group_b"))
      .withColumn("est_union",
        expr("hll_sketch_estimate(hll_union(__sa, __sb, true))"))
      .withColumn("est_intersect",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      .drop("__sa", "__sb")
  }

  /** At-rest sketch store: ONE compact row per group (HLL distinct-token
    * sketch + CMS counter array + exact token total), written partitioned
    * by the group column. The incremental-statistics workflow a growing
    * corpus needs: each ingest shard sketches itself once, and every later
    * "how many distinct tokens / how often does X appear / how big" question
    * over ANY group subset is answered from the stored KB-sized rows —
    * [[sketchRollup]] prunes non-selected groups at file-listing time
    * (PartitionFilters) and never rescans raw text. Both sketches merge
    * EXACTLY (HLL union; CMS vector addition), so a rollup equals the
    * sketch a direct pass over the union would build. */
  /** The per-group sketch aggregation both store writers share: (group,
    * hll, cms, n_tokens) — one compact row per group in `df`. */
  private[graft] def sketchRows(df: DataFrame, textCol: String,
      groupCol: String, lgK: Int, d: Int, w: Int): DataFrame =
    df.select(col(groupCol), explode(tokens(col(textCol))).as("__token"))
      .groupBy(groupCol)
      .agg(expr(s"hll_sketch_agg(__token, $lgK)").as("hll"),
        udaf(new CountMinAgg(d, w)).apply(col("__token")).as("cms"),
        count(lit(1)).as("n_tokens"))

  def writeSketchStore(df: DataFrame, path: String,
      textCol: String = "text", groupCol: String = "source",
      lgK: Int = 12, d: Int = 4, w: Int = 2048): Unit =
    sketchRows(fanOut(df), textCol, groupCol, lgK, d, w)
      // overwrite-mode base write: exactly one "base" row per group can
      // exist, so the constant key never collides under replay dedup
      .withColumn("batch_key", lit("base"))
      .write.mode("overwrite").partitionBy(groupCol).parquet(path)

  /** Append one batch's per-group partial rows to a sketch store, stamped
    * with `batchKey` — the row identity that makes streamed ingest
    * effectively exactly-once: a replayed micro-batch recomputes the SAME
    * (deterministic) partial under the SAME key, and [[sketchRollup]] /
    * [[compactSketchStore]] drop duplicate (group, batch_key) rows before
    * merging. Callers must make `batchKey` unique per logical batch and
    * STABLE across retries of that batch —
    * [[graft.streaming.StreamIngest.sketchIngest]] derives it from
    * (checkpoint location, micro-batch id). */
  def appendSketchStore(df: DataFrame, path: String, batchKey: String,
      textCol: String = "text", groupCol: String = "source",
      lgK: Int = 12, d: Int = 4, w: Int = 2048): Unit =
    sketchRows(df, textCol, groupCol, lgK, d, w)
      .withColumn("batch_key", lit(batchKey))
      .write.mode("append").partitionBy(groupCol).parquet(path)

  /** Compact an at-rest sketch store in place: streaming ingest
    * ([[graft.streaming.StreamIngest.sketchIngest]]) appends one partial
    * row per (group, micro-batch); this folds them back to ONE row per
    * group — the same per-group merge a rollup performs, made durable.
    * An IO optimization (caps file-listing cost as batches accumulate)
    * that doubles as the replay repair: duplicate (group, batch_key)
    * partials from an at-least-once redelivery collapse to one row
    * before the fold, the [[Similarity.compactIvf]] dropDuplicates
    * discipline. The folded row gets a fresh unique key, so it can never
    * be deduped against a later batch. Two-rename publish + crash
    * self-heal as compactIvf. Run it with the ingest stream stopped or
    * quiesced: a batch replayed AFTER its original partial was folded is
    * no longer detectable (the fold erased the row identities). */
  def compactSketchStore(spark: org.apache.spark.sql.SparkSession,
      path: String, groupCol: String = "source"): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    graft.storage.AtomicDir.recoverCompact(fs, live)
    graft.storage.AtomicDir.compactPublish(spark, path,
      "compactSketchStore") { tmp =>
      spark.read.parquet(path)
        .dropDuplicates(groupCol, "batch_key") // replayed-batch repair
        .groupBy(groupCol)
        .agg(expr("hll_union_agg(hll, true)").as("hll"),
          udaf(new CmsMergeAgg).apply(col("cms")).as("cms"),
          sum("n_tokens").as("n_tokens"))
        .withColumn("batch_key",
          lit(s"compact-${java.util.UUID.randomUUID().toString.take(8)}"))
        .write.mode("overwrite").partitionBy(groupCol).parquet(tmp)
    }
  }

  /** Roll a stored sketch subset up to one (hll, cms, n_tokens,
    * distinct_est) row — reads ONLY the selected groups' partitions
    * (pruned at file listing), touches no raw text. Duplicate
    * (group, batch_key) partials — an at-least-once replay that landed
    * between compactions — are dropped before the merge, so a replayed
    * batch cannot double-count `cms`/`n_tokens`. */
  def sketchRollup(spark: org.apache.spark.sql.SparkSession, path: String,
      groups: Seq[String], groupCol: String = "source"): DataFrame =
    spark.read.parquet(path)
      .filter(col(groupCol).isin(groups: _*))
      .dropDuplicates(groupCol, "batch_key")
      .agg(expr("hll_union_agg(hll, true)").as("hll"),
        udaf(new CmsMergeAgg).apply(col("cms")).as("cms"),
        sum("n_tokens").as("n_tokens"))
      .withColumn("distinct_est", expr("hll_sketch_estimate(hll)"))

  /** Collocation mining: adjacent bigrams ranked by a scaled RATIONAL PMI —
    * the phrase-discovery stage of a corpus pipeline ("new york", "machine
    * learning") as pure integer arithmetic. For bigram count c_ab, unigram
    * counts c_a/c_b, corpus token total N, and scale S = 2^`scaleLog2`:
    *
    *   pmi_s = ⌊ S · c_ab · N / (c_a · c_b) ⌋
    *
    * — exp(PMI) scaled, monotone in true PMI for fixed counts, engine-exact
    * (a float log would hash differently across libm builds; the BM25 idf
    * makes the same trade). `minCount` drops rare-pair noise (classic PMI
    * failure mode: hapax pairs score highest), then the global top-`topK`
    * by (pmi_s, pair) is emitted.
    *
    * Scale shape: two aggregation passes over the tokenized corpus (unigram
    * counts, bigram counts) — both map-side combinable; N derives from the
    * unigram frame, never a second corpus scan. The bigram→unigram joins
    * run AFTER the `minCount` filter, so the joined side is the surviving
    * candidate set, not the corpus; intermediates ride decimal(38,0)
    * (c_ab·N overflows long at corpus scale). Output is topK rows —
    * metadata-sized.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5,
      topK: Int = 50, scaleLog2: Int = 20): DataFrame = {
    // the result is ≤ topK rows (metadata-sized by construction), so it
    // materializes HERE and the unigram pin releases before return — a
    // long-lived session calling this per source/day accumulates no
    // cache entries (the [[graft.operators.GraphOps.triangles]]
    // discipline; plan audits inspect [[collocationsPlan]] instead)
    val (out, uni) = collocationsPlan(df, textCol, minCount, topK,
      scaleLog2)
    try {
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.collect().toSeq, 1), out.schema)
    } finally uni.unpersist()
  }

  /** The lazy [[collocations]] plan plus its persisted unigram frame —
    * split out so plan audits can pin the cache reuse while
    * [[collocations]] owns the materialization and release. */
  private[graft] def collocationsPlan(df: DataFrame, textCol: String,
      minCount: Long = 5, topK: Int = 50, scaleLog2: Int = 20)
      : (DataFrame, DataFrame) = {
    require(minCount >= 1 && topK >= 1 && scaleLog2 >= 10 && scaleLog2 <= 30)
    val s = 1L << scaleLog2
    val big = (c: Column) => c.cast("decimal(38,0)")
    val base = fanOut(df)
    // the unigram frame is read three times (N scalar + two joins): persist
    // the vocabulary-sized aggregate so the corpus is scanned exactly twice
    // (once per count pass), not once per consumer
    val uni = base.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .persist()
    // coalesce: an empty corpus sums to NULL, which must read as zero
    // tokens, not a driver NPE
    val n = uni.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val bi = base.select(explode(bigramsUdf(col(textCol))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .withColumn("tok_a", split(col("bg"), " ").getItem(0))
      .withColumn("tok_b", split(col("bg"), " ").getItem(1))
    val out = bi
      .join(uni.withColumnRenamed("tok", "tok_a").withColumnRenamed("c", "c_a"),
        "tok_a")
      .join(uni.withColumnRenamed("tok", "tok_b").withColumnRenamed("c", "c_b"),
        "tok_b")
      .withColumn("__num", big(lit(s)) * big(col("c_ab")) * big(lit(n)))
      .withColumn("__den", big(col("c_a")) * big(col("c_b")))
      .withColumn("pmi_s", expr("__num div __den"))
      .select("tok_a", "tok_b", "c_ab", "c_a", "c_b", "pmi_s")
      .orderBy(col("pmi_s").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(topK)
    (out, uni)
  }

  /** The reference bigram language model [[lmScore]] scores against:
    * add-one-smoothed conditional counts from a reference corpus. `bi` is
    * (bg, c12) over adjacent bigrams, `uni` is (tok, c1) over tokens, `v`
    * the reference vocabulary size — the smoothing denominator. Both frames
    * are vocabulary-sized (not corpus-sized); `v` is the only scalar. */
  final case class LmRef(bi: DataFrame, uni: DataFrame, v: Long)

  /** One reference-corpus pass → [[LmRef]]. */
  def lmRef(refDf: DataFrame, textCol: String): LmRef = {
    val base = fanOut(refDf)
    val uni = base.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = base.select(explode(bigramsUdf(col(textCol))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    LmRef(bi, uni, uni.count())
  }

  /** N-gram LM quality scoring (the CCNet/KenLM-shaped stage): each doc is
    * scored by its mean add-one-smoothed bigram probability under a
    * reference-corpus model, in exact integer arithmetic. Per doc bigram
    * (w1, w2) with reference counts c12 = c(w1 w2), c1 = c(w1 ·), vocab V,
    * scale S = 2^`scaleLog2`:
    *
    *   p_s  = ⌊ S · (c12 + 1) / (c1 + V) ⌋        (≤ S; unseen w1 → c1 = 0)
    *   lm_score = ⌊ Σ p_s / n_bigrams ⌋
    *
    * — the scaled-likelihood surrogate of perplexity: monotone in mean
    * probability (high = reference-like, low = gibberish/boilerplate), no
    * float log anywhere, so scores are bit-identical across engines. The
    * reference corpus plays KenLM's wiki-LM role; swapping a real trained
    * count table into [[LmRef]] changes nothing downstream. Docs with no
    * bigram (< 2 tokens) are dropped — they carry no sequence signal.
    *
    * Scale shape: one tokenize pass over the scored corpus; the model
    * frames are vocabulary-sized keyed joins (p_s via decimal(38,0) — at
    * corpus scale S·c12 exceeds long), never broadcast-forced so AQE picks
    * broadcast exactly when the model fits. The per-doc reduce is one
    * map-side-combinable groupBy.
    */
  def lmScore(df: DataFrame, ref: LmRef, idCol: String, textCol: String,
      scaleLog2: Int = 20): DataFrame =
    streamingLmScore(fanOut(df), ref, idCol, textCol, scaleLog2)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("p").as("__sum"))
      .withColumn("lm_score", expr("__sum div n_bigrams"))
      .drop("__sum")

  // --- BPE tokenizer: train + encode --------------------------------------

  /** Streaming twin of [[lmScore]]: per-bigram smoothed probabilities as a
    * STATELESS stream-static join — the model frames are the static side
    * (typically [[openLm]]'s at-rest parquet, so no micro-batch recounts
    * anything), no watermark, no state store. The per-doc reduce is left
    * to the drained sink / downstream aggregation: partial `(id, p)` rows
    * sum-and-divide to exactly the batch `lm_score` regardless of how the
    * source splits into micro-batches (the partials are associative — a
    * doc spanning batches still reduces correctly). */
  def streamingLmScore(stream: DataFrame, ref: LmRef, idCol: String,
      textCol: String, scaleLog2: Int = 20): DataFrame = {
    require(scaleLog2 >= 10 && scaleLog2 <= 30)
    val s = 1L << scaleLog2
    val big = (c: Column) => c.cast("decimal(38,0)")
    stream
      .select(col(idCol), explode(bigramsUdf(col(textCol))).as("bg"))
      .withColumn("__w1", split(col("bg"), " ").getItem(0))
      .join(ref.bi, Seq("bg"), "left")
      .join(ref.uni.withColumnRenamed("tok", "__w1"), Seq("__w1"), "left")
      .withColumn("__pn", big(lit(s)) * big(coalesce(col("c12"), lit(0L)) + 1))
      .withColumn("__pd", big(coalesce(col("c1"), lit(0L)) + ref.v))
      .select(col(idCol), expr("__pn div __pd").as("p"))
  }

  /** Persist an [[lmRef]] — the n-gram LM AT REST, so quality-scoring a
    * fresh crawl skips the reference-corpus count pass and every scoring
    * run holds the model fixed (the CCNet property: scores are only
    * comparable under one frozen LM). Layout: `meta.parquet` (v),
    * `uni.parquet` (tok, c1) and `bi.parquet` (bg, c12), both written in a
    * bounded file count sorted by key (row-group stats serve future point
    * probes; the full-corpus scoring join reads the whole model either
    * way, so no bucketing column is imposed). Same two-rename publish:
    * uni/bi/v must change together or smoothing denominators go stale. */
  def writeLm(ref: LmRef, path: String): Unit = {
    val spark = ref.uni.sparkSession
    import spark.implicits._
    graft.storage.AtomicDir.publish(spark, path, "writeLm") { tmp =>
      Seq(ref.v).toDF("v")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta.parquet")
      ref.uni.repartition(4).sortWithinPartitions("tok")
        .write.mode("overwrite").parquet(s"$tmp/uni.parquet")
      ref.bi.repartition(8).sortWithinPartitions("bg")
        .write.mode("overwrite").parquet(s"$tmp/bi.parquet")
    }
  }

  /** Open a [[writeLm]]-stored model as an [[LmRef]] — [[lmScore]] runs
    * unchanged against the stored frames; no count pass, no persist. */
  def openLm(spark: org.apache.spark.sql.SparkSession, path: String): LmRef = {
    val p = new org.apache.hadoop.fs.Path(path)
    graft.storage.AtomicDir.recover(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p, "writeLm")
    LmRef(
      spark.read.parquet(s"$path/bi.parquet"),
      spark.read.parquet(s"$path/uni.parquet"),
      spark.read.parquet(s"$path/meta.parquet").head().getAs[Long]("v"))
  }

  // --- Trained quality classifier (counting-trained token ratios) ---------
}
