package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}

/** Text-analysis operators for large-scale corpus pipelines: tokenization,
  * quality scoring, language-ID heuristic, fingerprinting. All built from
  * codegen'd `functions._` expressions — no UDFs in the hot path, so
  * whole-stage codegen keeps these inside the scan stage.
  */
// Serializable is load-bearing: tier-trait methods (udf closures, typed
// Aggregators) capture `this` — the Text module — as $outer; tasks carrying
// one die at serialization unless the module serializes (readResolve keeps
// it a singleton). Every field is a constant, so the payload is bytes.
object Text extends TextQuality with TextMix with TextSketches
    with TextSpans with TextBpe with TextClassifier with Serializable {
  /** Canonical tokenizer: lowercase, split on non-alphanumeric runs, drop
    * empties. Equivalent DuckDB expression (used by the oracle):
    * `list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x <> '')`.
    * Spark drops the empties with `array_remove`, not a `filter` lambda:
    * same values, and it compiles into the stage instead of running as
    * an interpreted CodegenFallback that splits the stage.
    */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** How many of `text`'s [[tokens]] are one of `words`, counting
    * repeats: a token is a maximal `[a-z0-9]` run of the lowercased text,
    * so a whole-run regex match is exactly a token in `words`. One
    * codegen'd regex scan instead of a `filter` lambda over the token
    * array; `words` must be `[a-z0-9]` words. */
  private[graft] def wordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit(words.mkString("(?<![a-z0-9])(?:", "|", ")(?![a-z0-9])")), lit(0)))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: letter runs, digit runs, and individual
    * non-alphanumeric glyphs each count as one token — the standard cheap
    * proxy for subword-tokenizer counts (a real BPE vocab would merge/split
    * further; this bounds the count without shipping a vocab). Mirrors the
    * DuckDB oracle expression
    * `len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))`.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"),
      lit(0)))

  /** Distinct-token array (set semantics, original order dropped). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram shingles from an already-materialized token array.
    *
    * Perf note: callers on hot paths must bind the token array to its own
    * projection column first (`select(tokens(text).as("__toks"))`) and pass
    * `col("__toks")` here. Embedding `tokens(text)` directly would place the
    * split+filter inside the `transform` lambda, where Catalyst cannot hoist
    * it — re-tokenizing once per shingle index (O(tokens²) per doc).
    */
  def shinglesOfTokens(toks: Column, n: Int): Column = {
    val idxs = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    // build "t[i] t[i+1] … t[i+n-1]" for i in 0 .. size-n
    array_distinct(
      filter(
        transform(idxs, i =>
          when(i + n <= size(toks),
            concat_ws(" ", slice(toks, i + 1, lit(n))))),
        s => s.isNotNull))
  }

  /** Word n-gram shingles of the token stream, joined by a single space:
    * the unit for Jaccard/MinHash near-dup detection. Convenience form for
    * small inputs — hot paths use [[shinglesOfTokens]] on a bound column. */
  def shingles(text: Column, n: Int): Column = shinglesOfTokens(tokens(text), n)

  // --- JVM hot-path equivalents -----------------------------------------
  // Catalyst higher-order functions (transform/filter/aggregate) are
  // CodegenFallback: every lambda element is an interpreted expression-tree
  // walk (~ms per doc for shingle building). For per-doc heavy text ops a
  // compact Scala UDF is strictly faster — there is no codegen to lose.
  // Semantics are kept bit-identical to the expression forms above (and to
  // the DuckDB oracle): lower → split [^a-z0-9]+ → drop empties → n-gram
  // join by ' ' → first-occurrence-order distinct.

  private val TokenPattern = java.util.regex.Pattern.compile("[^a-z0-9]+")

  def tokensScala(s: String): Array[String] =
    if (s == null) Array.empty
    else TokenPattern.split(s.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)

  def shinglesScala(toks: Array[String], n: Int): Array[String] = {
    if (toks.length < n) return Array.empty
    val out = new Array[String](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) {
      out(i) = toks.slice(i, i + n).mkString(" ")
      i += 1
    }
    out.distinct
  }

  /** text → distinct word-n-gram shingles, as a single narrow-map UDF. */
  def shingleSetUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => shinglesScala(tokensScala(text), n))

  /** Repartition up to the session default parallelism when the input is
    * small enough that its scan yields too few partitions (a single small
    * parquet file = 1 partition = 1 core for every narrow stage above it).
    * The decision reads Catalyst's size estimate — `df.rdd` would force RDD
    * lineage materialization of the analyzed plan as a side channel — and
    * is a no-op at real scale, where file splits provide the parallelism.
    *
    * With `keys`, the fan-out hash-partitions on them instead of
    * round-robin, so an operator that next needs the rows clustered by
    * those keys (a window, a grouping) finds them so and adds no second
    * shuffle.
    */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    // streaming frames get their parallelism from the source; their plan
    // stats are not meaningful to read (and a blanket repartition would
    // add a shuffle to every micro-batch)
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxPartBytes = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    // below target × split-size one file cannot split `target` ways, so
    // the repartition buys cores for (at most) that many cheap bytes —
    // unless the input already spans `target` files (fileSplits);
    // above it, file splits already provide the parallelism. Sources with
    // no real estimate (est saturates at the Long.MaxValue default, or a
    // join product overflows it): probe an RDD-backed leaf's EXISTING
    // partition count — free, the RDD already exists, unlike df.rdd which
    // materializes new lineage — and fan out only when it is genuinely
    // narrow; unknown without such a leaf is left alone (repartitioning
    // an unbounded input on a guess could shuffle terabytes or SHRINK a
    // wide RDD to core count).
    val unknown = est >= BigInt(Long.MaxValue)
    val needed =
      if (!unknown) est < BigInt(maxPartBytes) * target &&
        fileSplits(df).forall(_ < target)
      else df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.getNumPartitions < math.max(2, target / 2)
      }.getOrElse(false)
    // IDEMPOTENT through narrow maps: a composed pipeline fans out once at
    // its head (before its cheap-per-byte scrub/feature maps) and the
    // operators it calls fan out defensively for direct callers — without
    // this walk the second call would stack a second full round-robin
    // exchange (plus its sort-before-repartition pass) on the same rows.
    if (needed && !fannedAlready(df.queryExecution.optimizedPlan, target))
      df.repartition(target, keys: _*)
    else df
  }

  /** How many splits `df`'s scan yields when every leaf of its plan is a
    * file scan (the fewest of them); None for any other source. A small
    * input spread over enough files is already wide, and a round-robin
    * shuffle of it buys nothing. Reading it lists no files — the
    * relation's index holds the listing. */
  private def fileSplits(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val leaves = df.queryExecution.sparkPlan.collectLeaves()
    if (leaves.isEmpty || !leaves.forall(_.isInstanceOf[FileSourceScanExec]))
      None
    else Some(leaves.collect { case f: FileSourceScanExec =>
      f.inputRDD.getNumPartitions }.min)
  }

  /** True when `plan` is already an adequate repartition under nothing but
    * narrow per-row ops — the only shapes the pipeline heads compose
    * between their fanOut and an operator's defensive one. Anything else
    * (joins, aggregates, unions) re-shapes partitioning, so the walk stops
    * and the defensive fanOut stands. */
  private def fannedAlready(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      target: Int): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case r: Repartition => r.shuffle && r.numPartitions >= target
      case r: RepartitionByExpression =>
        r.optNumPartitions.forall(_ >= target)
      case p: Project => fannedAlready(p.child, target)
      case f: Filter => fannedAlready(f.child, target)
      case _ => false
    }
  }

  /** Mergeable Misra-Gries heavy-hitter sketch over the token stream.
    * Guarantees (capacity `m`, stream length N): never overestimates,
    * underestimates by at most N/m, and therefore every token with true
    * frequency > N/m is present — all preserved under MERGE (Agarwal et
    * al. 2012: sum counters, then subtract the (m+1)-th largest and drop
    * non-positives), so partial sketches combine map-side and roll up
    * across partitions/days exactly like the HLL sketches above. State is
    * ≤ m counters regardless of vocabulary size — the answer when even the
    * vocabulary-bounded exact count (streamingTopTokens) is too big, e.g.
    * url/user-id domains. Runs as a typed Aggregator → Spark plans it as
    * an ObjectHashAggregate with a real partial/merge split.
    */
  private[pipeline] class MisraGriesAgg(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, scala.collection.mutable.HashMap[String, Long],
        Seq[(String, Long)]] {
    type Buf = scala.collection.mutable.HashMap[String, Long]
    def zero: Buf = scala.collection.mutable.HashMap.empty
    def reduce(b: Buf, tok: String): Buf = {
      b.get(tok) match {
        case Some(c) => b(tok) = c + 1
        case None if b.size < m => b(tok) = 1L
        case None => // classic MG step: decrement all, evict zeros
          val dead = List.newBuilder[String]
          b.foreachEntry { (k, c) =>
            if (c == 1L) dead += k else b(k) = c - 1
          }
          dead.result().foreach(b.remove)
      }
      b
    }
    def merge(a: Buf, c: Buf): Buf = {
      c.foreachEntry { (k, v) => a(k) = a.getOrElse(k, 0L) + v }
      if (a.size > m) {
        val cut = a.values.toArray.sortInPlace()
          .apply(a.size - m - 1) // (m+1)-th largest
        val dead = List.newBuilder[String]
        a.foreachEntry { (k, v) =>
          if (v <= cut) dead += k else a(k) = v - cut
        }
        dead.result().foreach(a.remove)
      }
      a
    }
    def finish(b: Buf): Seq[(String, Long)] =
      b.toSeq.sortBy { case (t, c) => (-c, t) }
    def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.Encoders.kryo[Buf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Unicode NFC normalization — the canonical pre-dedup text transform:
    * composed and decomposed spellings of the same grapheme ("é" vs
    * "é") must fingerprint identically before any hashing. JDK
    * `java.text.Normalizer` NFC; DuckDB's `nfc_normalize` computes the
    * same mapping, so the op is value-oracled. */
  def normalizeNfc(text: Column): Column = {
    val f = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    f(text)
  }

  /** Content fingerprint: md5 of the whitespace-normalized lowercase text —
    * canonical exact-dup key. (DuckDB has `md5`, so the oracle matches.) */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Adjacent token bigrams WITH multiplicity, joined by one space — the
    * positional counterpart of [[shinglesScala]]'s set semantics. A compact
    * UDF for the same reason the shingle path has one: higher-order Column
    * functions are CodegenFallback, so per-doc array surgery is faster as
    * one narrow JVM map (measured rationale at the JVM hot-path section
    * above). */
  def bigramsScala(toks: Array[String]): Array[String] = {
    if (toks.length < 2) return Array.empty
    val out = new Array[String](toks.length - 1)
    var i = 0
    while (i + 1 < toks.length) {
      out(i) = toks(i) + " " + toks(i + 1)
      i += 1
    }
    out
  }

  /** text → adjacent-bigram array (with multiplicity), one narrow map. */
  def bigramsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => bigramsScala(tokensScala(text)))

  // --- Serializable sketch aggregators -----------------------------------
  // These classes ship to executors inside ScalaAggregator tasks. Nested
  // in the TextSketches TRAIT they capture a $outer reference to the
  // (non-serializable) Text module and kill every task that carries one;
  // nested in the OBJECT they serialize fine — so they live here, not in
  // the tier file (found the hard way in the round-12 split).


  /** Count-min sketch plumbing shared by the batch and streaming paths.
    * Row hashes are murmur3 with per-row seeds — deterministic across JVMs
    * and engines, no RNG state to ship. */
  private[graft] object Cms {
    def index(tok: String, row: Int, w: Int): Int =
      math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(tok, 0x9e3779b9 + row), w)
    /** Point estimate: min over the d row counters — never BELOW the true
      * count (every row counter ≥ truth by construction), above it by more
      * than (e/w)·N with probability ≤ e^−d (Cormode & Muthukrishnan). */
    def estimate(sk: Array[Long], tok: String, d: Int, w: Int): Long = {
      var m = Long.MaxValue
      var i = 0
      while (i < d) {
        val c = sk(i * w + index(tok, i, w))
        if (c < m) m = c
        i += 1
      }
      m
    }
  }


  /** Mergeable count-min sketch over the token stream: d rows × w counters
    * (flat long array), each token incrementing one counter per row.
    * MERGE is elementwise sum — partial sketches combine map-side and roll
    * up across partitions/days/corpora exactly, so the sketch of a union
    * IS the sum of the parts' sketches (the property the spec pins).
    * Answers point-frequency queries where [[MisraGriesAgg]] answers
    * top-k membership: state is d·w longs (d=4, w=2048 → 64 KiB)
    * REGARDLESS of vocabulary — the shape that holds at 100 TB where even
    * a vocabulary-bounded exact map is too big (url/user-id domains), and
    * the same state bound a streaming complete-mode agg carries. Runs as
    * a typed Aggregator → ObjectHashAggregate with a real partial/merge
    * split. */
  private[graft] class CountMinAgg(d: Int, w: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](d * w)
    def reduce(b: Array[Long], tok: String): Array[Long] = {
      var i = 0
      while (i < d) { b(i * w + Cms.index(tok, i, w)) += 1; i += 1 }
      b
    }
    def merge(a: Array[Long], c: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += c(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }


  /** Elementwise-sum merge of stored [[CountMinAgg]] counter arrays — the
    * roll-up half of the at-rest sketch store (CMS merge IS vector
    * addition, so merging stored partials is exact, not approximate-on-
    * approximate). */
  private[graft] class CmsMergeAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.empty
    private def add(b: Array[Long], a: Array[Long]): Array[Long] =
      if (a == null || a.isEmpty) b
      else if (b.isEmpty) a.clone()
      else {
        require(b.length == a.length,
          s"CMS geometry mismatch: ${b.length} vs ${a.length}")
        var i = 0
        while (i < b.length) { b(i) += a(i); i += 1 }
        b
      }
    def reduce(b: Array[Long], a: Array[Long]): Array[Long] = add(b, a)
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = add(x, y)
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }
}
