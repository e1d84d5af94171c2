package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.TimeNano
import graft.operators.TsOps
import graft.pipeline.{Dedup, Multimodal, Similarity, Text}
import graft.ql.Engine
import graft.EntryFixtures._

/** The LLM-data-pipeline query family (dedup, similarity, text
  * quality, mixture, tokenizer, sketches, multimodal, graph,
  * streaming twins). */
private[graft] object EntryPipeline {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text").orderBy("fp")),
    "dedup_keep_best" -> ((s, d) =>
      // survivor policy: keep the LONGEST raw variant of each duplicate
      // group (members share normalized text but differ in ws/case, so
      // raw length discriminates); argmax fold, no window
      Dedup.exactKeepBest(t(s, d, "documents"), "doc_id", "text",
        length(col("text")).cast("long")).orderBy("fp")),
    "dedup_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.3, shingleSize = 3).orderBy("id1", "id2")),
    "dedup_clusters" -> ((s, d) => {
      // transitive near-dup clusters over the exact pair list: min-label
      // propagation vs a DuckDB recursive-CTE transitive closure — proves
      // the iterative component labels (and the keep-one-per-cluster
      // representative flag) are exactly the connected components
      val pairs = Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.3, shingleSize = 3)
      Dedup.components(pairs)
        .select(col("id").as("doc_id"), col("comp").as("component"),
          (col("id") === col("comp")).cast("long").as("is_rep"))
        .orderBy("doc_id")
    }),
    "dedup_cluster_keepbest" -> ((s, d) => {
      // keep-the-BEST-per-near-dup-cluster: components over the exact
      // pair list, survivor = highest token count (min id on ties)
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        threshold = 0.3, shingleSize = 3)
      Dedup.clusterKeepBest(pairs,
        docs.select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("quality")),
        "doc_id", "quality")
        .orderBy("component")
    }),
    "dedup_clusters_logstar" -> ((s, d) => {
      // the same transitive clusters through the alternating
      // large-star/small-star algorithm — O(log n) rounds on ANY graph
      // shape (min-label propagation needs diameter rounds). Identical
      // output contract, so it shares dedup_clusters' recursive-CTE oracle
      val pairs = Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.3, shingleSize = 3)
      Dedup.componentsLogRounds(pairs)
        .select(col("id").as("doc_id"), col("comp").as("component"),
          (col("id") === col("comp")).cast("long").as("is_rep"))
        .orderBy("doc_id")
    }),
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.nearDuplicates(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.3, bands = 16, rowsPerBand = 4, shingleSize = 3)
        .orderBy("id1", "id2")),
    "dedup_minhash_oracle" -> ((s, d) => {
      // the full LSH pipeline with oracle-reproducible md5 hashing: DuckDB
      // recomputes signatures, banding, candidates, and the exact verify —
      // a hash-matched proof of the banding/verify semantics (the xxhash64
      // fast path above shares every step but the base hash)
      val docs = t(s, d, "documents")
      val cands = Dedup.minhashCandidatesMd5(docs, "doc_id", "text",
        bands = 16, rowsPerBand = 4, shingleSize = 3)
      Dedup.jaccardVerify(docs, cands, "doc_id", "text", shingleSize = 3)
        .filter(col("jaccard") >= 0.3)
        .orderBy("id1", "id2")
    }),
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, dims = 64, exact = true)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2")),
    "dedup_embedding_lsh" -> ((s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, dims = 64, exact = false, numPlanes = 8)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2")),
    "text_token_counts" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")),
    "pipeline_curate" -> ((s, d) =>
      graft.pipeline.Pipelines.curate(t(s, d, "documents"), "doc_id", "text")
        .select("doc_id", "lang_pred", "n_tokens")
        .orderBy("doc_id")),
    "pipeline_funnel" -> ((s, d) =>
      // the curation audit: per-stage survivor counts through the curate
      // chain — the report a production run ships with its output; the
      // oracle recomputes every stage from the same CTE chain that
      // value-oracles pipeline_curate itself
      graft.pipeline.Pipelines.curationFunnel(
          t(s, d, "documents"), "doc_id", "text")
        .orderBy("stage_idx")),
    "pipeline_funnel_prep" -> ((s, d) => {
      // the full trainPrep audit: the curate funnel extended with the
      // decontamination and token-budget stages, over the same inputs as
      // pipeline_train_prep — six stages from raw corpus to the budgeted
      // training set, each count oracled from the shared CTE chain
      val docs = t(s, d, "documents")
      graft.pipeline.Pipelines.curationFunnel(
          docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0), "doc_id", "text",
          evalDf = Some(docs.filter(pmod(col("doc_id"), lit(97L)) === 0)),
          budgets = Map("en" -> 2000L, "de" -> 600L, "es" -> 600L,
            "fr" -> 500L),
          scrubFirst = true)
        .orderBy("stage_idx")
    }),
    "pipeline_train_prep" -> ((s, d) => {
      // the WHOLE prep job end to end: scrub → quality/langid/dedup curate
      // → benchmark decontamination → per-language token-budget mixing →
      // sequence packing. One call from raw docs to the trainer-facing
      // packed layout, every stage an individually-oracled operator
      val docs = t(s, d, "documents")
      graft.pipeline.Pipelines.trainPrep(
        docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0), "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(97L)) === 0),
        Map("en" -> 2000L, "de" -> 600L, "es" -> 600L, "fr" -> 500L),
        contextLen = 128, numBuckets = 4)
        .orderBy("doc_id")
    }),
    "dedup_simhash" -> ((s, d) =>
      // maxHamming=3 → 4×16-bit pigeonhole blocks: complete recall with
      // wide buckets (64-bit-key joins), the scale-safe operating point.
      // md5 token hashes so the DuckDB all-pairs oracle reproduces the
      // exact result set — the oracle CONFIRMS the complete-recall claim
      Dedup.simhashCandidates(
        Dedup.simhash(t(s, d, "documents"), "doc_id", "text", hash = "md5"),
        "doc_id", maxHamming = 3).orderBy("id1", "id2")),
    "dedup_jaccard_grouped" -> ((s, d) =>
      // adjacency-list variant of dedup_jaccard_pairs — identical output
      // (shares its oracle); see Dedup.jaccardPairsGrouped for the trade
      Dedup.jaccardPairsGrouped(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.3, shingleSize = 3).orderBy("id1", "id2")),
    "dedup_cross_corpus" -> ((s, d) => {
      // dedupe the "new dump" (2/3 of docs) against the "training set"
      // (every 3rd doc); the reference side owns the capped vocabulary
      val docs = t(s, d, "documents")
      Dedup.crossCorpusNearDups(
        docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
        "doc_id", "text", threshold = 0.3)
        .orderBy("new_id", "ref_id")
    }),
    "corpus_diff" -> ((s, d) => {
      // release audit between two snapshot versions (overlapping halves
      // of the corpus): per language, distinct contents added/removed/kept
      val docs = t(s, d, "documents")
      Dedup.corpusDiff(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
        "text", "lang")
        .orderBy("lang")
    }),
    "dedup_index_probe" -> ((s, d) => {
      // dedup_cross_corpus probed AT REST: the reference side's stop
      // list + capped inverted index persist once (writeNearDupIndex),
      // then the new dump joins against the stored index — no
      // reference-corpus shingle recompute per dump. Same result as the
      // recompute path, so it shares dedup_cross_corpus's oracle
      val docs = t(s, d, "documents")
      val path = nearDupIndexPaths.computeIfAbsent(d, dir => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-ndidx-$processId-${dirTag(dir)}").getPath
        Dedup.writeNearDupIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          "doc_id", "text", p)
        p
      })
      Dedup.probeNearDupIndex(s, path,
        docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
        "doc_id", "text", threshold = 0.3)
        .orderBy("new_id", "ref_id")
    }),
    "text_contamination" -> ((s, d) => {
      // decontamination probe: eval set = every 97th doc (stands in for a
      // held-out benchmark suite), train = the rest; a train doc is flagged
      // when any of its 3-gram shingles appears anywhere in the eval set.
      // The eval shingle set broadcasts — the 100 TB shape (benchmark
      // suites are tiny next to a pretraining corpus)
      val docs = t(s, d, "documents")
      Dedup.contamination(
        docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97L)) === 0),
        "doc_id", "text", shingleSize = 3)
        .orderBy("doc_id")
    }),
    "contamination_report" -> ((s, d) => {
      // eval-side leakage report: per eval doc (every 97th), how many of
      // its shingles the train corpus contains — including zero-leak rows
      val docs = t(s, d, "documents")
      Dedup.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(97L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97L)) === 0),
        "doc_id", "text", shingleSize = 3)
        .orderBy("doc_id")
    }),
    "dedup_bloom" -> ((s, d) => {
      // cross-corpus exact dedup, bloom-prescreened: incoming docs whose
      // fingerprint exists in the reference third of the corpus. Output
      // is the exact semi-join result (bloom is the prescreen layer)
      val docs = t(s, d, "documents")
      Dedup.bloomDedup(docs,
        docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_novelty" -> ((s, d) =>
      // per-doc unique-content metric: distinct shingles with corpus
      // df == 1 — the inverse signal of the dup-ngram miner
      Text.noveltyCounts(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3)
        .orderBy("doc_id")),
    "source_stats" -> ((s, d) =>
      // per-source corpus composition: volume, language spread, distinct
      // content — the curation report a crawl pipeline publishes
      Text.sourceStats(t(s, d, "documents"), "text", "source")
        .orderBy("source")),
    "text_length_hist" -> ((s, d) =>
      // token-length distribution per language, width-10 buckets
      Text.lengthHistogram(t(s, d, "documents"), "text", "lang", 10)
        .orderBy("lang", "bucket")),
    "text_bpe_pairs" -> ((s, d) =>
      // tokenizer-training statistics: top within-word character pairs
      // by occurrence — the table BPE's first merge rule comes from
      Text.bpePairCounts(t(s, d, "documents"), "text", topK = 50)),
    "text_bpe_encode" -> ((s, d) => {
      // the REAL tokenizer loop: train 8 BPE merges on the corpus
      // vocabulary (greedy top-pair rounds), then encode every doc with
      // the learned merge chain — exact subword counts, full oracle
      // (the training rounds unroll into the SQL)
      val docs = t(s, d, "documents")
      Text.bpeEncode(docs, "doc_id", "text",
        Text.bpeTrain(docs, "text", merges = 8))
        .orderBy("doc_id")
    }),
    "text_bpe_encode_stored" -> ((s, d) => {
      // text_bpe_encode with the tokenizer AT REST: the 8 learned merges
      // are written once (two-rename publish) and every encode run opens
      // the frozen artifact — token budgets stay reproducible across
      // serving restarts and corpus growth. Byte-identical encode, so it
      // shares text_bpe_encode's value oracle
      val docs = t(s, d, "documents")
      val path = modelStorePaths.computeIfAbsent(d + "#tok", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-bpetok-$processId-${dirTag(d)}").getPath
        Text.writeTokenizer(s, Text.bpeTrain(docs, "text", merges = 8), p)
        p
      })
      Text.bpeEncode(docs, "doc_id", "text", Text.openTokenizer(s, path))
        .orderBy("doc_id")
    }),
    "text_bpe_tokenize" -> ((s, d) => {
      // the tokenizer's PRODUCT: per-doc token-ID sequences under the
      // 8-merge trained chain — ids fixed by the artifact alone (chars
      // 0-35, merge k → 36+k), so training inputs are reproducible at
      // the id level across engines and runs. The ids array is the
      // API; the oracle-facing projection pins ORDER and VALUES through
      // scalar columns (the Σ id×position checksum + the first ten ids
      // verbatim) — the driver compare stays on scalar types
      val docs = t(s, d, "documents")
      Text.bpeTokenize(docs, "doc_id", "text",
          Text.bpeTrain(docs, "text", merges = 8))
        .select(col("doc_id"), col("n_bpe"),
          expr("aggregate(zip_with(ids, sequence(1, size(ids)), " +
            "(x, i) -> cast(x as bigint) * i), 0L, (a, x) -> a + x)")
            .as("ids_sum"),
          expr("array_join(transform(slice(ids, 1, 10), " +
            "x -> cast(x as string)), '-')").as("ids_head"))
        .orderBy("doc_id")
    }),
    "text_pack_tokens" -> ((s, d) => {
      // the pipeline's FINAL artifact: materialized context windows —
      // the 8-merge tokenizer's id sequences packed into 256-id
      // windows over 8 bucketed streams. Every window's ids are pinned
      // through scalars: count, contributing docs, the Σ id×position
      // checksum, both edge ids. The engine ships per-doc SPAN slices
      // (O(docs + packs) shuffle rows); the oracle explodes per token —
      // same windows from both shapes
      val docs = t(s, d, "documents")
      val toks = Text.bpeTokenize(docs, "doc_id", "text",
        Text.bpeTrain(docs, "text", merges = 8))
      Text.packTokenIds(toks, "doc_id", contextLen = 256, numBuckets = 8)
        .select(col("bucket"), col("pack"), col("n_tokens"),
          col("n_docs"),
          expr("aggregate(zip_with(ids, sequence(1, size(ids)), " +
            "(x, i) -> cast(x as bigint) * i), 0L, (a, x) -> a + x)")
            .as("ids_sum"),
          expr("element_at(ids, 1)").cast("long").as("id_first"),
          expr("element_at(ids, -1)").cast("long").as("id_last"))
        .orderBy("bucket", "pack")
    }),
    "text_bpe_encode_batch" -> ((s, d) => {
      // REAL-vocabulary-scale tokenizer training: 8 rounds × up to 32
      // symbol-disjoint merges per round = a 256-merge tokenizer in 8
      // vocabulary-sized jobs (rounds, not merges, drive cost — the
      // ceiling bpeTrain's one-job-per-merge loop could never reach);
      // the oracle unrolls the same rank-window selection per round
      val docs = t(s, d, "documents")
      Text.bpeEncode(docs, "doc_id", "text",
        Text.bpeTrainBatch(docs, "text", rounds = 8, pairsPerRound = 32,
          candidatesPerRound = 256))
        .orderBy("doc_id")
    }),
    "text_pack_bpe" -> ((s, d) => {
      // the composition batch training exists FOR: sequence packing under
      // the REAL tokenizer's counts — the 256-merge chain's n_bpe drives
      // the bucketed offset cumsum, so every context-window boundary sits
      // at the token budget a training job actually loads (the whitespace
      // proxy misplaces pack boundaries by the merge compression factor)
      val docs = t(s, d, "documents")
      val counts = Text.bpeEncode(docs, "doc_id", "text",
        Text.bpeTrainBatch(docs, "text", rounds = 8, pairsPerRound = 32,
          candidatesPerRound = 256))
      Text.packByCounts(counts, "doc_id", "n_bpe", contextLen = 256,
          numBuckets = 8)
        .orderBy("doc_id")
    }),
    "text_lm_score_stored" -> ((s, d) => {
      // text_lm_score with the LM AT REST: the reference-third count
      // tables persist once; scoring a fresh corpus never re-counts the
      // reference and every run scores under the same frozen model (the
      // CCNet comparability property). Shares text_lm_score's oracle
      val docs = t(s, d, "documents")
      val path = modelStorePaths.computeIfAbsent(d + "#lm", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-lm-$processId-${dirTag(d)}").getPath
        Text.writeLm(Text.lmRef(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text"), p)
        p
      })
      Text.lmScore(docs, Text.openLm(s, path), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_window_cooccur" -> ((s, d) =>
      // skip-gram statistics: ±2-position pairs over the raw sequence,
      // top-100 vocabulary — the embedding-training count table
      Text.windowCooccurrence(t(s, d, "documents"), "text",
        window = 2, topK = 100)
        .orderBy("tok_a", "tok_b")),
    "text_cooccur" -> ((s, d) =>
      // doc-level co-occurrence counts over the top-100 vocabulary —
      // integer PMI substrate; pair fan-out bounded by the vocab cap
      Text.cooccurrence(t(s, d, "documents"), "doc_id", "text", topK = 100)
        .orderBy("tok_a", "tok_b")),
    "text_collocations" -> ((s, d) =>
      // phrase discovery: adjacent bigrams ranked by scaled rational PMI
      // (integer-exact), min-count 5, global top-50
      Text.collocations(t(s, d, "documents"), "text",
        minCount = 5, topK = 50)),
    "text_lm_score" -> ((s, d) => {
      // CCNet-shaped LM quality scoring: mean add-one-smoothed bigram
      // probability under the reference third of the corpus, fixed-point
      val docs = t(s, d, "documents")
      Text.lmScore(docs,
        Text.lmRef(docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text"),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_classifier_score" -> ((s, d) => {
      // TRAINED quality filter (the DCLM/fastText shape): token-ratio
      // weights counted from the labeled 4/5 train split (positive = the
      // English reference distribution, negative = the rest), every doc
      // scored by its mean scaled token likelihood ratio. Training is
      // counting, so model and scores hash-match the DuckDB mirror
      val docs = t(s, d, "documents")
      val train = docs.filter(pmod(col("doc_id"), lit(5L)) < 4)
      Text.classifierScore(docs,
        Text.classifierTrain(train.filter(col("lang") === "en"),
          train.filter(col("lang") =!= "en"), "text"),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_classifier_stored" -> ((s, d) => {
      // text_classifier_score with the model AT REST: weights + scalars
      // persist once (the quality filter is trained once, applied to
      // every fresh dump under one frozen model); scoring never recounts
      // the training corpora. Shares text_classifier_score's oracle
      val docs = t(s, d, "documents")
      val path = modelStorePaths.computeIfAbsent(d + "#clf", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-clf-$processId-${dirTag(d)}").getPath
        val train = docs.filter(pmod(col("doc_id"), lit(5L)) < 4)
        Text.writeClassifier(
          Text.classifierTrain(train.filter(col("lang") === "en"),
            train.filter(col("lang") =!= "en"), "text"), p)
        p
      })
      Text.classifierScore(docs, Text.openClassifier(s, path),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_classifier_incr" -> ((s, d) => {
      // INCREMENTAL training: the even half of the train split builds
      // the count store, the odd half arrives later as an appended
      // batch, and the append is then REPLAYED under the same batch key
      // (at-least-once redelivery) — the derived weights must equal the
      // one-shot train over the whole split, so this shares
      // text_classifier_score's oracle: counts merge by addition,
      // replays collapse before the sum
      val docs = t(s, d, "documents")
      val path = modelStorePaths.computeIfAbsent(d + "#clfcnt", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-clfcnt-$processId-${dirTag(d)}").getPath
        val train = docs.filter(pmod(col("doc_id"), lit(5L)) < 4)
        val even = train.filter(pmod(col("doc_id"), lit(2L)) === 0)
        val odd = train.filter(pmod(col("doc_id"), lit(2L)) === 1)
        def pos(df: org.apache.spark.sql.DataFrame) =
          df.filter(col("lang") === "en")
        def neg(df: org.apache.spark.sql.DataFrame) =
          df.filter(col("lang") =!= "en")
        Text.writeClassifierCounts(pos(even), neg(even), "text", p)
        Text.appendClassifierCounts(pos(odd), neg(odd), "text", p,
          batchKey = "dump-1")
        Text.appendClassifierCounts(pos(odd), neg(odd), "text", p,
          batchKey = "dump-1") // redelivery: must be a no-op on read
        p
      })
      Text.classifierScore(docs, Text.openClassifierCounts(s, path),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_classifier_eval" -> ((s, d) => {
      // the classifier's HELD-OUT confusion matrix (the 1/5 split the
      // trainer never saw): truth = reference-language membership,
      // prediction = mean-ratio threshold — the evaluation artifact a
      // filter must produce before gating a 100 TB crawl, exactly
      // mirrored. NOTE the synthetic corpus draws every lang label from
      // ONE token pool, so the matrix here is ~chance BY CONSTRUCTION —
      // the gate is the exact mirror of the evaluation computation;
      // label RECOVERY on a separable corpus is pinned by
      // PipelineSpec's planted-fixture classifier test
      val docs = t(s, d, "documents")
      val train = docs.filter(pmod(col("doc_id"), lit(5L)) < 4)
      val ref = Text.classifierTrain(train.filter(col("lang") === "en"),
        train.filter(col("lang") =!= "en"), "text")
      Text.classifierScore(docs.filter(pmod(col("doc_id"), lit(5L)) === 4),
          ref, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy((col("lang") === "en").cast("long").as("is_pos"),
          col("pred_pos"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("is_pos", "pred_pos")
    }),
    "text_dup_ngrams" -> ((s, d) =>
      // most-duplicated 5-token spans with doc frequency — the
      // substring-dedup signal (Lee et al. 2022) at fixed span length
      Dedup.dupNgrams(t(s, d, "documents"), "doc_id", "text",
        n = 5, minDf = 2, topK = 50)),
    "text_dup_chunks" -> ((s, d) =>
      // paragraph-dedup signal: per doc, how many fixed 32-token chunks
      // are duplicated anywhere in the corpus
      Text.dupChunkStats(t(s, d, "documents"), "doc_id", "text", size = 32)
        .orderBy("doc_id")),
    "text_dup_spans" -> ((s, d) =>
      // exact duplicated-span COVERAGE per doc (Lee et al. 2022): the
      // union of all 8-token windows occurring >= 2 times in the corpus,
      // merged into maximal spans — the token count a span-excision
      // dedup pass would remove, not just a dup-window tally
      Text.dupSpanCoverage(t(s, d, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")),
    "text_excise_spans" -> ((s, d) =>
      // the TRANSFORM half of Lee et al. 2022: every token under a
      // duplicated 8-window leaves, survivors rejoin in order over the
      // canonical token stream — the dedup a training pipeline actually
      // applies, not just the metric
      Text.exciseDupSpans(t(s, d, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")),
    "text_dup_index_incr" -> ((s, d) => {
      // incremental index maintenance: base dump mined once, a later
      // dump appended under a replay-stable key (delivered TWICE — the
      // at-least-once dedup must absorb it), serving set summed from the
      // partials with minCount on the TOTAL — counts merge by addition,
      // so scoring the full corpus against the incrementally-built set
      // equals the one-shot whole-corpus mine (shares text_dup_spans'
      // oracle); cnt=1 partials are load-bearing across dumps
      val docs = t(s, d, "documents")
      val path = dupIncrIndexPaths.computeIfAbsent(d, dir => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-dupincr-$processId-${dirTag(dir)}").getPath
        val all = t(s, dir, "documents")
        val baseDocs = all.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
        val incDocs = all.filter(pmod(col("doc_id"), lit(97L)) === 0)
        Text.appendDupGramIndex(baseDocs, p, "base", "doc_id", "text",
          k = 8)
        Text.appendDupGramIndex(incDocs, p, "inc#1", "doc_id", "text",
          k = 8)
        Text.appendDupGramIndex(incDocs, p, "inc#1", "doc_id", "text",
          k = 8) // the at-least-once redelivery
        Text.compactDupGramIndex(s, p)
        p
      })
      Text.dupSpanCoverageStored(docs, "doc_id", "text",
        Text.dupGramsFrom(s, path, k = 8), k = 8)
        .orderBy("doc_id")
    }),
    "text_dup_spans_stored" -> ((s, d) => {
      // the dup-gram set AT REST: mined once (index is the duplicated
      // subset only — tiny), probed by a one-pass scoring join with no
      // corpus-wide re-count; same corpus + same set ⇒ shares
      // text_dup_spans' oracle, and the k self-description is validated
      // on open
      val docs = t(s, d, "documents")
      Text.dupSpanCoverageStored(docs, "doc_id", "text",
        Text.openDupGramIndex(s, dupGramIdx(s, d), k = 8), k = 8)
        .orderBy("doc_id")
    }),
    "text_chunks" -> ((s, d) =>
      Text.chunk(t(s, d, "documents"), "doc_id", "text",
        size = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),
    "text_remove_boilerplate" -> ((s, d) =>
      // corpus cleaning: spans repeated >= 3 times anywhere drop, text
      // reassembles from the surviving spans — full cleaned-text oracle
      Text.removeBoilerplate(t(s, d, "documents"), "doc_id", "text",
        size = 16, minDf = 3)
        .orderBy("doc_id")),
    "text_remove_boilerplate_stored" -> ((s, d) => {
      // probe the persisted span index: identical cleaning arithmetic,
      // only the span set's provenance (parquet vs recompute) differs —
      // shares text_remove_boilerplate's oracle (the knn_ivf_stored
      // convention). Index written once per process per dataset.
      val path = boilerIdxPaths.computeIfAbsent(d, dir => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-boiler-${processId}_${dirTag(dir)}/idx").getPath
        Text.writeBoilerplateIndex(t(s, dir, "documents"), "doc_id",
          "text", p, size = 16, minDf = 3)
        p
      })
      Text.removeBoilerplateStored(s, t(s, d, "documents"), "doc_id",
        "text", path).orderBy("doc_id")
    }),
    "quality_length_trim" -> ((s, d) =>
      // adaptive per-source length band: each source keeps its own
      // [10th, 90th] percentile lengths; decided on the per-(source, len)
      // histogram + broadcast semi join — never a per-row window
      Text.lengthTrimPct(t(s, d, "documents")
          .select("doc_id", "source", "n_chars"),
        "n_chars", "source", loPct = 10, hiPct = 90)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),
    "sample_split" -> ((s, d) =>
      Text.hashSplit(t(s, d, "documents").select("doc_id"), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")),
    "train_shuffle_shards" -> ((s, d) =>
      // reproducible global training order: seeded md5 key → shard +
      // in-shard position, identical on every run and cluster size; one
      // hash shuffle + per-shard sort, never a global range sort
      Text.shuffleShards(t(s, d, "documents").select("doc_id"), "doc_id",
        seed = 7L, nShards = 16)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")),
    "profile_documents" -> ((s, d) =>
      // one-pass data-validation profile: per-column null/distinct/range
      // stats from a single scan + single multi-distinct aggregate
      Text.profile(t(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("col_name")),
    "mix_sample" -> ((s, d) =>
      // data mixing: per-language token budgets (en-heavy, zh excluded);
      // deterministic md5-ordered fill so the oracle reproduces the exact
      // survivor set. Budgets are absolute tokens — at sf0.01 they keep
      // roughly half of en and a third of de/es/fr
      Text.mixSample(t(s, d, "documents"), "doc_id", "text", "lang",
        Map("en" -> 4000L, "de" -> 1000L, "es" -> 1000L, "fr" -> 800L))
        .orderBy("doc_id")),
    "mix_importance" -> ((s, d) => {
      // DSIR-shaped selection: reweight the corpus toward the English
      // slice via hashed-bucket frequency ratios; deterministic
      // hash-threshold acceptance, integer-exact weights
      val docs = t(s, d, "documents")
      Text.importanceSample(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 256)
        .orderBy("doc_id")
    }),
    "mix_temperature" -> ((s, d) => {
      // α=1/2 temperature mixing: budgets derived from the corpus itself
      // (∝ sqrt of per-lang tokens), then the standard md5-ordered fill;
      // integer-exact weights so the oracle derives identical budgets
      val docs = t(s, d, "documents")
      val budgets = Text.temperatureBudgets(docs, "text", "lang",
        totalBudget = 6000L)
      Text.mixSample(docs, "doc_id", "text", "lang", budgets)
        .orderBy("doc_id")
    }),
    "mix_epochs" -> ((s, d) =>
      // data-constrained mixing: en budget > its corpus → 2 full epochs
      // + remainder prefix; de/fr fractional; es/zh excluded
      Text.mixEpochs(t(s, d, "documents"), "doc_id", "text", "lang",
        Map("en" -> 30000L, "de" -> 1000L, "fr" -> 800L))
        .orderBy("doc_id")),
    "mix_schedule" -> ((s, d) =>
      // the trainer-facing order: one row per (doc, epoch) occurrence
      // with the per-epoch reshuffle key; sort by (epoch, order_key)
      Text.mixSchedule(t(s, d, "documents"), "doc_id", "text", "lang",
        Map("en" -> 30000L, "de" -> 1000L, "fr" -> 800L))
        .orderBy("doc_id", "epoch")),
    "sample_stratified" -> ((s, d) =>
      // fixed-size per-language eval carve-out, deterministic md5 order
      Text.sampleStratified(t(s, d, "documents"), "doc_id", "lang", k = 10)
        .orderBy("doc_id")),
    "quantile_sketch" -> ((s, d) =>
      // mergeable-sketch median per language: exact p50 VALUE-oracled
      // (dyadic p → bit-equal to quantile_cont), est_ok gates the
      // percentile_approx sketch within one element of exact
      Text.lengthQuantileSketch(t(s, d, "documents"), "text", "lang")
        .select(col("lang"), col("n_docs"), col("p_exact"),
          (abs(col("p_approx") - col("p_exact")) <= 1.0)
            .cast("long").as("est_ok"))
        .orderBy("lang")),
    "approx_distinct_tokens" -> ((s, d) => {
      // HLL sketch distinct-token counts: the exact per-group counts are
      // VALUE-oracled; est_ok gates the sketch estimate within 5% of exact
      // AND (on the '*' row) that the union of per-language sketches
      // estimates identically to one sketch over all tokens — the
      // mergeability that makes sketches the 100 TB distinct-count path
      val docs = t(s, d, "documents")
      val sk = Text.distinctTokenSketch(docs, "text", "lang")
      val tok = docs.select(col("lang"),
        explode(Text.tokens(col("text"))).as("token"))
      val perOut = sk.join(tok.groupBy("lang")
          .agg(count_distinct(col("token")).as("n_exact")), Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (abs(col("estimate") - col("n_exact")) <= col("n_exact") * 0.05)
            .cast("long").as("est_ok"))
      val gOut = tok.agg(count_distinct(col("token")).as("n_exact"))
        .crossJoin(Text.distinctTokenSketch(
            docs.withColumn("__g", lit(1)), "text", "__g")
          .select(col("estimate").as("est_direct")))
        .crossJoin(Text.mergeSketchEstimate(sk.select("sketch"))
          .select(col("estimate").as("est_merged")))
        .select(lit("*").as("lang"), col("n_exact"),
          ((abs(col("est_direct") - col("n_exact")) <= col("n_exact") * 0.05)
            && col("est_direct") === col("est_merged"))
            .cast("long").as("est_ok"))
      perOut.unionByName(gOut).orderBy("lang")
    }),
    "text_quality" -> ((s, d) =>
      Text.qualityFeatures(t(s, d, "documents"), "text")
        .select("doc_id", "n_chars_m", "n_tokens", "punct_ratio",
          "digit_ratio", "ws_ratio", "stopword_ratio", "mean_token_len")
        .orderBy("doc_id")),
    "text_langid" -> ((s, d) =>
      Text.langId(t(s, d, "documents"), "text")
        .select("doc_id", "score_de", "score_en", "score_es", "score_fr",
          "lang_pred")
        .orderBy("doc_id")),
    "text_lang_confusion" -> ((s, d) =>
      // label-quality audit: predicted vs recorded language confusion
      // matrix — the standard check before trusting either column as the
      // mixing/filter key; metadata-sized output (|langs|² cells)
      Text.langId(t(s, d, "documents"), "text")
        .groupBy(col("lang").as("lang_true"),
          col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_true", "lang_pred")),
    "text_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    "text_nfc" -> ((s, d) => {
      // NFC on the raw text, plus a marker proving a REAL composition:
      // appending decomposed e+combining-acute (U+0065 U+0301) must
      // normalize to composed U+00E9 (the corpus itself may already be
      // NFC, which would make the text column alone a weak check)
      val decomposed = "e\u0301"
      val composed = "\u00e9"
      // NFC(text) computed ONCE and reused by both output columns; only
      // the text+decomposed probe needs a second normalization pass
      t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          Text.normalizeNfc(col("text")).as("nfc_text"))
        .select(col("doc_id"), col("nfc_text"),
          (Text.normalizeNfc(concat(col("text"), lit(decomposed))) ===
            concat(col("nfc_text"), lit(composed)))
            .cast("long").as("composed_ok"))
        .orderBy("doc_id")
    }),
    "text_length_quantiles" -> ((s, d) =>
      // EXACT per-language token-count quantiles (percentile, not the
      // approx sketch): both engines define the continuous quantile as
      // linear interpolation at p*(n-1), and with integer inputs and
      // dyadic p the arithmetic is bit-identical
      t(s, d, "documents")
        .select(col("lang"), Text.tokenCount(col("text")).cast("long").as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n, 0.25)").as("p25"),
          expr("percentile(n, 0.5)").as("p50"),
          expr("percentile(n, 0.75)").as("p75"))
        .orderBy("lang")),
    "text_pack" -> ((s, d) =>
      // training sequence packing: concat-then-cut-every-256-tokens over 8
      // deterministic streams; per doc its offset and spanned packs
      Text.packSequences(t(s, d, "documents"), "doc_id", "text",
        contextLen = 256, numBuckets = 8)
        .orderBy("doc_id")),
    "text_length_filter" -> ((s, d) =>
      // relative outlier cut: keep docs inside their language's exact
      // [12.5%, 87.5%] token-count band (dyadic p → bit-exact interpolation
      // in both engines)
      Text.filterByLengthQuantiles(t(s, d, "documents"), "doc_id", "text",
        "lang", pLo = 0.125, pHi = 0.875)
        .select("doc_id", "lang", "n_tokens", "p_lo", "p_hi")
        .orderBy("doc_id")),
    "text_pack_manifest" -> ((s, d) =>
      // the dataloader-facing index of the packed layout: per context
      // window, its contributing docs and exact fill (256 everywhere but
      // each bucket's final pack)
      Text.packManifest(t(s, d, "documents"), "doc_id", "text",
        contextLen = 256, numBuckets = 8)
        .orderBy("bucket", "pack")),
    "text_tfidf" -> ((s, d) =>
      // integer TF-IDF components, top-3 terms per doc (tf desc, token
      // asc): the raw counts the weighting formula is computed from —
      // emitted unweighted so the oracle is exact
      Text.tfIdfTopK(t(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")),
    "text_gopher_filter" -> ((s, d) =>
      // the composite drop decision (Gopher rules, integer-exact flags)
      Text.gopherFilter(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "text_repetition" -> ((s, d) =>
      // Gopher-style within-doc repetition signals (duplicate tokens /
      // 3-grams, top-token dominance) as integer counts — the boilerplate
      // and degenerate-loop filter of a pretraining pipeline
      Text.repetitionStats(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "text_pii_scrub" -> ((s, d) => {
      // PII redaction proof: plant deterministic emails/phones into the
      // fixture text (base corpus has none), scrub, and count — the oracle
      // recomputes both the planted text and the regex scrub
      val docs = t(s, d, "documents")
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3L)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(lit(" call +1 555 "),
              lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("t"))
      planted.select(col("doc_id"),
          Text.scrubPii(col("t")).as("scrubbed"),
          Text.piiEmailCount(col("t")).as("n_emails"),
          Text.piiPhoneCount(col("t")).as("n_phones"))
        .orderBy("doc_id")
    }),
    "pipeline_clean" -> ((s, d) => {
      // the composed cleaning pass: scrub → boilerplate removal → per-
      // source percentile trim, over a corpus with PLANTED PII (the
      // text_pii_scrub fixture) so every stage does real work; full-chain
      // value oracle reproduces the surviving cleaned texts exactly
      val planted = t(s, d, "documents").withColumn("text",
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3L)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(lit(" call +1 555 "),
              lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
            .otherwise(lit(""))))
      graft.pipeline.Pipelines.clean(planted, "doc_id", "text", "source",
          size = 16, minDf = 3, loPct = 10, hiPct = 90)
        .orderBy("doc_id")
    }),
    "text_shingle_fp" -> ((s, d) =>
      // md5-derived 60-bit hashes so the DuckDB oracle reproduces the folds
      // exactly; the xxhash64 fast path is covered by PipelineSpec
      Text.shingleFingerprint(t(s, d, "documents"), "text", hash = "md5")
        .select("doc_id", "fp_min", "fp_max", "fp_xor")
        .orderBy("doc_id")),
    "knn_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.knnBrute(emb, q, k = 5)
        .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy("qid", "rank")
    }),
    "knn_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshKnn(emb, q, k = 5, dims = 64, numPlanes = 8)
        .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy("qid", "rank")
    }),
    "knn_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val assigned = Similarity.ivfAssign(emb, cents)
      Similarity.ivfKnn(assigned, cents, q, k = 5, nprobe = 3)
        .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy("qid", "rank")
    }),
    "embed_cluster_stats" -> ((s, d) => {
      // corpus composition by cluster: every vector assigned to its
      // nearest sampled centroid, per-cell count + id range — the coverage
      // report IVF/SemDeDup capacity planning reads (cell sizes bound
      // probe and verify cost). Full value oracle: DuckDB recomputes the
      // argmax-cosine assignment from the same sampled centroids
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfAssign(emb, cents)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), min("vec_id").as("min_id"),
          max("vec_id").as("max_id"))
        .orderBy("cid")
    }),
    "embed_label_centroids" -> ((s, d) =>
      // per-label centroid sufficient statistics (decimal-exact, shuffle-
      // order independent); consumers divide sum_v/n for the mean vector
      graft.pipeline.Similarity.labelCentroidSums(
        t(s, d, "embeddings"), "label")
        .orderBy("label", "pos")),
    "embed_outliers" -> ((s, d) => {
      // embedding-quality gate: vectors whose best cosine to every
      // sampled centroid stays under 0.1 — off-manifold junk that would
      // pollute cells; full value oracle via the same argmax-cosine SQL
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.embeddingOutliers(emb, cents, threshold = 0.1)
        .select(col("vec_id"), col("cid"), round(col("cos"), 6).as("cos"))
        .orderBy("vec_id")
    }),
    "knn_ivf_stored" -> ((s, d) => {
      // knn_ivf probed AT REST: the assignment is persisted with cid as the
      // storage partition key and the probe prunes the scan to the probed
      // cell directories (PlanAuditSpec asserts the PartitionFilters) —
      // same result as knn_ivf, so it shares that value oracle
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // one index write per (process, dataset): the per-process UUID keeps
      // concurrent driver/verify processes off each other's cell dirs, the
      // cache keeps repeat invocations (bench iterations) probing the same
      // already-written index instead of leaking a corpus copy per call
      val path = ivfStorePaths.computeIfAbsent(d, dir => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-ivf-$processId-${dirTag(dir)}").getPath
        Similarity.writeIvf(Similarity.ivfAssign(emb, cents), p)
        p
      })
      Similarity.ivfKnnStored(s, path, cents, q, k = 5, nprobe = 3)
        .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy("qid", "rank")
    }),
    "stream_ivf_ingest" -> ((s, d) => {
      // index freshness: the corpus's first 400 vectors are written at rest,
      // the remainder arrive THROUGH THE STREAM (per-batch assign + cell-dir
      // append), and the stored probe over the merged index must equal the
      // batch knn_ivf over the full corpus — so it shares that value oracle
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val path = streamIvfPaths.computeIfAbsent(d, dir => {
        val base = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-sivf-$processId-${dirTag(dir)}")
        // a retry after a failed first attempt must start from scratch:
        // the base rewrite below wipes appended cell files, so a SURVIVING
        // stream checkpoint would mark those batches committed and the
        // re-run would silently ingest nothing
        if (base.exists())
          org.apache.commons.io.FileUtils.deleteDirectory(base)
        val p = new java.io.File(base, "idx").getPath
        Similarity.writeIvf(
          Similarity.ivfAssign(emb.filter(col("vec_id") < 400), cents), p)
        val schema = emb.schema
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .filter(col("vec_id") >= 400)
        val qy = graft.streaming.StreamIngest.ivfIngest(src, cents, p,
          new java.io.File(base, "ck").getPath)
        if (!qy.awaitTermination(300000)) {
          qy.stop()
          throw new IllegalStateException("ivf ingest stream did not finish")
        }
        // fold the per-batch cell files back to one per cell — the probe
        // below runs over the COMPACTED tree, gating the whole lifecycle
        // (write → stream-append → compact → probe) on the value oracle
        Similarity.compactIvf(s, p)
        p
      })
      Similarity.ivfKnnStored(s, path, cents, q, k = 5, nprobe = 3)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("qid", "rank")
    }),
    // ---- recall gates: approximation quality as oracle-checkable facts ----
    // The approximate paths (LSH/IVF/embedding-LSH) cannot have SQL oracles —
    // their outputs depend on JVM-side hashing. What CAN be checked is the
    // property that makes them correct: recall against the exact path on
    // data with genuine locality. Each gate emits a single {recall_ok: 1}
    // row (deterministic: seeded fixtures, exact arithmetic) that the DuckDB
    // oracle pins to the constant 1 — if a code change degrades recall below
    // the threshold, the driver compare fails. Raw embeddings are
    // near-orthogonal (max pairwise cos ≈ 0.5 — no method can recall
    // neighbors that aren't local), so the kNN gates run on a clustered
    // fixture derived from the real vectors.
    "knn_lsh_recall" -> ((s, d) => {
      val corpus = clusteredVecs(s, d, n = 1000, nCenters = 5, noise = 0.05f)
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val brute = Similarity.knnBrute(corpus, q, k = 5).select("qid", "vec_id")
      val approx = Similarity.lshKnn(corpus, q, k = 5, dims = 64, numPlanes = 8)
        .select("qid", "vec_id")
      brute.join(approx, Seq("qid", "vec_id"), "left_semi")
        .agg((count(lit(1)) >= lit(45L)).cast("long").as("recall_ok")) // 45/50 = 0.9
    }),
    "text_heavy_hitters" -> ((s, d) => {
      // Misra-Gries gate: never overestimates, misses nothing above N/m,
      // and every estimate is within N/m of truth — checked against exact
      // counts entirely in-plan (the N aggregate broadcasts as one row)
      val m = 64
      val exact = t(s, d, "documents")
        .select(explode(graft.pipeline.Text.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val hh = graft.pipeline.Text.heavyHitters(
        t(s, d, "documents"), "text", m)
      val tot = exact.agg(sum("cnt").as("N"))
      val viol =
        (col("cnt") * m > col("N") && col("est").isNull) ||
          (col("est").isNotNull &&
            (col("est") > col("cnt") ||
              col("est") * m < col("cnt") * m - col("N")))
      exact.join(hh, Seq("tok"), "left").crossJoin(broadcast(tot))
        .agg((sum(viol.cast("long")) === 0).cast("long").as("recall_ok"))
    }),
    "text_cms_counts" -> ((s, d) => {
      // count-min gate, all in-plan: point estimates never under-count
      // (hard CMS guarantee — gate at exactly zero), and over-count past
      // (e/w)·N on at most ~e^−d ≈ 1.8% of tokens (probabilistic bound;
      // gated at 5% = violators*20 <= tokens for deterministic margin)
      val dd = 4; val ww = 2048
      val ve = graft.pipeline.Text.cmsVsExact(
        t(s, d, "documents"), "text", dd, ww)
      val tot = ve.agg(sum("cnt").as("N"))
      ve.crossJoin(broadcast(tot))
        .agg((sum((col("est") < col("cnt")).cast("long")) === 0 &&
          sum((col("est") > col("cnt") +
            ceil(lit(math.E / ww) * col("N"))).cast("long")) * 20
            <= count(lit(1))).cast("long").as("cms_ok"))
    }),
    "sketch_store_rollup" -> ((s, d) => {
      // at-rest sketch store gate: write per-source sketch rows, roll up
      // HALF the sources from DISK (partition-pruned — plan-pinned in
      // PlanAuditSpec), and check against a direct pass over the selected
      // raw text: token totals match exactly, the rolled-up CMS is
      // BIT-equal to the direct sketch (merge is vector addition — the
      // property that makes stored partials trustworthy), and the HLL
      // estimate lands within 5% of exact distinct (lgK=12 ⇒ σ≈1.6%)
      val dd = 4; val ww = 2048
      val docs = t(s, d, "documents")
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_sketch_store"
      graft.pipeline.Text.writeSketchStore(
        docs, path, "text", "source", 12, dd, ww)
      val half = (0 until 10).map(i => s"src$i")
      val roll = graft.pipeline.Text.sketchRollup(s, path, half)
      val sub = docs.filter(col("source").isin(half: _*))
      val truth = sub
        .select(explode(graft.pipeline.Text.tokens(col("text"))).as("tok"))
        .agg(count(lit(1)).as("n_exact"),
          count_distinct(col("tok")).as("d_exact"))
      val direct = graft.pipeline.Text.countMinSketch(sub, "text", dd, ww)
        .withColumnRenamed("sk", "cms_direct")
      roll.crossJoin(broadcast(truth)).crossJoin(broadcast(direct))
        .select((col("n_tokens") === col("n_exact") &&
          col("cms") === col("cms_direct") &&
          abs(col("distinct_est") - col("d_exact")) * 20 <= col("d_exact"))
          .cast("long").as("store_ok"))
    }),
    "knn_pq_recall" -> ((s, d) => {
      // product quantization end-to-end: sample-trained codebooks (m=4
      // subspaces × k=256 centroids — the standard full-byte codebook,
      // offset-encoded into signed tinyints), 4 code bytes + a float
      // (64× smaller than the 64-dim float vectors), ADC table scoring.
      // Gate is CLUSTER recall: quantization error exceeds intra-cluster
      // distances by design (all of a tight cluster's members share
      // codes), so exact-neighbor identity is not PQ's contract —
      // returning members of the right cluster is
      val corpus = clusteredVecs(s, d, n = 1000, nCenters = 5, noise = 0.05f)
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val books = Similarity.pqTrain(corpus, m = 4, k = 256)
      val enc = Similarity.pqEncode(corpus, books)
      val viaPq = Similarity.pqKnn(enc, books, q, k = 5).select("qid", "vec_id")
      viaPq
        .agg((sum(when(pmod(col("vec_id"), lit(5L)) ===
          pmod(col("qid"), lit(5L)), 1L).otherwise(0L)) >= lit(45L))
          .cast("long").as("recall_ok")) // >= 45/50 in-cluster
    }),
    "knn_ivfpq_recall" -> ((s, d) => {
      // IVF-PQ composition: kmeans cells prune to nprobe=2 of 5, PQ codes
      // score the survivors via ADC — the FAISS-standard shape; gated on
      // cluster recall like knn_pq_recall
      val corpus = clusteredVecs(s, d, n = 1000, nCenters = 5, noise = 0.05f)
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = Similarity.kmeans(corpus, k = 5)
      val assigned = Similarity.ivfAssign(corpus, cents)
        .select("vec_id", "cid")
      val books = Similarity.pqTrain(corpus, m = 4, k = 256)
      val enc = Similarity.pqEncode(corpus, books).join(assigned, "vec_id")
      val top = Similarity.ivfPqKnn(enc, cents, books, q, k = 5)
        .select("qid", "vec_id")
      top.agg((sum(when(pmod(col("vec_id"), lit(5L)) ===
        pmod(col("qid"), lit(5L)), 1L).otherwise(0L)) >= lit(45L))
        .cast("long").as("recall_ok"))
    }),
    "knn_ivfpq_stored" -> ((s, d) => {
      // IVF-PQ at rest: encoded corpus partitioned by cid on disk, probe
      // prunes to the probed cell dirs (PlanAuditSpec asserts the
      // PartitionFilters) and ADC-ranks rows that carry 4 code bytes
      // instead of 64 floats; cluster-recall gated like knn_ivfpq_recall
      val corpus = clusteredVecs(s, d, n = 1000, nCenters = 5, noise = 0.05f)
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // vec_ids 0..4 are one member per true cluster — deterministic
      // centroids, so a cached on-disk index from an earlier invocation
      // always matches this invocation's probe cells (kmeans float means
      // could drift between runs)
      val cents = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val books = Similarity.pqTrain(corpus, m = 4, k = 256)
      val path = ivfStorePaths.computeIfAbsent(d + "#pq", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-ivfpq-$processId-${dirTag(d)}").getPath
        val assigned = Similarity.ivfAssign(corpus, cents)
          .select("vec_id", "cid")
        Similarity.writeIvf(
          Similarity.pqEncode(corpus, books).join(assigned, "vec_id"), p)
        p
      })
      val top = Similarity.ivfPqKnnStored(s, path, cents, books, q, k = 5)
        .select("qid", "vec_id")
      top.agg((sum(when(pmod(col("vec_id"), lit(5L)) ===
        pmod(col("qid"), lit(5L)), 1L).otherwise(0L)) >= lit(45L))
        .cast("long").as("recall_ok"))
    }),
    "knn_quantized_recall" -> ((s, d) => {
      // the int8-quantized corpus (4× smaller at rest) must still recover
      // the float corpus's neighbors — scored on the REAL fast path: the
      // stored bytes rank directly through the integer codegen cosine
      // (no dequantize), queries quantized on the fly
      val corpus = clusteredVecs(s, d, n = 1000, nCenters = 5, noise = 0.05f)
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val brute = Similarity.knnBrute(corpus, q, k = 5).select("qid", "vec_id")
      val qCorpus = corpus.select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("qs"))
        .select(col("vec_id"), col("qs.q").as("q"))
      val viaQuant = Similarity.knnBruteQuantized(qCorpus, q, k = 5)
        .select("qid", "vec_id")
      brute.join(viaQuant, Seq("qid", "vec_id"), "left_semi")
        .agg((count(lit(1)) >= lit(45L)).cast("long").as("recall_ok"))
    }),
    "knn_ivf_recall" -> ((s, d) => {
      val corpus = clusteredVecs(s, d, n = 1000, nCenters = 5, noise = 0.05f)
      val cents = t(s, d, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val brute = Similarity.knnBrute(corpus, q, k = 5).select("qid", "vec_id")
      val assigned = Similarity.ivfAssign(corpus, cents)
      val ivf = Similarity.ivfKnn(assigned, cents, q, k = 5, nprobe = 2)
        .select("qid", "vec_id")
      brute.join(ivf, Seq("qid", "vec_id"), "left_semi")
        .agg((count(lit(1)) >= lit(45L)).cast("long").as("recall_ok"))
    }),
    "knn_ivf_trained" -> ((s, d) => {
      // the TRAINED index: centroids come from distributed k-means over the
      // corpus itself (knn_ivf_recall seeds cells from arbitrary sample
      // vectors) — proves the Lloyd loop converges to cell representatives
      // good enough that a 2-of-5-cell probe still recovers >= 90% of the
      // exact neighbors. Deterministic end to end: seeded fixture, ordered
      // init, exact float means
      val corpus = clusteredVecs(s, d, n = 1000, nCenters = 5, noise = 0.05f)
      val cents = Similarity.kmeans(corpus, k = 5, iters = 3)
      val q = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val brute = Similarity.knnBrute(corpus, q, k = 5).select("qid", "vec_id")
      val assigned = Similarity.ivfAssign(corpus, cents)
      val ivf = Similarity.ivfKnn(assigned, cents, q, k = 5, nprobe = 2)
        .select("qid", "vec_id")
      brute.join(ivf, Seq("qid", "vec_id"), "left_semi")
        .agg((count(lit(1)) >= lit(45L)).cast("long").as("recall_ok"))
    }),
    "dedup_embedding_lsh_recall" -> ((s, d) => {
      // plant near-duplicates: each vector re-emitted with ±1% per-component
      // scaling (cos ≈ 0.9999) — the LSH tier must find >= 90% of the exact
      // path's >= 0.9-cosine pairs
      val base = t(s, d, "embeddings").filter(col("vec_id") < 500)
        .select("vec_id", "embedding")
      val pert = udf((v: Seq[Float], id: Long) => {
        val out = new Array[Float](v.length)
        var i = 0
        while (i < v.length) {
          val h = scala.util.hashing.MurmurHash3.productHash((id, i, 777))
          out(i) = v(i) *
            (1.0f + 0.02f * ((h & 0xffffff).toFloat / 0x1000000.toFloat - 0.5f))
          i += 1
        }
        out
      })
      val dups = base.select((col("vec_id") + 100000L).as("vec_id"),
        pert(col("embedding"), col("vec_id")).as("embedding"))
      val both = base.unionByName(dups)
      val exactP = Dedup.embeddingNearDups(both, "vec_id", "embedding",
        threshold = 0.9, dims = 64, exact = true).select("id1", "id2")
      val lshP = Dedup.embeddingNearDups(both, "vec_id", "embedding",
        threshold = 0.9, dims = 64, exact = false, numPlanes = 8)
        .select("id1", "id2")
      exactP.join(lshP, Seq("id1", "id2"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exactP.agg(count(lit(1)).as("total")))
        .select((col("hits") >= col("total") * 0.9).cast("long").as("recall_ok"))
    }),
    "semdedup_recall" -> ((s, d) => {
      // SemDeDup tier: kmeans cells as the candidate buckets. Planted ±1%
      // twins (cos ≈ 0.9999) must be recovered through TRAINED cells —
      // >= 90% of the exact >= 0.99-cosine pairs (the pair stage verifies
      // cosine exactly, so precision is 1 by construction; only a twin
      // straddling a cell boundary can be missed)
      val base = t(s, d, "embeddings").filter(col("vec_id") < 500)
        .select("vec_id", "embedding")
      val pert = udf((v: Seq[Float], id: Long) => {
        val out = new Array[Float](v.length)
        var i = 0
        while (i < v.length) {
          val h = scala.util.hashing.MurmurHash3.productHash((id, i, 777))
          out(i) = v(i) *
            (1.0f + 0.02f * ((h & 0xffffff).toFloat / 0x1000000.toFloat - 0.5f))
          i += 1
        }
        out
      })
      val dups = base.select((col("vec_id") + 100000L).as("vec_id"),
        pert(col("embedding"), col("vec_id")).as("embedding"))
      val both = base.unionByName(dups)
      val exactP = Dedup.embeddingNearDups(both, "vec_id", "embedding",
        threshold = 0.99, dims = 64, exact = true).select("id1", "id2")
      val semP = Similarity.semDedupPairs(both, k = 8, iters = 2, tau = 0.99)
        .select("id1", "id2")
      exactP.join(semP, Seq("id1", "id2"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exactP.agg(count(lit(1)).as("total")))
        .select((col("hits") >= col("total") * 0.9).cast("long").as("recall_ok"))
    }),
    "dedup_minhash_lsh_recall" -> ((s, d) => {
      // MinHash-LSH + verify vs the exact inverted-index path on the real
      // documents table — candidate generation must surface >= 90% of true
      // >= 0.3-Jaccard pairs (the verify stage is exact, so misses can only
      // come from banding)
      val docs = t(s, d, "documents")
      val exactP = Dedup.jaccardPairs(docs, "doc_id", "text",
        threshold = 0.3, shingleSize = 3).select("id1", "id2")
      val lshP = Dedup.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.3, bands = 16, rowsPerBand = 4, shingleSize = 3)
        .select("id1", "id2")
      exactP.join(lshP, Seq("id1", "id2"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exactP.agg(count(lit(1)).as("total")))
        .select((col("hits") >= col("total") * 0.9).cast("long").as("recall_ok"))
    }),
    "dedup_minhash_lsh_match" -> ((s, d) => {
      // the xxhash64 fast path and its md5 oracle twin share every step but
      // the base hash; the verify stage is exact, so both emit exactly the
      // candidate pairs with true jaccard >= threshold that their banding
      // surfaced. This gate pins the fast path to the (hash-proven) md5
      // result SET in both directions — the driver-green proof that the
      // fast path's banding loses nothing and invents nothing
      val docs = t(s, d, "documents")
      val fast = Dedup.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.3, bands = 16, rowsPerBand = 4, shingleSize = 3)
        .select("id1", "id2")
      val md5p = Dedup.jaccardVerify(docs,
        Dedup.minhashCandidatesMd5(docs, "doc_id", "text",
          bands = 16, rowsPerBand = 4, shingleSize = 3),
        "doc_id", "text", shingleSize = 3)
        .filter(col("jaccard") >= 0.3).select("id1", "id2")
      fast.join(md5p, Seq("id1", "id2"), "left_anti")
        .agg(count(lit(1)).as("fast_only"))
        .crossJoin(md5p.join(fast, Seq("id1", "id2"), "left_anti")
          .agg(count(lit(1)).as("md5_only")))
        .select(((col("fast_only") === 0) && (col("md5_only") === 0))
          .cast("long").as("match_ok"))
    }),
    "embed_quantize" -> ((s, d) => {
      // per-vector symmetric int8 quantization — exact arithmetic (floor,
      // raw max_abs), so DuckDB reproduces every byte
      val emb = t(s, d, "embeddings")
      emb.select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("qs"))
        // serialize the int8 array to a CSV string: the driver's pandas
        // compare cannot sort raw array columns, and byte-joined string
        // equality is equivalent to array equality
        .select(col("vec_id"),
          concat_ws(",", col("qs.q").cast("array<string>")).as("q"),
          col("qs.max_abs").as("max_abs"))
        .orderBy("vec_id")
    }),
    "knn_quantized" -> ((s, d) => {
      // top-5 over the int8-quantized corpus via integer codegen cosine —
      // VALUE-oracled, not just recall-gated: quantization is exact floor
      // arithmetic and the integer dot products (≤ 64×127² per vector,
      // far under 2^53) are bit-reproducible in DuckDB doubles, so the
      // whole ANN scoring path hash-matches SQL
      val emb = t(s, d, "embeddings")
      val corpusQ = emb.select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("qs"))
        .select(col("vec_id"), col("qs.q").as("q"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.knnBruteQuantized(corpusQ, q, k = 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("qid", "rank")
    }),
    "stream_dedup" -> ((s, d) => {
      // streaming exact dedup driven to completion (AvailableNow):
      // dropDuplicatesWithinWatermark keeps an ARBITRARY representative
      // row per fingerprint, so only the deterministic fingerprint set is
      // emitted and compared — it must equal the batch distinct set
      val schema = t(s, d, "documents").schema
      // +1 day: doc_id 0 would land exactly on the initial watermark
      // (epoch 0) and be discarded as late before any state exists
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .withColumn("__ns", ((col("doc_id") + 86400L) * 1000000000L).cast("long"))
      val deduped = graft.streaming.StreamIngest.streamingDedup(
        src, "text", "__ns", "1 hour")
      runStreamToTable(s, deduped.select("fp"), "stream_dedup_out")
        .select("fp").orderBy("fp")
    }),
    "stream_funnel" -> ((s, d) => {
      // live funnel tracking: same greedy stage matching as ts_funnel,
      // per-key state = stage progress; a drained stream emits exactly
      // the batch completion set (shared oracle)
      val src = tsUs(eventStream(s, d))
      val done = graft.streaming.StreamIngest.streamingFunnel(
        src, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), 7L * 86400 * 1000000000L)
      runStreamToTable(s, done, "stream_funnel_out")
        .select(col("user_id"), col("ts_list")(0).as("t1"),
          col("ts_list")(1).as("t2"), col("ts_list")(2).as("t3"))
        .orderBy("user_id")
    }),
    "stream_zscore" -> ((s, d) => {
      // streaming alerting: the exact integer z-test over per-user
      // trailing windows, state = one bounded deque per user; a drained
      // single batch flags exactly the batch set (shared oracle)
      val src = tsUs(eventStream(s, d))
        .select("event_id", "ts", "user_id", "value")
      val flagged = graft.streaming.StreamIngest.streamingZscoreAnomalies(
        src, 7L * 86400 * 1000000000L, k = 2, minN = 10)
      runStreamToTable(s, flagged, "stream_zscore_out")
        .select("event_id", "ts", "user_id", "value", "roll_n", "lhs", "rhs")
        .orderBy("event_id")
    }),
    "stream_seasonal" -> ((s, d) => {
      // train-batch/score-stream: the 168-cell profile built from history
      // broadcasts into a STATELESS stream filter; profile == streamed
      // data here, so the drained flag set equals the batch op (shared
      // oracle)
      val profile = TsOps.seasonalProfile(t(s, d, "events"), "value")
      val src = eventStream(s, d)
      val flagged = graft.streaming.StreamIngest
        .streamingSeasonalAnomalies(src, profile)
      runStreamToTable(s, flagged, "stream_seasonal_out")
        .select("event_id", "ts", "dow", "hour", "cell_n", "value")
        .orderBy("event_id")
    }),
    "stream_bm25" -> ((s, d) => {
      // live retrieval: queries stream against the batch-built index with
      // ZERO streaming state (stream-static joins only); the per-query
      // top-k rolls up on the drained sink and equals the batch ranker
      // (shared oracle)
      import s.implicits._
      val qdir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-bm25q-${processId}_${dirTag(d)}").getPath
      val qdf = Seq((1L, "fast vector scan"), (2L, "stream window agg"),
        (3L, "customer join query")).toDF("query_id", "qtext")
      qdf.write.mode("overwrite").parquet(qdir)
      val src = s.readStream.schema(qdf.schema).parquet(qdir)
      val idx = graft.pipeline.Retrieval.buildIndex(t(s, d, "documents"))
      val scored = graft.pipeline.Retrieval.streamingBm25(src, idx)
      val sink = runStreamToTable(s, scored, "stream_bm25_out")
      idx.release()
      val agg = sink.groupBy("query_id", "doc_id")
        .agg(sum("term_score").as("score"), count(lit(1)).as("n_terms"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id").asc)
      agg.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select("query_id", "doc_id", "score", "n_terms", "rank")
        .orderBy("query_id", "rank")
    }),
    "stream_counter_increase" -> ((s, d) => {
      // live counter monitoring: one long of state per user (the last
      // sample's cents); per-sample delta partials roll up on the drained
      // sink to the batch per-day increase/reset counts (shared oracle).
      // Trigger.Once: exact equality needs each user's rows in ONE batch
      // (deltas fold in arrival order across batches)
      val src = eventStream(s, d)
      val part = graft.streaming.StreamIngest.streamingCounterIncrease(
        src, 86400L * 1000000000L)
      runStreamToTable(s, part, "stream_counter_out", singleBatch = true)
        .groupBy("user_id", "bucket")
        .agg(count(lit(1)).as("n_deltas"), sum("inc_cents").as("inc_cents"),
          sum("reset").as("n_resets"))
        .orderBy("user_id", "bucket")
    }),
    "stream_ewma" -> ((s, d) => {
      // live smoothing: one scaled long of state per user, the identical
      // floor-division recurrence as the batch fold (shared oracle via
      // the ts_ewma recursive CTE)
      val src = eventStream(s, d)
      val sm = graft.streaming.StreamIngest.streamingEwma(src)
      // Trigger.Once: the oracle equality needs every row of a user in ONE
      // batch (the recurrence folds in arrival order across batches)
      runStreamToTable(s, sm, "stream_ewma_out", singleBatch = true)
        .select("user_id", "ts", "event_id", "cents", "ewma_num",
          "ewma_cents")
        .orderBy("user_id", "ts", "event_id")
    }),
    "stream_holt" -> ((s, d) => {
      // live level+trend forecast feed: two longs per user, identical
      // recurrence to the batch fold (shared recursive-CTE oracle)
      val src = eventStream(s, d)
      val ho = graft.streaming.StreamIngest.streamingHolt(src)
      runStreamToTable(s, ho, "stream_holt_out", singleBatch = true)
        .select("user_id", "ts", "event_id", "cents", "level_num",
          "trend_num", "fc1_cents")
        .orderBy("user_id", "ts", "event_id")
    }),
    "stream_cusum" -> ((s, d) => {
      // live drift alarms: two longs of state per user, alarm resets —
      // a drained single batch equals the batch page test (shared oracle)
      val src = eventStream(s, d)
      val cu = graft.streaming.StreamIngest.streamingCusum(src,
        targetCents = 5000L, slackCents = 500L, thresholdCents = 20000L)
      runStreamToTable(s, cu, "stream_cusum_out", singleBatch = true)
        .select("user_id", "ts", "event_id", "cents", "s_pos", "s_neg",
          "alarm")
        .orderBy("user_id", "ts", "event_id")
    }),
    "stream_embed_outliers" -> ((s, d) => {
      // stateless ingest-side twin of embed_outliers: broadcast-centroid
      // argmax in one UDF, same cosine arithmetic — a drained stream
      // emits exactly the batch outlier set, so it shares that oracle
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val schema = emb.schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(d)
      val flagged = graft.streaming.StreamIngest.streamingEmbedOutliers(
        src, cents, threshold = 0.1)
      runStreamToTable(s, flagged, "stream_embed_outliers_out")
        .select(col("vec_id"), col("cid"), round(col("cos"), 6).as("cos"))
        .orderBy("vec_id")
    }),
    "stream_bloom_admit" -> ((s, d) => {
      // ingest admission gate: stream the corpus against the reference
      // third; admitted = docs whose fingerprint is NOT in the reference
      // (exact — bloom false positives are re-admitted by the anti-join)
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val admitted = graft.streaming.StreamIngest.streamingBloomAdmit(
        src, t(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(3L)) === 0),
        "doc_id", "text")
      runStreamToTable(s, admitted, "stream_bloom_admit_out")
        .select("doc_id", "fp").orderBy("doc_id")
    }),
    "stream_tolerance_join" -> ((s, d) => {
      // live temporal correlation: errors STREAM in and probe the static
      // click table through the same bucket-rewritten toleranceJoin — the
      // ±1-bucket explode keeps it a stateless stream-static equi-join
      // (the raw theta predicate would be unsupported in streaming), so
      // drained pairs equal the batch twin exactly (shared oracle)
      val clicks = t(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val errs = eventStream(s, d)
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val joined = TsOps.toleranceJoin(errs, clicks, 3600L * 1000000000L,
          Seq("user_id"))
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts").as("err_ts"), col("r_event_id").as("clk_id"),
          col("r_ts").as("clk_ts"),
          (col("r_ts") - col("ts")).as("delta_ns"))
      runStreamToTable(s, joined, "stream_tolerance_join_out")
        .orderBy("user_id", "err_id", "clk_id")
    }),
    "stream_interval_join" -> ((s, d) => {
      // live purchase-to-session attribution: the SAME intervalJoin code
      // runs with a streaming points side — binning keeps it a stateless
      // stream-static equi-join (a streaming theta-join would be
      // unsupported); the rollup is a complete-mode agg. A drained
      // stream equals the batch ts_interval_join (shared oracle)
      val ev = tsUs(t(s, d, "events"))
      val sessions = TsOps.sessionize(ev.select("user_id", "ts"),
          3600L * 1000000000L, Seq("user_id"))
        .groupBy("user_id", "session_idx")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"))
      val src = tsUs(eventStream(s, d))
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val joined = TsOps.intervalJoin(src, sessions, Seq("user_id"),
          "session_start", "session_end", binNanos = 3600L * 1000000000L)
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("purchase_value"))
      runStreamToTable(s, joined, "stream_interval_join_out",
        mode = "complete")
        .orderBy("user_id", "session_idx")
    }),
    "stream_histogram" -> ((s, d) => {
      // live SLO quantiles: complete-mode cumulative-bucket counts —
      // state is the |keys|·(|bounds|+1) counter matrix itself; the
      // drained counts run the identical exact-integer interpolation
      // finisher, so the twin shares the batch oracle
      val bounds = Seq(500L, 1000L, 2500L, 5000L, 10000L, 25000L)
      val counts = TsOps.histogramBuckets(eventStream(s, d),
        Seq("event_type"), bounds)
      val drained = runStreamToTable(s, counts, "stream_histogram_out",
        mode = "complete")
      TsOps.histogramQuantileFromCounts(drained, Seq("event_type"), bounds,
          qNum = 90L, qDen = 100L)
        .orderBy("event_type")
    }),
    "stream_heatmap" -> ((s, d) => {
      // live dow×hour activity matrix: complete-mode agg whose state is
      // at most 168 counters — the cheapest possible live dashboard
      val src = tsUs(eventStream(s, d))
      val agg = TsOps.heatmap(src)
      runStreamToTable(s, agg, "stream_heatmap_out", mode = "complete")
        .orderBy("dow", "hour")
    }),
    "stream_retention" -> ((s, d) => {
      // live cohort retention: the user-day ledger emits each (user, day)
      // once with its cohort tag; the rollup on the drained sink equals
      // the batch retention matrix (shared oracle)
      val src = tsUs(eventStream(s, d))
      val ledger = graft.streaming.StreamIngest.streamingUserDays(
        src, "user_id", "ts", dayNanos = 86400L * 1000000000L)
      runStreamToTable(s, ledger, "stream_retention_out",
        singleBatch = true)
        .groupBy("cohort_day", "day_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),
    "stream_active_users" -> ((s, d) => {
      // live DAU/WAU off the same drained user-day ledger (the batch
      // explode-and-count shape applied to the sink; shared oracle)
      val src = tsUs(eventStream(s, d))
      val ledger = graft.streaming.StreamIngest.streamingUserDays(
        src, "user_id", "ts", dayNanos = 86400L * 1000000000L)
      val tbl = runStreamToTable(s, ledger, "stream_active_users_out",
        singleBatch = true)
      // the BATCH operator runs on the drained ledger (day is already a
      // day index, so dayNanos = 1), keeping the twins one code path
      TsOps.activeUsers(tbl, "user_id", dayNanos = 1L, tsCol = "day")
        .orderBy("day")
    }),
    "stream_transitions" -> ((s, d) => {
      // live transition feed: pair rows stream out append-mode; the
      // count rollup runs on the drained sink table, which then equals
      // the batch transition matrix (shared oracle)
      val src = tsUs(eventStream(s, d))
      val pairs = graft.streaming.StreamIngest.streamingTransitions(
        src, "user_id", "ts", "event_id", "event_type")
      runStreamToTable(s, pairs, "stream_transitions_out")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),
    "stream_pivot_types" -> ((s, d) => {
      // live day × type matrix: streaming frames can't pivot(), but the
      // explicit-list pivot IS conditional sums — which stream fine as a
      // complete-mode agg; state = one row per day (bounded by calendar)
      val day = 86400L * 1000000000L
      val src = eventStream(s, d)
      def cnt(tpe: String) = sum(when(col("event_type") === tpe, 1L)
        .otherwise(0L))
      val agg = src.groupBy(expr(TsOps.floorDivSql("ts", day)).as("day"))
        .agg(cnt("view").as("n_view"), cnt("click").as("n_click"),
          cnt("purchase").as("n_purchase"), cnt("signup").as("n_signup"))
      runStreamToTable(s, agg, "stream_pivot_types_out", mode = "complete")
        .orderBy("day")
    }),
    "stream_window_cooccur" -> ((s, d) => {
      // live skip-gram counts: the batch vocabulary rides a broadcast
      // into the same pairing UDF; state = complete-mode pair counts
      // (≤ K²/2)
      val docs = t(s, d, "documents")
      val vocab = s.sparkContext.broadcast(
        Text.occurrenceVocab(docs, "text", topK = 100))
      val src = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val pairs = src
        .select(explode(Text.windowPairsUdf(vocab, window = 2)(
          col("text"))).as("__p"))
        .select(col("__p._1").as("tok_a"), col("__p._2").as("tok_b"))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n"))
      runStreamToTable(s, pairs, "stream_window_cooccur_out",
        mode = "complete")
        .orderBy("tok_a", "tok_b")
    }),
    "stream_cooccur" -> ((s, d) => {
      // live co-occurrence counts against a FIXED vocabulary (the batch
      // top-100, embedded as a literal like the eval-shingle probes):
      // per-doc pair expansion is stateless — the array_intersect
      // replaces the batch's vocab join — and the only state is the
      // complete-mode pair-count map, bounded by K²/2 regardless of
      // stream length. A drained stream equals the batch matrix
      val docs = t(s, d, "documents")
      // the SAME vocab helper the batch op uses — the shared-oracle
      // equivalence cannot drift at a rank-100 tie
      val vocab: Array[String] = Text.docFrequencyVocab(docs, "text", 100)
        .collect().map(_.getString(0))
      val schema = docs.schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val pairs = src
        .select(sort_array(array_intersect(Text.tokenSet(col("text")),
          typedLit(vocab.toSeq))).as("__toks"))
        .select(explode(Text.tokenPairsUdf(col("__toks"))).as("__p"))
        .select(col("__p._1").as("tok_a"), col("__p._2").as("tok_b"))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_docs"))
      runStreamToTable(s, pairs, "stream_cooccur_out", mode = "complete")
        .orderBy("tok_a", "tok_b")
    }),
    "stream_top_tokens" -> ((s, d) => {
      // live token leaderboard: complete-mode running counts + top-50;
      // a drained stream's final emission is the batch counts exactly,
      // so it shares text_top_tokens' oracle
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val top = graft.streaming.StreamIngest.streamingTopTokens(
        src, "text", topK = 50)
      runStreamToTable(s, top, "stream_top_tokens_out", mode = "complete")
        .orderBy(col("n").desc, col("tok").asc)
    }),
    "stream_rollup_stddev" -> ((s, d) => {
      // the VARIANCE dimension maintained by the stream: each micro-batch
      // appends (n, sum, sumsq) partials under replay-stable keys, and
      // the daily fold over the streamed store equals the direct pass —
      // sums of squares are the same associative merge as everything else
      val day = 86400L * 1000000000L
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-rlsv-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "store").getPath
      val qy = graft.streaming.StreamIngest.rollupIngest(eventStream(s, d),
        p, new java.io.File(base, "ck").getPath, bucketNanos = BucketH,
        withVariance = true)
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_rollup_stddev: ingest did not finish")
      }
      graft.storage.RollupStore.rollup(s, p, day)
        .select(col("bucket_ts"), col("n"),
          (col("sumsq_c") * col("n") - col("sum_c") * col("sum_c"))
            .cast("double").as("var_num"))
        .orderBy("bucket_ts")
    }),
    "stream_rollup_store" -> ((s, d) => {
      // continuous aggregate maintained BY the stream: micro-batches
      // append per-bucket partials under replay-stable keys; the daily
      // rollup over accumulated partials must equal the raw-table oracle
      // (decimal sums / min / max / counts are associative and
      // order-free), so this twin shares rollup_store_daily's oracle
      val day = 86400L * 1000000000L
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-rlst-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "store").getPath
      val qy = graft.streaming.StreamIngest.rollupIngest(eventStream(s, d),
        p, new java.io.File(base, "ck").getPath, bucketNanos = BucketH)
      if (!qy.awaitTermination(300000)) {
        // fail loudly: rolling up a partially-ingested store would hand
        // an incomplete result to the oracle compare (runStreamToTable's
        // contract)
        qy.stop()
        throw new IllegalStateException(
          "stream_rollup_store: ingest did not finish")
      }
      graft.storage.RollupStore.rollup(s, p, day)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "stream_rollup_keyed" -> ((s, d) => {
      // the stream-maintained KEYED store: each micro-batch appends one
      // partial row per (event_type, bucket) under its replay-stable
      // key, and the per-series daily rollup equals the grouped
      // raw-table oracle — the keyed twin of stream_rollup_store
      val day = 86400L * 1000000000L
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-rlkst-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "store").getPath
      val qy = graft.streaming.StreamIngest.rollupIngest(eventStream(s, d),
        p, new java.io.File(base, "ck").getPath, bucketNanos = BucketH,
        keyCols = Seq("event_type"))
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_rollup_keyed: ingest did not finish")
      }
      graft.storage.RollupStore.rollup(s, p, day)
        .select(col("event_type"), col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("event_type", "bucket_ts")
    }),
    "stream_rollup_cascade" -> ((s, d) => {
      // the stream-maintained store COMPOSED with store→store tiering:
      // micro-batches keep a 1h mirror store (replay-keyed appends, no
      // tier horizon), old buckets age into a daily store, and the
      // raw-less stitched read still equals the raw-table oracle — the
      // mirror serves [horizon, ∞), the daily tier everything below
      val day = 86400L * 1000000000L
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-rlcas-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val stH = new java.io.File(base, "st-1h").getPath
      val stD = new java.io.File(base, "st-1d").getPath
      val qy = graft.streaming.StreamIngest.rollupIngest(eventStream(s, d),
        stH, new java.io.File(base, "ck").getPath, bucketNanos = BucketH)
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_rollup_cascade: ingest did not finish")
      }
      graft.storage.RollupStore.tierOffStore(s, stH, stD,
        cutoff = ns("2024-01-10"), coarseBucketNanos = day)
      graft.storage.RollupStore.storeCascadeRollup(s, Seq(stH, stD), day)
        .select(col("bucket_ts"), col("n"),
          col("min_c").cast("double").as("min_v"),
          col("max_c").cast("double").as("max_v"),
          col("sum_c").cast("double").as("sum_v"))
        .orderBy("bucket_ts")
    }),
    "stream_sketch_store" -> ((s, d) => {
      // incremental sketch store: documents arrive THROUGH the stream and
      // each micro-batch appends per-source sketch partials; a rollup
      // over the accumulated partials must equal the one-pass batch
      // store's answers — CMS bit-equal (vector addition is order-free),
      // token totals exact, HLL estimate equal (register-max union is
      // order-free over the same hash set)
      val docs = t(s, d, "documents")
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-sksk-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "store").getPath
      val src = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val qy = graft.streaming.StreamIngest.sketchIngest(src, p,
        new java.io.File(base, "ck").getPath)
      if (!qy.awaitTermination(300000)) {
        qy.stop() // then fail loudly — a partial store must not reach
        throw new IllegalStateException( // the oracle compare
          "stream_sketch_store: ingest did not finish")
      }
      val half = (0 until 10).map(i => s"src$i")
      val bp = new java.io.File(base, "batch").getPath
      graft.pipeline.Text.writeSketchStore(docs, bp)
      val batch = graft.pipeline.Text.sketchRollup(s, bp, half)
        .select(col("cms").as("cms_b"), col("n_tokens").as("n_b"),
          col("distinct_est").as("de_b"))
      graft.pipeline.Text.sketchRollup(s, p, half)
        .crossJoin(broadcast(batch))
        .select((col("cms") === col("cms_b") &&
          col("n_tokens") === col("n_b") &&
          col("distinct_est") === col("de_b"))
          .cast("long").as("store_ok"))
    }),
    "stream_cms" -> ((s, d) => {
      // live count-min sketch: merge is elementwise sum, so the drained
      // complete-mode state is BIT-equal to the batch sketch of the same
      // rows — compared array-wise in-plan, emitted as a one-row gate
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val sk = graft.streaming.StreamIngest.streamingCms(src, "text")
      val drained = runStreamToTable(s, sk, "stream_cms_out",
        mode = "complete")
      val batch = graft.pipeline.Text.countMinSketch(
        t(s, d, "documents"), "text").withColumnRenamed("sk", "sk_b")
      drained.crossJoin(broadcast(batch))
        .select((col("sk") === col("sk_b")).cast("long").as("cms_ok"))
    }),
    "stream_neardup" -> ((s, d) => {
      // incremental-ingest near-dup: the documents table streamed against
      // ITSELF as the static reference index — LSH band-key probe
      // (stream-static join) + capped-vocabulary exact verify. Streaming
      // the same corpus the index holds makes the emitted pair set equal
      // the batch md5 near-dup pipeline, so it shares that value oracle
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .withColumn("__ns", ((col("doc_id") + 86400L) * 1000000000L).cast("long"))
      val matches = graft.streaming.StreamIngest.streamingNearDup(
        src, t(s, d, "documents"), "doc_id", "text", "__ns", "1 hour",
        threshold = 0.3)
      runStreamToTable(s, matches, "stream_neardup_out")
        .orderBy("id1", "id2")
    }),
    "stream_contamination" -> ((s, d) => {
      // the decontamination gate on the ingest stream: train docs streamed,
      // eval shingle set static — stateless probe, so the emitted rows are
      // exactly the batch contamination result (shared oracle)
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      val evalDf = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(97L)) === 0)
      val out = graft.streaming.StreamIngest.streamingContamination(
        src, evalDf, "doc_id", "text")
      runStreamToTable(s, out, "stream_contamination_out").orderBy("doc_id")
    }),
    "stream_dup_index" -> ((s, d) => {
      // the dup-gram index MAINTAINED BY the stream: micro-batches append
      // gram-count partials under replay-stable keys, and scoring the
      // corpus against the streamed index equals the one-shot mine
      // (shares text_dup_spans' oracle) — the rollupIngest discipline on
      // the dedup tier
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-dgst-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val p = new java.io.File(base, "idx").getPath
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val qy = graft.streaming.StreamIngest.dupGramIngest(src, p,
        new java.io.File(base, "ck").getPath, "doc_id", "text", k = 8)
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_dup_index: ingest did not finish")
      }
      Text.dupSpanCoverageStored(t(s, d, "documents"), "doc_id", "text",
        Text.dupGramsFrom(s, p, k = 8), k = 8)
        .orderBy("doc_id")
    }),
    "stream_excise_spans" -> ((s, d) => {
      // ingest-side excision: each micro-batch loses its duplicated
      // spans through the SAME index-probing join the at-rest path uses
      // (no driver-collected gram closure — the set is corpus-sized at
      // scale); the drained sink equals the batch transform (shared
      // oracle, rebuilt text included)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-sexc-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val sink = new java.io.File(base, "sink").getPath
      val qy = graft.streaming.StreamIngest.streamingExciseSpans(
        src, Text.openDupGramIndex(s, dupGramIdx(s, d), k = 8), sink,
        new java.io.File(base, "ck").getPath, "doc_id", "text", k = 8)
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_excise_spans: ingest did not finish")
      }
      s.read.parquet(sink)
        .dropDuplicates("doc_id", "batch_key") // at-least-once replays
        .select("doc_id", "n_tokens", "dup_tokens", "text_clean")
        .orderBy("doc_id")
    }),
    "stream_dup_spans" -> ((s, d) => {
      // ingest-side duplicated-span coverage: each micro-batch probes
      // the AT-REST serving index with the distributed scoring join
      // (broadcast under the size gate, shuffle past it) — never a
      // driver-collected gram set, which is corpus-proportional and
      // cannot exist at 100 TB; the drained sink equals the batch
      // coverage (shared oracle)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-sdsp-$processId-${dirTag(d)}")
      if (base.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(base)
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val sink = new java.io.File(base, "sink").getPath
      val qy = graft.streaming.StreamIngest.streamingDupSpans(
        src, Text.openDupGramIndex(s, dupGramIdx(s, d), k = 8), sink,
        new java.io.File(base, "ck").getPath, "doc_id", "text", k = 8)
      if (!qy.awaitTermination(300000)) {
        qy.stop()
        throw new IllegalStateException(
          "stream_dup_spans: ingest did not finish")
      }
      s.read.parquet(sink)
        .dropDuplicates("doc_id", "batch_key") // at-least-once replays
        .select("doc_id", "n_tokens", "dup_tokens")
        .orderBy("doc_id")
    }),
    "stream_length_trim" -> ((s, d) => {
      // ingest-side adaptive length gate: band mined from the static
      // corpus, arrivals pass/drop via a stateless broadcast semi join —
      // admitted set equals the batch trim exactly (shared oracle)
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .select("doc_id", "source", "n_chars")
      val out = graft.streaming.StreamIngest.streamingLengthTrim(
        src, t(s, d, "documents").select("doc_id", "source", "n_chars"),
        "n_chars", "source", loPct = 10, hiPct = 90)
      runStreamToTable(s, out, "stream_len_trim_out")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),
    "stream_remove_boilerplate" -> ((s, d) => {
      // ingest-side boilerplate cleaning: the repeated-span fingerprints
      // mine once from the static corpus, each arriving doc cleans in
      // its own row — stateless, so the emitted rows are exactly the
      // batch removeBoilerplate result (shared oracle)
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val out = graft.streaming.StreamIngest.streamingRemoveBoilerplate(
        src, t(s, d, "documents"), "doc_id", "text")
      runStreamToTable(s, out, "stream_rm_boiler_out").orderBy("doc_id")
    }),
    "stream_mix_sample" -> ((s, d) => {
      // ingest-side budget admission: one AvailableNow pass over the
      // corpus admits exactly the batch mixSample survivor set (md5 order
      // within the batch, prefix rule over all arrivals) — shared oracle
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val admitted = graft.streaming.StreamIngest.streamingBudgetAdmit(
        src, "doc_id", "text", "lang",
        Map("en" -> 4000L, "de" -> 1000L, "es" -> 1000L, "fr" -> 800L))
      runStreamToTable(s, admitted, "stream_mix_sample_out")
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    }),
    "stream_embed_neardup" -> ((s, d) => {
      // incremental-ingest SEMANTIC dedup: the embeddings table streamed
      // against its own static RHP signature index — bucket collision is
      // symmetric, so the emitted ordered pair set equals the batch LSH
      // path and shares dedup_embedding_lsh's literal-planes value oracle
      val schema = t(s, d, "embeddings").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        .withColumn("__ns", ((col("vec_id") + 86400L) * 1000000000L).cast("long"))
      val pairs = graft.streaming.StreamIngest.streamingEmbedNearDup(
        src, t(s, d, "embeddings"), "vec_id", "embedding", "__ns", "1 hour",
        threshold = 0.4, dims = 64, numPlanes = 8)
      runStreamToTable(s, pairs, "stream_embed_neardup_out")
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2")
    }),
    "stream_quality_score" -> ((s, d) => {
      // stateless streaming quality scoring: the linear model runs
      // unchanged inside a micro-batch pipeline (narrow map, no
      // watermark, every row emits), so the batch value oracle applies
      // to the streamed output as-is — score docs for keep/drop WHILE
      // the corpus arrives
      val schema = t(s, d, "documents").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val scored = Text.qualityScore(src, "text")
      runStreamToTable(s, scored, "stream_quality_out")
        .select(col("doc_id"), col("q_score"), col("q_keep"))
        .orderBy("doc_id")
    }),
    "stream_mix_importance" -> ((s, d) => {
      // live DSIR admission: the trained weight table persists once
      // (decisions stay frozen while the crawl streams in); arriving
      // docs score via a stateless broadcast join and the md5-coin
      // keep decision lands on the drained sink's associative reduce —
      // exactly the batch sampler (shared value oracle)
      val docs = t(s, d, "documents")
      val path = modelStorePaths.computeIfAbsent(d + "#dsir", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-dsir-$processId-${dirTag(d)}").getPath
        Text.writeImportanceWeights(Text.ImportanceModel(
          Text.importanceWeights(docs,
            docs.filter(col("lang") === "en"), "text"), 256, 20), p)
        p
      })
      val model = Text.openImportanceWeights(s, path)
      val src = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val part = Text.streamingImportanceScore(src, model, "doc_id", "text")
      Text.importanceReduce(
        runStreamToTable(s, part, "stream_dsir_out"), "doc_id",
        model.scaleLog2)
        .orderBy("doc_id")
    }),
    "stream_lm_score" -> ((s, d) => {
      // live LM quality scoring with ZERO streaming state: per-bigram
      // smoothed probabilities via stream-static joins against the
      // at-rest LM (the same stored artifact text_lm_score_stored
      // probes — no micro-batch recounts the reference), partial rows
      // drained to the sink and reduced there. The partials are
      // associative, so the roll-up equals the batch scorer however the
      // source splits into micro-batches (shared value oracle)
      val docs = t(s, d, "documents")
      val path = modelStorePaths.computeIfAbsent(d + "#lm", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-lm-$processId-${dirTag(d)}").getPath
        Text.writeLm(Text.lmRef(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0), "text"), p)
        p
      })
      val src = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val part = Text.streamingLmScore(src, Text.openLm(s, path),
        "doc_id", "text")
      runStreamToTable(s, part, "stream_lm_out")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("p").as("__sum"))
        .withColumn("lm_score", expr("__sum div n_bigrams"))
        .drop("__sum")
        .orderBy("doc_id")
    }),
    "stream_classifier" -> ((s, d) => {
      // live quality filtering with ZERO streaming state: per-token
      // weight lookups via a stream-static join against the at-rest
      // model (the same stored artifact text_classifier_stored probes),
      // partials drained to the sink and reduced there — associative, so
      // the roll-up equals the batch scorer however the source splits
      // into micro-batches (shared value oracle)
      val docs = t(s, d, "documents")
      val path = modelStorePaths.computeIfAbsent(d + "#clf", _ => {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-clf-$processId-${dirTag(d)}").getPath
        val train = docs.filter(pmod(col("doc_id"), lit(5L)) < 4)
        Text.writeClassifier(
          Text.classifierTrain(train.filter(col("lang") === "en"),
            train.filter(col("lang") =!= "en"), "text"), p)
        p
      })
      val ref = Text.openClassifier(s, path)
      val src = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val part = Text.streamingClassifierScore(src, ref, "doc_id", "text")
      runStreamToTable(s, part, "stream_clf_out")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(col("w").cast("decimal(38,0)")).as("__sum"))
        .withColumn("clf_score", expr("__sum div n_toks"))
        .withColumn("pred_pos", (col("clf_score") >= ref.s).cast("long"))
        .drop("__sum")
        .orderBy("doc_id")
    }),
    "stream_quantize" -> ((s, d) => {
      // stateless streaming feature extraction: the exact-arithmetic int8
      // quantizer runs unchanged inside a micro-batch pipeline — no
      // watermark, every row emits, and the batch quantization value
      // oracle applies to the streamed output as-is
      val schema = t(s, d, "embeddings").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(d)
      val qdf = graft.streaming.StreamIngest.quantizedIngest(
        src, "vec_id", "embedding")
      runStreamToTable(s, qdf, "stream_quantize_out")
        // same compare-safe CSV serialization as embed_quantize (shared oracle)
        .select(col("vec_id"),
          concat_ws(",", col("q").cast("array<string>")).as("q"),
          col("max_abs"))
        .orderBy("vec_id")
    }),
    "stream_asof" -> ((s, d) => {
      // streaming as-of enrichment driven to completion: purchases emit
      // once the watermark strictly passes their event-time ms, joined to
      // the latest view at-or-before their ts. Oracle = batch ASOF LEFT
      // JOIN restricted to watermark-complete purchases (max purchase/view
      // event ms - 10 min lateness; the type filter precedes the watermark
      // node, so only joined types drive completeness). ts is µs-truncated at the source so DuckDB (µs
      // timestamps) agrees on every boundary; values pass through with no
      // accumulation, so doubles are oracle-stable.
      val src = tsUs(eventStream(s, d))
      val joined = graft.streaming.StreamIngest.streamingAsof(
        src, leftType = "purchase", rightType = "view")
      runStreamToTable(s, joined.toDF(), "stream_asof_out")
        .select("event_id", "user_id", "ts", "value", "r_ts", "r_value")
        .orderBy("event_id")
    }),
    "multimodal_frames" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.syntheticMedia(t(s, d, "documents"), "doc_id", "text"), 4)
        .select("media_id", "frame_idx", "frame_key")
        .orderBy("media_id", "frame_idx")),
    "multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.syntheticMedia(t(s, d, "documents"), "doc_id", "text"))
        .select("media_id", "modality", "n_bytes")
        .orderBy("media_id")),
    "multimodal_decode" -> ((s, d) =>
      // REAL decode: PNG bytes synthesized from a pure (id,x,y) pixel
      // function, decoded back with JDK ImageIO; the oracle recomputes the
      // channel sums arithmetically, so a green row proves a genuine
      // lossless encode→decode roundtrip, not plumbing alone
      Multimodal.decodeImages(
        Multimodal.syntheticImages(t(s, d, "documents"), "doc_id"))
        .orderBy("media_id")),
    "multimodal_phash" -> ((s, d) => {
      // image near-dup via aHash on REAL pixels: exact re-renders (id +
      // 16128 preserves base/width/height) must collide, one-pixel noise
      // must stay within hamming 2, and the 50 distinct images must not
      // degenerate to a handful of hashes
      val ids = t(s, d, "documents").select("doc_id")
        .filter(col("doc_id") < 50)
      val orig = Multimodal.syntheticImages(ids, "doc_id")
      val twins = Multimodal.syntheticImages(
        ids.withColumn("doc_id", col("doc_id") + 16128L), "doc_id")
      val noisy = Multimodal.syntheticImagesPerturbed(ids, "doc_id")
      val h = Multimodal.imageHashes(
        orig.unionByName(twins).unionByName(noisy))
      val o = h.filter(col("media_id") < 50)
        .select(col("media_id").as("id"), col("phash").as("h0"))
      val tw = h.filter(col("media_id") >= 16128L &&
          col("media_id") < 16128L + 50)
        .select((col("media_id") - 16128L).as("id"), col("phash").as("ht"))
      val nz = h.filter(col("media_id") >= Multimodal.PerturbOffset)
        .select((col("media_id") - Multimodal.PerturbOffset).as("id"),
          col("phash").as("hn"))
      o.join(tw, "id").join(nz, "id")
        .agg(
          sum(when(col("h0") === col("ht"), 1L).otherwise(0L)).as("twin_eq"),
          sum(when(expr("bit_count(h0 ^ hn)") <= 2, 1L).otherwise(0L))
            .as("noise_close"),
          count_distinct(col("h0")).as("n_distinct"))
        .select((col("twin_eq") === 50L && col("noise_close") === 50L &&
          col("n_distinct") >= 20L).cast("long").as("phash_ok"))
    }),
    "multimodal_resize" -> ((s, d) =>
      // REAL resize: synthesize PNGs → ImageIO decode → nearest-neighbor
      // resample (integer source coords) → PNG re-encode → decode AGAIN;
      // the oracle recomputes the resampled channel sums arithmetically,
      // proving the full decode→transform→re-encode chain on real pixels
      Multimodal.decodeImages(
        Multimodal.resizeImages(
          Multimodal.syntheticImages(t(s, d, "documents"), "doc_id"),
          width = 12, height = 10))
        .orderBy("media_id")),
    "multimodal_audio" -> ((s, d) =>
      // the audio twin of multimodal_decode: 16-bit PCM synthesized from a
      // pure (id, i) sample function, wrapped in a REAL RIFF/WAV container
      // and decoded back through javax.sound.sampled — the oracle
      // recomputes sample count, duration, and integer sample sums
      Multimodal.decodeAudio(
        Multimodal.syntheticAudio(t(s, d, "documents"), "doc_id"))
        .orderBy("media_id")),
    "multimodal_video" -> ((s, d) =>
      // REAL video-container frame sampling: packed PNG frames (MJPEG
      // shape) parsed and every 2nd frame ImageIO-decoded; the oracle
      // recomputes the sampled frames' channel sums from the shared pixel
      // function with the per-frame base shift
      Multimodal.decodeVideoFrames(
        Multimodal.syntheticVideo(t(s, d, "documents"), "doc_id"), stride = 2)
        .orderBy("media_id", "frame_idx"))
  )
}
