package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, Text}

/** Dedup / similarity / text / multimodal operator semantics on planted
  * fixtures (exact expected outcomes, not statistical smoke).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "The quick  brown fox jumps over the lazy dog"), // ws/case dup of 0
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 0
    (4L, "completely different words appear in this sentence here"),
    (5L, "der schnelle braune fuchs springt und die katze ist da")
  ).toDF("doc_id", "text")

  test("tokens + shingles") {
    val row = docs.filter($"doc_id" === 0)
      .select(Text.tokens($"text").as("t"), Text.shingles($"text", 3).as("s"))
      .collect()(0)
    assert(row.getSeq[String](0).take(4) == Seq("the", "quick", "brown", "fox"))
    assert(row.getSeq[String](1).contains("the quick brown"))
    assert(row.getSeq[String](1).length == 7) // 9 tokens → 7 trigrams
  }

  test("exact dedup groups normalized duplicates, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count"))).toMap
    assert(out(0L) == 3L) // docs 0,1,2 collapse
    assert(out(3L) == 1L)
    val survivors = Dedup.exactDeduped(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(0L, 3L, 4L, 5L))
  }

  test("gopherFilter flags each degenerate pattern, keeps clean text") {
    val clean = (1 to 30).map(i => s"word$i").mkString(" ")     // all rules pass
    val short = "just five words right here"                    // len_ok = 0
    val looped = (1 to 15).map(_ => "spam spam").mkString(" ")  // dup/top fail
    val longtok = (1 to 20)
      .map(i => "x" * 20 + i).mkString(" ")                     // tok_len_ok = 0
    val df = Seq((0L, clean), (1L, short), (2L, looped), (3L, longtok))
      .toDF("doc_id", "text")
    val out = Text.gopherFilter(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("keep"), r.getAs[Long]("len_ok"),
          r.getAs[Long]("dup_tok_ok"), r.getAs[Long]("top_tok_ok"),
          r.getAs[Long]("tok_len_ok")))).toMap
    assert(out(0L)._1 == 1L)
    assert(out(1L) == ((0L, 0L, 1L, 1L, 1L)))
    assert(out(2L)._1 == 0L && out(2L)._3 == 0L && out(2L)._4 == 0L)
    assert(out(3L)._1 == 0L && out(3L)._5 == 0L)
  }

  test("exactKeepBest keeps the highest-scoring variant, min id on ties") {
    // docs 0,1,2 share a fingerprint; doc 2 has extra whitespace (longest
    // raw text) → it wins under the length score. 0 vs 1 are identical
    // (tie) so without 2 the tie-break keeps the smaller id.
    val out = Dedup.exactKeepBest(docs, "doc_id", "text",
      length($"text").cast("long")).collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(out(2L) == 3L)
    assert(!out.contains(0L) && !out.contains(1L))
    val tieOnly = Dedup.exactKeepBest(docs.filter($"doc_id" < 2),
      "doc_id", "text", length($"text").cast("long")).collect()
    assert(tieOnly.length == 1 && tieOnly(0).getAs[Long]("keep_id") == 0L)
  }

  test("clusterKeepBest keeps the highest-quality member per component") {
    import spark.implicits._
    // chain 1-2-3 is one component; 8-9 another
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id1", "id2")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (8L, 4L), (9L, 2L))
      .toDF("doc_id", "q")
    val out = Dedup.clusterKeepBest(pairs, scores, "doc_id", "q")
      .collect().map(r => r.getAs[Long]("component") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("score"),
          r.getAs[Long]("cluster_size")))).toMap
    // tie between 2 and 3 at quality 9 → smaller id wins
    assert(out == Map(1L -> ((2L, 9L, 3L)), 8L -> ((8L, 4L, 2L))))
  }

  test("components labels transitive chains with the min reachable id") {
    // chain 1-2-3-4-5 (diameter 4, needs several propagation rounds),
    // a separate pair {10,11}, and an A<->B edge given in "reversed"
    // order — isolated docs never appear in the edge list and stay out
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (11L, 10L))
      .toDF("id1", "id2")
    val comps = Dedup.components(edges).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comps.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("componentsLogRounds matches min-label components and handles chains") {
    // same fixture as the components test: identical labels expected
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (11L, 10L))
      .toDF("id1", "id2")
    val viaStar = Dedup.componentsLogRounds(edges).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaStar.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 10L -> 10L, 11L -> 10L))

    // the adversarial shape min-label can't finish: a 1000-node chain
    // (diameter 999) must fully converge inside the O(log n) round budget
    val chain = spark.range(999)
      .select(col("id").as("id1"), (col("id") + 1L).as("id2"))
    val labels = Dedup.componentsLogRounds(chain, maxIter = 15)
    assert(labels.count() == 1000L)
    assert(labels.filter(col("comp") =!= 0L).count() == 0L)

    // seeded random graphs: both algorithms must label identically
    // (sparse graphs keep component diameters small enough for min-label)
    val rnd = new scala.util.Random(4242)
    val randomEdges = Seq.fill(120)(
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id1", "id2")
    val viaMinLabel = Dedup.components(randomEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLogStar = Dedup.componentsLogRounds(randomEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLogStar == viaMinLabel)

    // a node appearing ONLY in a self-pair is a singleton, like components
    val withSelf = Seq((1L, 2L), (7L, 7L)).toDF("id1", "id2")
    assert(Dedup.componentsLogRounds(withSelf).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq(1L -> 1L, 2L -> 1L, 7L -> 7L))

    // exhausted maxIter: labels may be non-minimal but must stay UNIQUE
    // per node (never conflicting duplicate rows)
    val longChain = spark.range(499)
      .select(col("id").as("id1"), (col("id") + 1L).as("id2"))
    val truncated = Dedup.componentsLogRounds(longChain, maxIter = 2)
    assert(truncated.groupBy("id").count()
      .filter(col("count") > 1L).count() == 0L)
    assert(truncated.count() == 500L)
  }

  test("components fails loudly past its round budget; keep-best and " +
      "grouped-jaccard reject non-integral ids at plan time") {
    // a 60-node chain (diameter 59) cannot converge in 20 min-label
    // rounds: silent truncation would split one transitive cluster and
    // let duplicates pass — it must throw, pointing at componentsLogRounds
    val chain = spark.range(59)
      .select(col("id").as("id1"), (col("id") + 1L).as("id2"))
    val ex = intercept[IllegalStateException] { Dedup.components(chain) }
    assert(ex.getMessage.contains("componentsLogRounds"))
    // string ids would negate through double inside the argmax struct —
    // keep_id corruption, so the keep-best policies refuse them loudly
    val strDocs = Seq(("0012", "same text", 5.0), ("a-9", "same text", 7.0))
      .toDF("doc_id", "text", "q")
    intercept[IllegalArgumentException] {
      Dedup.exactKeepBest(strDocs, "doc_id", "text", col("q"))
    }
    intercept[IllegalArgumentException] {
      Dedup.clusterKeepBest(Seq(("a", "b")).toDF("id1", "id2"),
        strDocs.select(col("doc_id"), col("q")), "doc_id", "q")
    }
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairsGrouped(strDocs, "doc_id", "text", 0.3)
    }
  }

  test("corpusDiff counts null-text content present in both snapshots " +
      "as kept") {
    val oldSnap = Seq((1L, "en", "kept doc"), (2L, "en", null))
      .toDF("doc_id", "lang", "text")
    val newSnap = Seq((3L, "en", "kept doc"), (4L, "en", null),
      (5L, "en", "fresh doc")).toDF("doc_id", "lang", "text")
    val r = Dedup.corpusDiff(oldSnap, newSnap, "text", "lang").head()
    assert(r.getAs[Long]("n_kept") == 2L, r.toString) // text + null group
    assert(r.getAs[Long]("n_added") == 1L, r.toString)
    assert(r.getAs[Long]("n_removed") == 0L, r.toString)
  }

  test("contamination flags train docs sharing eval shingles, exact counts") {
    // eval doc 100 == train doc 0 verbatim → doc 0 fully contaminated
    // (7/7 trigrams); near-dup doc 3 shares the 6 trigrams not touching
    // the last token; docs 4 and 5 share nothing and must not appear
    val evalDf = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = docs.filter($"doc_id".isin(0L, 3L, 4L, 5L))
    val out = Dedup.contamination(train, evalDf, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("n_shingles")))).toMap
    assert(out.keySet == Set(0L, 3L))
    assert(out(0L) == ((7L, 7L)))
    assert(out(3L) == ((6L, 7L)))
    // non-broadcast fallback computes the identical result
    val shuffled = Dedup.contamination(train, evalDf, "doc_id", "text",
      broadcastEval = false).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(shuffled == Map(0L -> 7L, 3L -> 6L))
  }

  test("contaminationReport: per-eval-doc leakage, zero-leak rows included") {
    // eval 100 == train doc 0 verbatim → 7/7 shared; eval 101 shares
    // nothing and must still appear with n_shared = 0; eval 102 is too
    // short to shingle and must STILL certify as checked (0, 0, 0.0)
    val evalDf = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "unrelated eval material with fresh tokens only present here"),
      (102L, "hi there"))
      .toDF("doc_id", "text")
    val train = docs.filter($"doc_id".isin(0L, 4L))
    val out = Dedup.contaminationReport(train, evalDf, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shared"), r.getAs[Long]("n_shingles"),
          r.getAs[Double]("leakage")))).toMap
    assert(out.keySet == Set(100L, 101L, 102L))
    assert(out(100L) == ((7L, 7L, 1.0)))
    assert(out(101L)._1 == 0L && out(101L)._3 == 0.0)
    assert(out(102L) == ((0L, 0L, 0.0)))
  }

  test("bloomDedup equals the exact semi-join (no false positives escape)") {
    // ref = docs 0 and 4; incoming 1 (exact dup) and 2 (ws/case dup)
    // match 0's fingerprint, 3 (near dup) and 5 do not
    val ref = docs.filter($"doc_id".isin(0L, 4L))
    val out = Dedup.bloomDedup(docs, ref, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(out == Seq(0L, 1L, 2L, 4L))
    // a deliberately high-fpp filter still yields the exact result —
    // the verify join owns correctness, the bloom only prunes
    val noisy = Dedup.bloomDedup(docs, ref, "doc_id", "text", fpp = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(noisy == out)
  }

  test("noveltyCounts: shared shingles lower novelty, unique text maxes it") {
    // docs 0 and 1 are identical → every shingle has df >= 2 → novelty 0;
    // doc 4 shares nothing → all 8 of its trigrams are df == 1
    val out = Text.noveltyCounts(
      docs.filter($"doc_id".isin(0L, 1L, 4L)), "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_novel"), r.getAs[Long]("n_shingles")))).toMap
    assert(out(0L) == ((0L, 7L)))
    assert(out(1L) == ((0L, 7L)))
    assert(out(4L)._1 == out(4L)._2 && out(4L)._1 > 0)
  }

  test("sourceStats: volumes, language spread, distinct content per source") {
    val fx = Seq(
      (0L, "the and is with that this for from", "s1"),
      (1L, "the and is with that this for from", "s1"), // exact dup in s1
      (2L, "der die und ist nicht das ein mit", "s1"),
      (3L, "el la es de que en un por", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Text.sourceStats(fx, "text", "source")
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_langs"), r.getAs[Long]("n_unique")))).toMap
    assert(out("s1") == ((3L, 24L, 2L, 2L))) // en + de, one dup collapsed
    assert(out("s2") == ((1L, 8L, 1L, 1L)))
  }

  test("lengthHistogram buckets by integer division of token count") {
    val fx = Seq(
      (0L, "a b c", "en"),         // 3 tokens  → bucket 0
      (1L, "a b c d e f g h i j k l", "en"), // 12 → bucket 1
      (2L, "a b", "de"))            // 2 → bucket 0
      .toDF("doc_id", "text", "lang")
    val out = Text.lengthHistogram(fx, "text", "lang", 10)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(out == Map(("en", 0L) -> 1L, ("en", 1L) -> 1L, ("de", 0L) -> 1L))
  }

  test("corpusDiff counts added/removed/kept distinct contents per group") {
    val oldSnap = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en"),
      (1L, "a document that will be removed next release", "en"),
      (2L, "der schnelle braune fuchs springt", "de"))
      .toDF("doc_id", "text", "lang")
    val newSnap = Seq(
      (10L, "the quick  BROWN fox jumps over the lazy dog", "en"), // kept (ws/case dup)
      (11L, "a brand new document in this release", "en"),         // added
      (12L, "der schnelle braune fuchs springt", "de"))            // kept
      .toDF("doc_id", "text", "lang")
    val out = Dedup.corpusDiff(oldSnap, newSnap, "text", "lang")
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_kept")))).toMap
    assert(out("en") == ((1L, 1L, 1L)))
    assert(out("de") == ((0L, 0L, 1L)))
  }

  test("lengthQuantileSketch: exact dyadic median + sketch within one element") {
    val docs = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val out = Text.lengthQuantileSketch(docs, "text", "lang").collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val exact = r.getAs[Double]("p_exact")
      val approx = r.getAs[Long]("p_approx").toDouble
      assert(math.abs(approx - exact) <= 1.0, s"${r.getAs[String]("lang")}")
    }
  }

  test("mixSample matches the single-window reference, drops no-budget domains") {
    // two domains; "a" budget covers some docs in md5 order, "b" has no
    // budget entry and must vanish. A zero-token doc (id 7) costs nothing
    // and is kept whenever its cum stays within budget.
    val rows = Seq(
      (0L, "one two three", "a"), (1L, "four five", "a"),
      (2L, "six seven eight nine", "a"), (7L, "", "a"),
      (3L, "anything at all", "b"))
    val df = rows.toDF("doc_id", "text", "dom")
    // reference: per-domain md5 order, inclusive running sum, keep <= budget
    val budget = 5L
    val ref = rows.filter(_._3 == "a")
      .map { case (id, text, _) =>
        (id, Text.tokensScala(text).length.toLong, SparkTestBase.md5hex(id.toString)) }
      .sortBy { case (id, _, k) => (k, id) }
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, n, _)) =>
        (id, n, cum + n) }.drop(1)
      .filter(_._3 <= budget).map { case (id, n, cum) => id -> ((n, cum)) }
      .toMap
    val out = Text.mixSample(df, "doc_id", "text", "dom", Map("a" -> budget))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens")))).toMap
    assert(out == ref)
    assert(ref.nonEmpty) // the fixture must actually keep something
    assert(!out.contains(3L))
  }

  test("mixSample property: equals the naive window reference on random corpora") {
    // the bucketed prefix sum must be byte-identical to the one-window
    // definition for ANY corpus: random domains, empty docs, budget-0 and
    // oversized budgets, sparse/duplicate-free ids
    val rnd = new scala.util.Random(20260813)
    for (round <- 1 to 5) {
      val nDocs = 30 + rnd.nextInt(120)
      val doms = Seq("a", "b", "c").take(1 + rnd.nextInt(3))
      var nextId = 0L
      val rows = (0 until nDocs).map { _ =>
        nextId += 1 + rnd.nextInt(7) // sparse, strictly increasing, UNIQUE
        (nextId, ("w " * rnd.nextInt(12)).trim, doms(rnd.nextInt(doms.length)))
      }
      val budgets = doms.map(d => d -> (rnd.nextInt(4) match {
        case 0 => 0L                      // excluded domain
        case 1 => 1L + rnd.nextInt(20)    // tight budget
        case _ => 1000000L                // everything fits
      })).toMap.filter(_._2 > 0)
      val ref = rows.groupBy(_._3).flatMap { case (dom, ds) =>
        val b = budgets.getOrElse(dom, 0L)
        ds.map { case (id, text, _) =>
          (id, Text.tokensScala(text).length.toLong, SparkTestBase.md5hex(id.toString)) }
          .sortBy { case (id, _, k) => (k, id) }
          .scanLeft((0L, 0L, 0L)) { case ((_, _, c), (id, n, _)) =>
            (id, n, c + n) }.drop(1)
          .filter { case (_, _, cum) => b > 0 && cum <= b }
          .map { case (id, n, cum) => id -> ((n, cum)) }
      }
      val got = Text.mixSample(rows.toDF("doc_id", "text", "dom"),
          "doc_id", "text", "dom", budgets).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens")))).toMap
      assert(got == ref, s"round $round: budgets=$budgets")
    }
  }

  test("importanceSample: target-enriched docs kept, off-target dropped") {
    // Planted two-population corpus: 50 docs of token "aaa", 50 of "bbb";
    // target = the bbb slice. Hand-derived DSIR weights (S = 2^20,
    // add-one smoothing, md5 buckets verified collision-free for
    // aaa→244, bbb→24 at buckets=256):
    //   w_bbb = ⌊S·(200+1)·400/((200+1)·200)⌋ = 2S  → every bbb doc kept
    //   w_aaa = ⌊S·(0+1)·400/((200+1)·200)⌋ = 10433 → kept iff
    //           md5(id) mod S < 10433 (≈1% acceptance)
    val rows = (0L until 50L).map(i => (i, "aaa aaa aaa aaa")) ++
      (50L until 100L).map(i => (i, "bbb bbb bbb bbb"))
    val df = rows.toDF("doc_id", "text")
    val out = Text.importanceSample(df, df.filter($"doc_id" >= 50L),
        "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("weight"), r.getAs[Long]("kept")))).toMap
    assert(out.size == 100)
    def hash20(id: Long): Long =
      java.lang.Long.parseLong(SparkTestBase.md5hex(id.toString).take(15), 16) %
        (1L << 20)
    for (id <- 0L until 50L) {
      assert(out(id)._1 == 10433L)
      assert(out(id)._2 == (if (hash20(id) < 10433L) 1L else 0L))
    }
    for (id <- 50L until 100L) assert(out(id) == ((2097152L, 1L)))
    // the drop path must actually fire on this fixture
    assert(out.count(_._2._2 == 0L) >= 45)
    // zero-token docs carry no feature signal and vanish
    val withEmpty = (rows :+ (100L, "")).toDF("doc_id", "text")
    assert(!Text.importanceSample(withEmpty,
        withEmpty.filter($"doc_id" >= 50L && $"doc_id" < 100L),
        "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).contains(100L))
  }

  test("importanceWeights: flat corpus gives ≈S weights; empty target rejected") {
    val df = (0L until 20L).map(i => (i, "x y z")).toDF("doc_id", "text")
    val w = Text.importanceWeights(df, df, "text").collect()
      .map(_.getAs[Long]("w"))
    assert(w.forall(_ == (1L << 20))) // identical distributions → ratio 1
    intercept[IllegalArgumentException] {
      Text.importanceWeights(df, df.filter($"doc_id" < 0), "text")
    }
  }

  test("tokenizer + LM stores round-trip exactly; swap window self-heals") {
    val dir = java.nio.file.Files.createTempDirectory("graft-modelstore")
      .toString
    val corpus = docs // the planted fixture corpus
    // tokenizer: stored list == trained list, rank order preserved
    val merges = Text.bpeTrain(corpus, "text", merges = 6)
    Text.writeTokenizer(spark, merges, s"$dir/tok")
    assert(Text.openTokenizer(spark, s"$dir/tok") == merges)
    // LM: stored scores byte-identical to the in-process model
    val ref = Text.lmRef(corpus.filter($"doc_id" < 3), "text")
    Text.writeLm(ref, s"$dir/lm")
    val direct = Text.lmScore(corpus, ref, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val stored = Text.lmScore(corpus, Text.openLm(spark, s"$dir/lm"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(stored.sameElements(direct) && direct.nonEmpty)
    // kill between the two renames leaves only .build-old — open recovers
    val f = java.nio.file.Paths.get(s"$dir/tok")
    java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$dir/tok.build-old"))
    assert(Text.openTokenizer(spark, s"$dir/tok") == merges)
  }

  test("classifier: counting-trained ratio weights match brute force; " +
      "store round-trips; empty class rejected") {
    val pos = Seq((0L, "the cat sat"), (1L, "the dog ran the"))
      .toDF("doc_id", "text")
    val neg = Seq((2L, "le chat noir"), (3L, "der hund le"))
      .toDF("doc_id", "text")
    val ref = Text.classifierTrain(pos, neg, "text")
    // brute-force twin in BigInt: per-token smoothed ratio weights
    val ptoks = Seq("the", "cat", "sat", "the", "dog", "ran", "the")
    val ntoks = Seq("le", "chat", "noir", "der", "hund", "le")
    val cp = ptoks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cn = ntoks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = cp.keySet ++ cn.keySet
    val (nPos, nNeg, v) =
      (ptoks.size.toLong, ntoks.size.toLong, vocab.size.toLong)
    val s = 1L << 20
    def wOf(t: String): Long =
      (BigInt(s) * BigInt(cp.getOrElse(t, 0L) + 1) * BigInt(nNeg + v) /
        (BigInt(cn.getOrElse(t, 0L) + 1) * BigInt(nPos + v))).toLong
    val got = ref.w.collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("w")).toMap
    assert(got.keySet == vocab)
    for (t <- vocab) assert(got(t) == wOf(t), t)
    assert(ref.w0 == (BigInt(s) * BigInt(nNeg + v) / BigInt(nPos + v)).toLong)
    // scoring: mean ratio, unseen token takes w0, threshold at S;
    // zero-token docs drop
    val scoreMe = Seq((10L, "the the zzz"), (11L, "le le le"), (12L, "!!"))
      .toDF("doc_id", "text")
    def rows(r: graft.pipeline.Text.ClassifierRef) =
      Text.classifierScore(scoreMe, r, "doc_id", "text").collect()
        .map(x => x.getAs[Long]("doc_id") -> ((x.getAs[Long]("n_toks"),
          x.getAs[Long]("clf_score"), x.getAs[Long]("pred_pos")))).toMap
    val direct = rows(ref)
    val exp10 = (wOf("the") * 2 + ref.w0) / 3
    assert(direct(10L) == ((3L, exp10, if (exp10 >= s) 1L else 0L)))
    assert(direct(11L) == ((3L, wOf("le"), 0L))) // negative-class token < S
    assert(!direct.contains(12L)) // no lexical evidence
    assert(exp10 >= s) // "the" is a strong positive signal on this fixture
    // at-rest model: identical scores through write → open
    val dir = java.nio.file.Files.createTempDirectory("graft-clf").toString
    Text.writeClassifier(ref, s"$dir/clf")
    val reopened = Text.openClassifier(spark, s"$dir/clf")
    assert(reopened.w0 == ref.w0 && reopened.s == ref.s)
    assert(rows(reopened) == direct)
    intercept[IllegalArgumentException] {
      Text.classifierTrain(pos, neg.filter($"doc_id" < 0), "text")
    }
  }

  test("classifier count store: incremental == one-shot; replay no-op; " +
      "compaction preserves") {
    val pos = Seq((0L, "the cat sat"), (1L, "the dog ran the"))
      .toDF("doc_id", "text")
    val neg = Seq((2L, "le chat noir"), (3L, "der hund le"))
      .toDF("doc_id", "text")
    val oneShot = Text.classifierTrain(pos, neg, "text")
    def wmap(r: graft.pipeline.Text.ClassifierRef) = r.w.collect()
      .map(x => x.getAs[String]("tok") -> x.getAs[Long]("w")).toMap
    val expect = wmap(oneShot)
    val dir = java.nio.file.Files.createTempDirectory("graft-clfcnt")
      .toString + "/cnt"
    // base = first doc of each class; increment = the second
    Text.writeClassifierCounts(pos.filter($"doc_id" === 0),
      neg.filter($"doc_id" === 2), "text", dir)
    Text.appendClassifierCounts(pos.filter($"doc_id" === 1),
      neg.filter($"doc_id" === 3), "text", dir, "d1")
    val incr = Text.openClassifierCounts(spark, dir)
    assert(wmap(incr) == expect && incr.w0 == oneShot.w0)
    // at-least-once redelivery of d1: readers drop the duplicate partial
    Text.appendClassifierCounts(pos.filter($"doc_id" === 1),
      neg.filter($"doc_id" === 3), "text", dir, "d1")
    assert(wmap(Text.openClassifierCounts(spark, dir)) == expect)
    // compaction folds partials, weights unchanged
    Text.compactClassifierCounts(spark, dir)
    val compacted = Text.openClassifierCounts(spark, dir)
    assert(wmap(compacted) == expect && compacted.w0 == oneShot.w0)
    // a batch with one class absent is fine (counts are zero, not null);
    // only the MERGED totals must cover both classes
    Text.appendClassifierCounts(pos.filter($"doc_id" < 0),
      neg.filter($"doc_id" === 2), "text", dir, "d2")
    val grown = Text.openClassifierCounts(spark, dir)
    assert(wmap(grown)("le") < expect("le")) // more negative evidence
  }

  test("mixEpochs: full epochs by division, remainder prefix = mixSample set") {
    val docs = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val budgets = Map("en" -> 30000L, "de" -> 1000L)
    val out = Text.mixEpochs(docs, "doc_id", "text", "lang", budgets)
      .collect()
    val byLang = out.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == Set("en", "de"))
    for ((lang, rows) <- byLang) {
      val t = rows.map(_.getAs[Long]("n_tokens")).sum
      val full = budgets(lang) / t
      assert(rows.forall(_.getAs[Long]("full_epochs") == full), lang)
      // total emitted tokens NEVER exceed the budget (whole-doc prefix
      // rule); undershoot is bounded by the first excluded doc
      val emitted = rows.map(r =>
        r.getAs[Long]("repeats") * r.getAs[Long]("n_tokens")).sum
      val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
      assert(emitted <= budgets(lang), lang)
      assert(emitted >= budgets(lang) - maxDoc, lang)
    }
    // the +1 remainder set IS mixSample's survivor set at budget = rem
    for ((lang, rows) <- byLang) {
      val t = rows.map(_.getAs[Long]("n_tokens")).sum
      val rem = budgets(lang) - (budgets(lang) / t) * t
      val plusOne = rows.filter(r =>
          r.getAs[Long]("repeats") == r.getAs[Long]("full_epochs") + 1)
        .map(_.getAs[Long]("doc_id")).toSet
      val sampled = Text.mixSample(docs.filter($"lang" === lang), "doc_id",
          "text", "lang", Map(lang -> rem))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(plusOne == sampled, lang)
    }
  }

  test("mixSchedule explodes exactly repeats occurrences with per-epoch keys") {
    val docs = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val budgets = Map("en" -> 30000L, "de" -> 1000L)
    val reps = Text.mixEpochs(docs, "doc_id", "text", "lang", budgets)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("repeats")).toMap
    val sched = Text.mixSchedule(docs, "doc_id", "text", "lang", budgets)
      .collect()
    val counts = sched.groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rows) => id -> rows.length.toLong }
    assert(counts == reps.filter(_._2 > 0))
    // a doc's key differs per epoch (independent reshuffle each epoch)
    val multi = sched.groupBy(_.getAs[Long]("doc_id"))
      .filter(_._2.length > 1)
    assert(multi.nonEmpty)
    for ((_, rows) <- multi)
      assert(rows.map(_.getAs[String]("order_key")).distinct.length ==
        rows.length)
  }

  test("sampleStratified takes exactly k per stratum in md5 order") {
    val df = (0L until 40L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "dom")
    val out = Text.sampleStratified(df, "doc_id", "dom", k = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("dom"),
        r.getAs[Long]("rank")))
    assert(out.count(_._2 == "a") == 5 && out.count(_._2 == "b") == 5)
    // ranks are 1..5 within each stratum and follow the md5 order
    for (dom <- Seq("a", "b")) {
      val got = out.filter(_._2 == dom).sortBy(_._3)
      val expect = (0L until 40L)
        .filter(i => (if (i % 2 == 0) "a" else "b") == dom)
        .sortBy(i => (SparkTestBase.md5hex(i.toString), i)).take(5)
      assert(got.map(_._1).toSeq == expect)
      assert(got.map(_._3).toSeq == (1L to 5L))
    }
  }

  test("bpePairCounts counts within-word adjacent char pairs per occurrence") {
    val fx = Seq((0L, "abc abc ab"), (1L, "x yz")).toDF("doc_id", "text")
    // words: abc, abc, ab, x, yz → pairs ab×3, bc×2, yz×1 (x yields none)
    val out = Text.bpePairCounts(fx, "text").collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toSeq
    assert(out == Seq("ab" -> 3L, "bc" -> 2L, "yz" -> 1L))
  }

  test("dupChunkStats: duplicated chunks counted, within-doc repeats too") {
    // size=2, no overlap: doc 0 = [a b][a b] (self-dup), doc 1 = [a b][c]
    // → doc 0: 2/2 dup; doc 1: chunk "a b" dup (df=3), tail "c" unique
    val fx = Seq((0L, "a b a b"), (1L, "a b c")).toDF("doc_id", "text")
    val out = Text.dupChunkStats(fx, "doc_id", "text", size = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(0L -> ((2L, 2L)), 1L -> ((2L, 1L))))
  }

  test("pq: codes are m bytes wide, deterministic, and recover the cluster") {
    val n = 500
    val vecs = (0 until n).map { i =>
      val c = i % 4
      val base = Array.tabulate(16)(j => math.sin(c * 16 + j).toFloat)
      val r = new scala.util.Random(i)
      (i.toLong, base.map(x => x + (r.nextFloat() - 0.5f) * 0.05f).toSeq)
    }.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, m = 4, k = 8)
    assert(books.length == 4 && books.forall(_.head.length == 4))
    val enc = Similarity.pqEncode(vecs, books)
    val rows = enc.collect()
    assert(rows.forall(_.getSeq[Byte](1).length == 4))
    // same vector → same codes (deterministic train + encode)
    val enc2 = Similarity.pqEncode(vecs, Similarity.pqTrain(vecs, m = 4, k = 8))
    assert(enc.orderBy("vec_id").collect().map(_.getSeq[Byte](1))
      .sameElements(enc2.orderBy("vec_id").collect().map(_.getSeq[Byte](1))))
    // ADC top-3 stays inside the query's cluster (i % 4)
    val q = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.pqKnn(enc, books, q, k = 3).collect()
    assert(top.length == 12)
    top.foreach { r =>
      assert(r.getAs[Long]("vec_id") % 4 == r.getAs[Long]("qid") % 4,
        s"out-of-cluster: $r")
    }
    // full 256-centroid codebook: offset encoding must exercise indices
    // past the signed-byte midpoint (a non-negative stored byte = index
    // >= 128) and ADC must still decode them back to the right table row
    val books256 = Similarity.pqTrain(vecs, m = 4, k = 256)
    assert(books256.forall(_.length > 127), "train collapsed below 128 cents")
    val enc256 = Similarity.pqEncode(vecs, books256)
    assert(enc256.collect().exists(_.getSeq[Byte](1).exists(_ >= 0)),
      "no code landed past index 127 — 256-centroid codebook unexercised")
    Similarity.pqKnn(enc256, books256, q, k = 3).collect().foreach { r =>
      assert(r.getAs[Long]("vec_id") % 4 == r.getAs[Long]("qid") % 4,
        s"out-of-cluster at k=256: $r")
    }
    // past the byte: refuse rather than truncate
    intercept[IllegalArgumentException] {
      Similarity.pqEncode(vecs,
        Array.fill(4)(Array.fill(257)(Array.fill(4)(0f))))
    }
  }

  test("imageHashes: exact re-render collides, one-pixel noise hamming <= 2") {
    val ids = (0L until 10L).toSeq.toDF("doc_id")
    val orig = Multimodal.syntheticImages(ids, "doc_id")
    val twins = Multimodal.syntheticImages(
      ids.withColumn("doc_id", col("doc_id") + 16128L), "doc_id")
    val noisy = Multimodal.syntheticImagesPerturbed(ids, "doc_id")
    val h = Multimodal.imageHashes(orig.unionByName(twins).unionByName(noisy))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach { id =>
      assert(h(id) == h(id + 16128L), s"twin of $id must collide")
      assert(java.lang.Long.bitCount(h(id) ^ h(id + Multimodal.PerturbOffset))
        <= 2, s"noisy $id drifted")
    }
    // structured gradients still separate into several buckets
    assert(h.filterKeys(_ < 10).values.toSet.size >= 4)
  }

  test("temperatureBudgets: sqrt-weight shares, integer-exact, sum <= total") {
    // tokens: a=16 (w=4), b=4 (w=2), c=1 (w=1) → sumW=7;
    // budgets of 700: a=400, b=200, c=100
    val fx = Seq((0L, "a", ("x " * 16).trim), (1L, "b", "x x x x"),
      (2L, "c", "x")).toDF("doc_id", "lang", "text")
    val b = Text.temperatureBudgets(fx, "text", "lang", totalBudget = 700L)
    assert(b == Map("a" -> 400L, "b" -> 200L, "c" -> 100L))
  }

  test("temperatureBudgets: all-empty corpus yields zero budgets, not a crash") {
    // every domain's token sum is 0 → floor(sqrt(0)) = 0 each → sumW = 0;
    // the share division must not throw ArithmeticException
    val fx = Seq((0L, "a", ""), (1L, "b", "")).toDF("doc_id", "lang", "text")
    val b = Text.temperatureBudgets(fx, "text", "lang", totalBudget = 700L)
    assert(b == Map("a" -> 0L, "b" -> 0L))
  }

  test("labelCentroidSums: exact fixed-point element sums per (label, pos)") {
    val fx = Seq((0, Seq(1.5f, -0.25f)), (0, Seq(0.5f, 0.75f)),
      (1, Seq(2.0f, 0.0f)))
      .toDF("label", "embedding")
    val out = Similarity.labelCentroidSums(fx, "label").collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val s = 1099511627776L // 2^40; all fixtures are exact binary fractions
    assert(out == Map(
      (0, 1L) -> (2L * s, 2L), (0, 2L) -> (s / 2, 2L),
      (1, 1L) -> (2L * s, 1L), (1, 2L) -> (0L, 1L)))
  }

  test("heavyHitters: MG bounds hold — no overestimate, heavy keys survive") {
    // skewed stream: token h0 appears 300x, h1 150x, 200 singletons
    val words = (Seq.fill(300)("h0") ++ Seq.fill(150)("h1") ++
      (0 until 200).map(i => s"rare$i"))
    // split across many docs so multiple partitions/merges are exercised
    val docs = words.grouped(7).zipWithIndex
      .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(8)
    val m = 16
    val n = words.size.toLong
    val est = Text.heavyHitters(docs, "text", m).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("est")).toMap
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong)
    // never overestimates; estimates within N/m of truth
    est.foreach { case (t, e) =>
      assert(e <= exact(t), s"$t overestimated")
      assert(e * m >= exact(t) * m - n, s"$t under bound")
    }
    // every token with true count > N/m is present (h0: 300*16 > 650)
    assert(est.contains("h0") && est.contains("h1"))
    assert(est.size <= m)
  }

  test("countMinSketch: never under-counts; union sketch = sum of parts") {
    // skewed stream across many docs/partitions so partial merges happen
    val words = (Seq.fill(250)("h0") ++ Seq.fill(90)("h1") ++
      (0 until 300).map(i => s"rare${i % 150}")) // rares appear twice
    val docs = words.grouped(5).zipWithIndex
      .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(8)
    val (d, w) = (4, 256) // small width → collisions guaranteed, bounds still hold
    val ve = Text.cmsVsExact(docs, "text", d, w).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("cnt"),
        r.getAs[Long]("est")))
    assert(ve.nonEmpty)
    ve.foreach { case (t, cnt, est) =>
      assert(est >= cnt, s"$t under-counted: est=$est < cnt=$cnt")
      assert(est <= words.size, s"$t above stream length")
    }
    // mergeability: sketch(A ∪ B) == sketch(A) + sketch(B) elementwise —
    // the property that lets partial sketches roll up across partitions,
    // days, and corpora without a recount
    val (a, b) = (docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 =!= 0))
    def sk(df: org.apache.spark.sql.DataFrame): List[Long] =
      Text.countMinSketch(df, "text", d, w)
        .collect()(0).getAs[scala.collection.Seq[Long]]("sk").toList
    val whole = sk(docs)
    val summed = sk(a).zip(sk(b)).map { case (x, y) => x + y }
    assert(whole == summed)
  }

  test("sketch store: rollup of stored partials equals a direct pass") {
    // two "shards" with overlapping vocab; the disk roundtrip + rollup
    // must reproduce the direct whole-subset sketch exactly (CMS) and
    // the exact token total; HLL estimate is exact at this cardinality
    // (sparse mode far below 2^lgK)
    val docs = Seq(
      (0L, "a b c a", "s0"), (1L, "b c d", "s0"),
      (2L, "c d e f", "s1"), (3L, "a f", "s1"),
      (4L, "zz yy", "s2")) // s2 stays OUT of the rollup
      .toDF("doc_id", "text", "source").repartition(4)
    val (dd, ww) = (4, 128)
    val path = java.nio.file.Files
      .createTempDirectory("graft_skstore").toString
    Text.writeSketchStore(docs, path, "text", "source", 12, dd, ww)
    val roll = Text.sketchRollup(spark, path, Seq("s0", "s1")).collect()(0)
    assert(roll.getAs[Long]("n_tokens") == 13L) // 4+3+4+2
    val direct = Text.countMinSketch(
      docs.filter($"source" =!= "s2"), "text", dd, ww)
      .collect()(0).getAs[scala.collection.Seq[Long]]("sk").toList
    assert(roll.getAs[scala.collection.Seq[Long]]("cms").toList == direct)
    assert(roll.getAs[Long]("distinct_est") == 6L) // a b c d e f exactly
  }

  test("compactSketchStore folds partials; rollup unchanged") {
    val (dd, ww) = (4, 128)
    val path = java.nio.file.Files
      .createTempDirectory("graft_skcompact").toString + "/store"
    val wave1 = Seq((0L, "a b c a", "s0"), (1L, "b c d", "s1"))
      .toDF("doc_id", "text", "source")
    val wave2 = Seq((2L, "c d e f", "s0"), (3L, "a f", "s1"))
      .toDF("doc_id", "text", "source")
    Text.writeSketchStore(wave1, path, d = dd, w = ww)
    Text.appendSketchStore(wave2, path, "w2", d = dd, w = ww)
    def roll() = Text.sketchRollup(spark, path, Seq("s0", "s1"))
      .collect()(0)
    val before = roll()
    assert(spark.read.parquet(path).count() == 4) // 2 groups x 2 waves
    Text.compactSketchStore(spark, path)
    assert(spark.read.parquet(path).count() == 2) // folded to 1 per group
    val after = roll()
    assert(after.getAs[Long]("n_tokens") == before.getAs[Long]("n_tokens"))
    assert(after.getAs[scala.collection.Seq[Long]]("cms").toList ==
      before.getAs[scala.collection.Seq[Long]]("cms").toList)
    assert(after.getAs[Long]("distinct_est") ==
      before.getAs[Long]("distinct_est"))
  }

  test("sketch store: a replayed batch cannot double-count") {
    // the at-least-once repair: re-appending a batch under ITS OWN key
    // (what a crash-replay does) leaves every rollup answer unchanged,
    // both read live and after compaction folds the duplicates away
    val (dd, ww) = (4, 128)
    val path = java.nio.file.Files
      .createTempDirectory("graft_skreplay").toString + "/store"
    val wave1 = Seq((0L, "a b c a", "s0"), (1L, "b c d", "s1"))
      .toDF("doc_id", "text", "source")
    val wave2 = Seq((2L, "c d e f", "s0"), (3L, "a f", "s1"))
      .toDF("doc_id", "text", "source")
    Text.writeSketchStore(wave1, path, d = dd, w = ww)
    Text.appendSketchStore(wave2, path, "ck#1", d = dd, w = ww)
    def roll() = Text.sketchRollup(spark, path, Seq("s0", "s1"))
      .collect()(0)
    val before = roll()
    Text.appendSketchStore(wave2, path, "ck#1", d = dd, w = ww) // replay!
    assert(spark.read.parquet(path).count() == 6) // dup rows AT REST
    val replayed = roll() // ...but never in an answer
    assert(replayed.getAs[Long]("n_tokens") == before.getAs[Long]("n_tokens"))
    assert(replayed.getAs[scala.collection.Seq[Long]]("cms").toList ==
      before.getAs[scala.collection.Seq[Long]]("cms").toList)
    Text.compactSketchStore(spark, path)
    assert(spark.read.parquet(path).count() == 2) // dups folded away
    val after = roll()
    assert(after.getAs[Long]("n_tokens") == before.getAs[Long]("n_tokens"))
    assert(after.getAs[scala.collection.Seq[Long]]("cms").toList ==
      before.getAs[scala.collection.Seq[Long]]("cms").toList)
  }

  test("windowCooccurrence: positional pairs, gaps not collapsed") {
    // window=2 over "a z b a": vocab top-2 = {a (2), b (1)}? counts: a=2,
    // z=1, b=1 → top-2 by (n desc, tok asc) = {a, b}. Pairs within 2:
    // (a,z)x, (a,b) [i=0,o=2], (z,b)x, (z,a)x, (b,a) [i=2,o=1] → (a,b)=2
    val fx = Seq((0L, "a z b a")).toDF("doc_id", "text")
    val out = Text.windowCooccurrence(fx, "text", window = 2, topK = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out == Map(("a", "b") -> 2L))
  }

  test("cooccurrence: doc-level distinct pairs over the capped vocabulary") {
    // dfs: a=3, b=2, c=2, z=1 → top-3 vocab {a, b, c}; z excluded.
    // doc 0 {a,b,c} → (a,b),(a,c),(b,c); doc 1 {a,b} → (a,b);
    // doc 2 {a,c} → (a,c); duplicate token in doc 0 counts once.
    val fx = Seq((0L, "a b c a"), (1L, "b a z"), (2L, "c a"))
      .toDF("doc_id", "text")
    val out = Text.cooccurrence(fx, "doc_id", "text", topK = 3).collect()
      .map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(out == Map(("a", "b") -> 2L, ("a", "c") -> 2L, ("b", "c") -> 1L))
  }

  test("dupNgrams surfaces cross-doc spans with per-doc counting") {
    // docs 0,1,2 normalize to the same text → every 5-gram of doc 0 has
    // df=3 (within-doc repeats would not inflate: sets are distinct);
    // doc 3 shares the 5-grams not touching the changed last token (df 4)
    val out = Dedup.dupNgrams(docs, "doc_id", "text", n = 5, minDf = 2)
      .collect()
      .map(r => (r.getAs[String]("ngram"), r.getAs[Long]("df"),
        r.getAs[Long]("first_doc")))
    assert(out.nonEmpty)
    // 9 tokens → 5 five-grams; the first 4 avoid the dog/cat suffix → df=4
    assert(out.count(_._2 == 4L) == 4)
    assert(out.count(_._2 == 3L) == 1) // "jumps over the lazy dog"
    assert(out.forall(_._3 == 0L))     // doc 0 is first everywhere
    // ordered by (df desc, ngram)
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
  }

  test("HLL token sketches: exact at small cardinality, merge == direct") {
    val df = docs.withColumn("dom",
      when($"doc_id" < 3, lit("x")).otherwise(lit("y")))
    val sk = Text.distinctTokenSketch(df, "text", "dom")
    val est = sk.collect()
      .map(r => r.getAs[String]("dom") -> r.getAs[Long]("estimate")).toMap
    // HLL is exact far below sketch capacity: estimates equal true counts
    val exact = df.select($"dom", explode(Text.tokens($"text")).as("t"))
      .groupBy("dom").agg(count_distinct($"t").as("n")).collect()
      .map(r => r.getAs[String]("dom") -> r.getAs[Long]("n")).toMap
    assert(est == exact)
    // union of the two domain sketches == one sketch over everything
    val merged = Text.mergeSketchEstimate(sk.select("sketch"))
      .collect()(0).getAs[Long]("estimate")
    val direct = Text.distinctTokenSketch(
      df.withColumn("g", lit(1)), "text", "g")
      .collect()(0).getAs[Long]("estimate")
    assert(merged == direct)
  }

  test("compression ratio: repetition compresses far below varied text") {
    val rep = ("spam " * 200).trim
    val varied = (1 to 200).map(i => s"w${i * 7919 % 9973}x$i").mkString(" ")
    val df = Seq((1L, rep), (2L, varied), (3L, ""), (4L, null: String))
      .toDF("doc_id", "text")
    val out = Text.compressionRatio(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    assert(out(1L).get < out(2L).get / 3) // repetitive ≪ varied
    assert(out(3L).isEmpty && out(4L).isEmpty) // empty/null -> null ratio
  }

  test("containment catches an embedded quote that jaccard misses") {
    import graft.pipeline.Dedup
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val host = quote + " " + (1 to 60).map(i => s"filler$i word$i").mkString(" ")
    val df = Seq((1L, quote), (2L, host)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.6,
      maxShingleDf = 10).collect()
    assert(cont.length == 1)
    val r = cont(0)
    assert(r.getAs[Double]("c_ab") == 1.0) // every quote shingle is in host
    assert(r.getAs[Double]("c_ba") < 0.2)
    // the same pair is invisible to symmetric jaccard at the same bar
    assert(Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.6,
      maxShingleDf = 10).count() == 0)
  }

  test("HLL overlap: inclusion-exclusion is exact below sketch capacity") {
    // three corpora: x/y share exactly 'shared common'; z is disjoint
    val df = Seq(
      (1L, "shared common alpha beta", "x"),
      (2L, "shared common gamma delta", "y"),
      (3L, "unrelated things entirely", "z")).toDF("doc_id", "text", "dom")
    val out = Text.tokenOverlapSketch(df, "text", "dom").collect()
      .map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) ->
        r.getAs[Long]("est_intersect")).toMap
    assert(out(("x", "y")) == 2L) // 'shared', 'common'
    assert(out(("x", "z")) == 0L && out(("y", "z")) == 0L)
  }

  test("length-quantile filter keeps the inner band per group") {
    // group g: lengths 1..8 tokens; p=[0.125, 0.875] → bounds 1.875/7.125
    // → keep lengths 2..7. Group h is untouched by g's bounds.
    val df = ((1 to 8).map(n => (n.toLong, ("w " * n).trim, "g")) ++
      Seq((100L, "a", "h"))).toDF("doc_id", "text", "grp")
    val out = Text.filterByLengthQuantiles(df, "doc_id", "text", "grp",
      pLo = 0.125, pHi = 0.875).collect()
    val gKept = out.filter(_.getAs[String]("grp") == "g")
      .map(_.getAs[Long]("n_tokens")).sorted
    assert(gKept.toSeq == (2L to 7L))
    // a single-doc group is its own p_lo == p_hi == length → kept
    assert(out.exists(r => r.getAs[String]("grp") == "h" &&
      r.getAs[Long]("n_tokens") == 1L))
  }

  test("pack manifest: every pack full except each bucket's last") {
    val ctx = 16
    val df = (0L until 30L)
      .map(i => (i, ("tok " * (3 + (i % 7)).toInt).trim))
      .toDF("doc_id", "text")
    val m = Text.packManifest(df, "doc_id", "text", ctx, numBuckets = 4)
      .collect()
      .map(r => ((r.getAs[Long]("bucket"), r.getAs[Long]("pack")),
        r.getAs[Long]("n_tokens"))).toMap
    val lastPack = m.keys.groupBy(_._1).map { case (b, ks) =>
      b -> ks.map(_._2).max }
    m.foreach { case ((b, p), n) =>
      if (p == lastPack(b)) assert(n <= ctx && n > 0, s"bucket $b last pack $n")
      else assert(n == ctx, s"bucket $b pack $p holds $n, want $ctx")
    }
    // token conservation: manifest totals == per-doc totals
    val total = df.select(Text.tokenCount($"text").cast("long")).collect()
      .map(_.getLong(0)).sum
    assert(m.values.sum == total)
  }

  test("trainPrep end-to-end invariants on the real corpus") {
    val docs = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val budgets = Map("en" -> 2000L, "de" -> 600L, "es" -> 600L, "fr" -> 500L)
    val out = graft.pipeline.Pipelines.trainPrep(
      docs.filter($"doc_id" % 97 =!= 0), "doc_id", "text",
      docs.filter($"doc_id" % 97 === 0), budgets,
      contextLen = 128, numBuckets = 4).collect()
    assert(out.nonEmpty)
    // no eval doc reaches the training layout
    assert(out.forall(_.getAs[Long]("doc_id") % 97 != 0))
    // no contaminated doc: recompute overlap for the survivors on the
    // SCRUBBED text — the pipeline shingles after PII scrub, and raw-text
    // shingles could disagree around masked spans
    val survivors = out.map(_.getAs[Long]("doc_id")).toSet
    val evalSh = docs.filter($"doc_id" % 97 === 0)
      .select(explode(Text.shingles(Text.scrubPii($"text"), 3)).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    val overlapping = docs
      .filter($"doc_id".isInCollection(survivors))
      .select($"doc_id", Text.shingles(Text.scrubPii($"text"), 3).as("sh"))
      .collect()
      .filter(_.getSeq[String](1).exists(evalSh.contains))
    assert(overlapping.isEmpty,
      s"contaminated survivors: ${overlapping.map(_.getLong(0)).toSeq}")
    // domain budgets respected, packs laid out consistently per bucket
    out.groupBy(_.getAs[String]("lang_pred")).foreach { case (l, rows) =>
      assert(rows.map(_.getAs[Long]("cum_tokens")).max <= budgets(l))
    }
    out.groupBy(_.getAs[Long]("bucket")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      var off = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("offset") == off)
        off += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("trainPrep materialize=true is row-identical to pure lineage") {
    val docs = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val budgets = Map("en" -> 2000L, "de" -> 600L, "es" -> 600L, "fr" -> 500L)
    def run(m: Boolean) = graft.pipeline.Pipelines.trainPrep(
      docs.filter($"doc_id" % 97 =!= 0), "doc_id", "text",
      docs.filter($"doc_id" % 97 === 0), budgets,
      contextLen = 128, numBuckets = 4, materialize = m)
      .orderBy("doc_id").collect().toSeq
    assert(run(false) == run(true))
  }

  test("trainPrep pinMode reliable/disk match localCheckpoint output") {
    val docs = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val budgets = Map("en" -> 2000L, "de" -> 600L, "es" -> 600L, "fr" -> 500L)
    def run(mode: String) = graft.pipeline.Pipelines.trainPrep(
      docs.filter($"doc_id" % 97 =!= 0), "doc_id", "text",
      docs.filter($"doc_id" % 97 === 0), budgets,
      contextLen = 128, numBuckets = 4, pinMode = mode)
      .orderBy("doc_id").collect().toSeq
    val local = run(graft.pipeline.Pipelines.PinLocal)
    // reliable mode refuses to run without a checkpoint dir (fail-fast
    // beats silently writing snapshots to executor-local /tmp)
    val noDir = intercept[IllegalArgumentException] {
      run(graft.pipeline.Pipelines.PinReliable)
    }
    assert(noDir.getMessage.contains("setCheckpointDir"))
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck")
    try {
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      assert(run(graft.pipeline.Pipelines.PinReliable) == local)
      // the reliable snapshots actually landed in the checkpoint dir
      val wrote = java.nio.file.Files.walk(ckDir).filter(
        java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable pin wrote nothing to the checkpoint dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(ckDir.toFile)
    }
    assert(run(graft.pipeline.Pipelines.PinDisk) == local)
    intercept[IllegalArgumentException] { run("bogus") }
  }

  test("packBucketsFor: floor on tiny input, grows with bytes, auto path") {
    val docs = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    // sf0.001 documents is ~100 KB — the floor of 8 applies
    assert(Text.packBucketsFor(docs) == 8)
    // shrinking bytesPerBucket grows the count ∝ input size
    val fine = Text.packBucketsFor(docs, bytesPerBucket = 4096)
    assert(fine > 8, s"expected > 8 buckets at 4 KiB/bucket, got $fine")
    // numBuckets <= 0 derives the same count as passing it explicitly
    val auto = Text.packSequences(docs, "doc_id", "text", 256)
      .orderBy("doc_id").collect().toSeq
    val explicit = Text.packSequences(docs, "doc_id", "text", 256,
      numBuckets = Text.packBucketsFor(docs)).orderBy("doc_id").collect().toSeq
    assert(auto == explicit)
    // a join-product frame has saturated/overflowed plan stats (Catalyst
    // multiplies child sizes); the derivation must fall back to the exact
    // byte count, NOT the 2^20 cap — the trainPrep auto path is exactly
    // this shape
    val joined = docs.join(
      docs.select($"doc_id", $"lang".as("l2")), Seq("doc_id"))
    assert(Text.packBucketsFor(joined, textCol = Some("text")) == 8)
    // and without a text column the floor applies rather than the cap
    assert(Text.packBucketsFor(joined) == 8)
  }

  test("pack manifest property: conservation, fullness, offset consistency") {
    val rnd = new scala.util.Random(20260814)
    for (round <- 1 to 3) {
      val ctx = 8 + rnd.nextInt(56)
      val nBuckets = 1 + rnd.nextInt(6)
      var nextId = 0L
      val rows = (0 until 40 + rnd.nextInt(80)).map { _ =>
        nextId += 1 + rnd.nextInt(5)
        (nextId, ("t " * rnd.nextInt(3 * ctx)).trim) // incl. empty + >ctx docs
      }
      val df = rows.toDF("doc_id", "text")
      val m = Text.packManifest(df, "doc_id", "text", ctx, nBuckets).collect()
        .map(r => ((r.getAs[Long]("bucket"), r.getAs[Long]("pack")),
          r.getAs[Long]("n_tokens"))).toMap
      // token conservation against the raw corpus
      val total = rows.map(r => Text.tokensScala(r._2).length.toLong).sum
      assert(m.values.sum == total, s"round $round conservation")
      // per bucket: packs are contiguous 0..last, all full except the last
      m.keys.groupBy(_._1).foreach { case (b, ks) =>
        val packs = ks.map(_._2).toSeq.sorted
        assert(packs == (0L to packs.max), s"round $round bucket $b gaps")
        packs.foreach { p =>
          if (p < packs.max) assert(m((b, p)) == ctx.toLong,
            s"round $round bucket $b pack $p not full")
          else assert(m((b, p)) > 0 && m((b, p)) <= ctx.toLong)
        }
      }
      // bucket totals match the per-bucket token sums of the input
      val perBucket = rows.groupBy(_._1 % nBuckets).map { case (b, rs) =>
        b -> rs.map(r => Text.tokensScala(r._2).length.toLong).sum }
      m.keys.groupBy(_._1).foreach { case (b, ks) =>
        // ks is a Set — map through toSeq so equal-sized packs don't dedup
        assert(ks.toSeq.map(m).sum == perBucket(b),
          s"round $round bucket $b total")
      }
    }
  }

  test("real resize: nearest-neighbor sums match direct computation") {
    val ids = Seq(3L, 17L).toDF("doc_id")
    val resized = Multimodal.resizeImages(
      Multimodal.syntheticImages(ids, "doc_id"), width = 5, height = 4)
    val out = Multimodal.decodeImages(resized).collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Long]("sum_r")))).toMap
    for (id <- Seq(3L, 17L)) {
      // the shared pixel/dims arithmetic, restated like the decode test
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      val base = (id % 256).toInt
      var expR = 0L
      for (y <- 0 until 4; x <- 0 until 5)
        expR += (base + 3 * (x * w / 5) + 5 * (y * h / 4)) % 256
      assert(out(id) == ((5, 4, expR)), s"id $id")
    }
    // corrupt blob → null content, no crash
    val junk = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(99L, "image",
          Array[Byte](1, 2, 3), null)),
      Multimodal.mediaSchema)
    val j = Multimodal.resizeImages(junk, 5, 4).collect()(0)
    assert(j.isNullAt(j.fieldIndex("content")))
  }

  test("cross-corpus near-dups pair new docs with ref twins only") {
    // ref: docs 0 (fox/dog) and 5 (german); new: 3 is a near-dup of 0,
    // 4 is novel — only the (3, 0) pair must surface, as (new_id, ref_id)
    val ref = docs.filter($"doc_id".isin(0L, 5L))
    val fresh = docs.filter($"doc_id".isin(3L, 4L))
    val out = Dedup.crossCorpusNearDups(fresh, ref, "doc_id", "text",
      threshold = 0.3, shingleSize = 1, maxShingleDf = 0).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"),
        r.getAs[Double]("jaccard")))
    assert(out.length == 1)
    assert(out(0)._1 == 3L && out(0)._2 == 0L)
    // distinct unigrams: 8 per doc ("the" repeats), 7 shared (dog vs cat)
    // → jaccard 7 / (8 + 8 - 7) = 7/9
    assert(math.abs(out(0)._3 - 7.0 / 9.0) < 1e-9)
  }

  test("stored near-dup index probe is row-identical to the recompute path") {
    // same split as the driver query, real corpus — the stored-index
    // probe must reproduce crossCorpusNearDups byte for byte, including
    // the ref-owned stop list read back from disk
    val corpus = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val ref = corpus.filter($"doc_id" % 3 === 0)
    val fresh = corpus.filter($"doc_id" % 3 =!= 0)
    val path = new java.io.File(SparkTestBase.tempDir("graft-ndidx"),
      "idx").getPath
    Dedup.writeNearDupIndex(ref, "doc_id", "text", path)
    val stored = Dedup.probeNearDupIndex(spark, path, fresh, "doc_id",
      "text", threshold = 0.3).orderBy("new_id", "ref_id").collect().toSeq
    val direct = Dedup.crossCorpusNearDups(fresh, ref, "doc_id", "text",
      threshold = 0.3).orderBy("new_id", "ref_id").collect().toSeq
    assert(stored == direct)
    assert(stored.nonEmpty)
    // probe must honor the STORED shingle size, not a caller guess:
    // meta says 3, so a planted 1-gram twin stays invisible
    val meta = spark.read.parquet(s"$path/meta.parquet").collect()(0)
    assert(meta.getAs[Int]("shingle_size") == 3)
  }

  test("spark.graft.dedup.pinSets=false disables the shingle-set pins " +
      "session-wide with identical results (preemptible-fleet opt-out)") {
    def run() = Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.1, shingleSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("shared"),
        r.getAs[Double]("jaccard"))).toSet
    def runNd() = Dedup.nearDuplicates(docs, "doc_id", "text",
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (pinned, pinnedNd) = (run(), runNd())
    assert(Dedup.pinSetsEnabled(spark))
    spark.conf.set(Dedup.PinSetsConf, "false")
    try {
      assert(!Dedup.pinSetsEnabled(spark))
      assert(run() == pinned)
      assert(runNd() == pinnedNd)
    } finally spark.conf.unset(Dedup.PinSetsConf)
    assert(Dedup.pinSetsEnabled(spark))
  }

  test("grouped jaccard variant is row-identical to the self-join path") {
    val a = Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.1, shingleSize = 2, maxShingleDf = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("shared"),
        r.getAs[Double]("jaccard"))).toSet
    val b = Dedup.jaccardPairsGrouped(docs, "doc_id", "text",
      threshold = 0.1, shingleSize = 2, maxShingleDf = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("shared"),
        r.getAs[Double]("jaccard"))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("jaccard pairs find the planted near-duplicate") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, shingleSize = 1)
      .select("id1", "id2", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) > 0.7)
    assert(!pairs.keys.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("md5-60bit hash matches the DuckDB expression contract") {
    // pinned against ('0x' || substr(md5(s), 1, 15))::BIGINT
    import graft.pipeline.MinHash
    assert(MinHash.hashMd5(0, "abc") == 1007738591113426928L)
    assert(MinHash.hashMd5(7, "the quick brown") == 859283159904724978L)
    assert(MinHash.hashMd5(63, "x") == 1146332152835323665L)
  }

  test("md5 minhash candidates ⊇ the pairs exact jaccard keeps") {
    val cands = Dedup.minhashCandidatesMd5(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 2, shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)))
    assert(cands.contains((0L, 3L)))
  }

  test("oversized LSH buckets are dropped by the bucket cap, others kept") {
    // 12 identical docs = a boilerplate cluster colliding in every band,
    // plus one distinct near-pair that must survive the cap
    val boiler = (100L until 112L).map(i =>
      (i, "exactly the same boilerplate text repeated through the corpus"))
    val all = (boiler ++ Seq(
      (0L, "a unique document about foxes and dogs running"),
      (1L, "a unique document about foxes and dogs sprinting")
    )).toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidates(all, "doc_id", "text",
      bands = 8, rowsPerBand = 2, shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } == 66) // 12C2
    val capped = Dedup.minhashCandidates(all, "doc_id", "text",
      bands = 8, rowsPerBand = 2, shingleSize = 1, maxBucketDocs = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a >= 100L && b >= 100L })
    assert(capped.contains((0L, 1L))) // the real near-pair still surfaces
  }

  test("minhash LSH surfaces the same near-dups as exact jaccard") {
    val near = Dedup.nearDuplicates(docs, "doc_id", "text",
      threshold = 0.5, bands = 16, rowsPerBand = 2, shingleSize = 1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.contains((0L, 1L)))
    assert(near.contains((0L, 3L)))
  }

  test("simhash: identical docs equal, near-dups close, distinct far") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(3L)) < ham(sh(0L), sh(4L)))
  }

  test("simhash candidates == brute-force hamming pairs (pigeonhole recall)") {
    // synthetic simhashes with planted near pairs: flips of 1..maxHamming
    // bits, plus random far values — candidates must equal the brute set
    val rnd = new scala.util.Random(99)
    val base = Array.fill(20)(rnd.nextLong())
    val sims = base.zipWithIndex.flatMap { case (h, i) =>
      val flips = (1 to 3).map { k =>
        var v = h
        rnd.shuffle((0 until 64).toList).take(k).foreach(b => v ^= (1L << b))
        v
      }
      (h +: flips).zipWithIndex.map { case (v, j) => (i * 10L + j, v) }
    }.toSeq
    val df = sims.toDF("doc_id", "simhash")
    val maxHam = 3
    val got = Dedup.simhashCandidates(df, "doc_id", maxHam)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (a, ha) <- sims; (b, hb) <- sims if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= maxHam
    } yield (a, b)).toSet
    assert(got == brute,
      s"missing=${(brute -- got).size} extra=${(got -- brute).size}")
  }

  test("simhash bucket guard bounds a planted boilerplate cluster") {
    // 40 docs sharing ONE simhash (a boilerplate cluster: every block
    // bucket holds all 40) + 6 isolated near pairs. Uncapped, the cluster
    // alone emits 40*39/2 pairs; with the guard those buckets are dropped
    // while the small buckets' pairs survive untouched
    val rnd = new scala.util.Random(7)
    val clusterHash = rnd.nextLong()
    val cluster = (0 until 40).map(i => (1000L + i, clusterHash))
    val pairs = (0 until 6).flatMap { i =>
      val h = rnd.nextLong()
      Seq((2000L + i * 2, h), (2001L + i * 2, h ^ (1L << (i * 7))))
    }
    val df = (cluster ++ pairs).toDF("doc_id", "simhash")
    val unguarded = Dedup.simhashCandidates(df, "doc_id", maxHamming = 3)
    assert(unguarded.count() == 40L * 39 / 2 + 6)
    val guarded = Dedup.simhashCandidates(df, "doc_id", maxHamming = 3,
      maxBucketDocs = 10)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall caveat is real: the cluster's own pairs are gone (blocks are
    // not redundant bands) — the guard trades them for bounded work
    assert(guarded == (0 until 6).map(i => (2000L + i * 2, 2001L + i * 2)).toSet)
  }

  test("int8 quantization: tight roundtrip, scale-invariant ranking, zero-safe") {
    import graft.pipeline.Similarity
    val emb = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "embeddings")
    val deq = emb.select($"vec_id", $"embedding",
        Similarity.quantizeInt8($"embedding").as("qs"))
      .select($"embedding",
        Similarity.dequantizeInt8($"qs.q", $"qs.max_abs").as("deq"))
      .select(Similarity.cosine($"embedding", $"deq").as("cos"))
      .collect().map(_.getDouble(0))
    // int8 over 64 dims keeps the direction almost exactly
    assert(deq.forall(_ > 0.995), s"worst=${deq.min}")
    val zero = Seq((Array.fill(4)(0.0f), 1)).toDF("v", "one")
      .select(Similarity.quantizeInt8($"v").as("qs"))
      .select($"qs.q", $"qs.max_abs").collect()(0)
    assert(zero.getSeq[Byte](0).forall(_ == 0) && zero.getDouble(1) == 0.0)
  }

  test("int8 quantization property: per-component error within half a step") {
    import graft.pipeline.Similarity
    // random vectors across 8 orders of magnitude, signed — the invariant
    // is |x - dequant(x)| <= (max_abs/127)/2 plus float-cast slack
    val rnd = new scala.util.Random(44)
    val vecs = Seq.fill(60) {
      val scale = math.pow(10, rnd.nextInt(8) - 4).toFloat
      Array.fill(16)((rnd.nextFloat() - 0.5f) * 2f * scale)
    }
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val rows = df.select($"v",
        Similarity.quantizeInt8($"v").as("qs"))
      .select($"v", $"qs.max_abs".as("ma"),
        Similarity.dequantizeInt8($"qs.q", $"qs.max_abs").as("deq"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val ma = r.getDouble(1)
      val deq = r.getSeq[Float](2)
      val bound = ma / 127.0 * 0.5 + ma * 1e-6
      v.zip(deq).foreach { case (x, y) =>
        assert(math.abs(x.toDouble - y.toDouble) <= bound,
          s"x=$x deq=$y max_abs=$ma bound=$bound")
      }
    }
  }

  test("quality features exact values") {
    val r = Text.qualityFeatures(docs.filter($"doc_id" === 0), "text")
      .collect()(0)
    assert(r.getAs[Long]("n_tokens") == 9L)
    assert(r.getAs[Double]("stopword_ratio") == 2.0 / 9.0) // the ×2
    assert(r.getAs[Double]("punct_ratio") == 0.0)
  }

  test("quality score: exact left-folded linear model + keep threshold") {
    // prose-ish vs digit-stuffed: hand-compute both scores with the SAME
    // left-to-right association the operator documents
    val fx = Seq((1L, "the cat sat on the mat"), (2L, "7 12 99 303 4511"))
      .toDF("doc_id", "text")
    val out = Text.qualityScore(fx, "text").orderBy("doc_id").collect()
    def fold(feats: Map[String, Double]): Double =
      Text.DefaultQualityWeights.foldLeft(0.0) {
        case (acc, (f, w)) => acc + w * feats(f)
      }
    val r1 = out(0)
    val expected1 = fold(Map(
      "stopword_ratio" -> r1.getAs[Double]("stopword_ratio"),
      "punct_ratio" -> r1.getAs[Double]("punct_ratio"),
      "digit_ratio" -> r1.getAs[Double]("digit_ratio"),
      "ws_ratio" -> r1.getAs[Double]("ws_ratio"),
      "mean_token_len" -> r1.getAs[Double]("mean_token_len"),
      "len_ramp" -> r1.getAs[Double]("len_ramp")))
    assert(r1.getAs[Double]("q_score") == expected1) // bit-exact
    assert(r1.getAs[Long]("q_keep") == (if (expected1 >= 0.5) 1L else 0L))
    // the digit-stuffed doc must score strictly below the prose doc and
    // below the keep threshold (digits carry weight -4)
    val r2 = out(1)
    assert(r2.getAs[Double]("q_score") < r1.getAs[Double]("q_score"))
    assert(r2.getAs[Long]("q_keep") == 0L)
  }

  test("curation funnel: monotone stages, final count equals curate") {
    val fx = graft.storage.Tables
      .read(spark, "/root/testdata/sf0.001", "documents")
    val funnel = graft.pipeline.Pipelines
      .curationFunnel(fx, "doc_id", "text")
      .orderBy("stage_idx").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toSeq
    assert(funnel.map(_._1) ==
      Seq("input", "length_lang", "exact_dedup", "near_dedup"))
    // every stage only drops — counts are monotone non-increasing
    funnel.map(_._2).sliding(2).foreach {
      case Seq(a, b) => assert(a >= b, s"stage grew: $funnel"); case _ =>
    }
    // the funnel's terminal count IS the curate output count
    val curated = graft.pipeline.Pipelines
      .curate(fx, "doc_id", "text").count()
    assert(funnel.last._2 == curated)
  }

  test("repetition stats count duplicate tokens and shingles exactly") {
    val fx = Seq(
      (1L, "a b c a b c a b c"), // 9 toks, 3 distinct; 7 shingles, 3 distinct
      (2L, "x y"),               // shorter than a 3-gram
      (3L, "")                   // degenerate
    ).toDF("doc_id", "text")
    val out = Text.repetitionStats(fx, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 9L, 3L, 3L, 7L, 3L),
      (2L, 2L, 2L, 1L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("pii scrub masks emails and phones, leaves clean text alone") {
    val fx = Seq(
      (1L, "write to bob.smith+x@mail.example.org today"),
      (2L, "call +1 555 123-4567 or +44 20 7946 0958 now"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = fx.select($"doc_id", Text.scrubPii($"text").as("s"),
        Text.piiEmailCount($"text").as("e"), Text.piiPhoneCount($"text").as("p"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "write to <EMAIL> today")
    assert(out(0).getLong(2) == 1L && out(0).getLong(3) == 0L)
    assert(out(1).getString(1) == "call <PHONE> or <PHONE> now")
    assert(out(1).getLong(2) == 0L && out(1).getLong(3) == 2L)
    assert(out(2).getString(1) == "no pii here at all")
    assert(out(2).getLong(2) == 0L && out(2).getLong(3) == 0L)
  }

  test("sequence packing: per-bucket offsets, boundary-spanning docs split") {
    // one bucket (ids all ≡ 0 mod 8), context 10: docs of 4/8/3 tokens →
    // offsets 0/4/12; the 8-token doc spans the pack-0|pack-1 cut
    val fx = Seq(
      (0L, "a b c d"),
      (8L, "a b c d e f g h"),
      (16L, "a b c")
    ).toDF("doc_id", "text")
    val out = Text.packSequences(fx, "doc_id", "text",
      contextLen = 10, numBuckets = 8).orderBy("doc_id")
      .select("doc_id", "bucket", "n_tokens", "offset", "pack_first", "pack_last")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 0L, 4L, 0L, 0L, 0L),
      (8L, 0L, 8L, 4L, 0L, 1L), // spans the boundary at token 10
      (16L, 0L, 3L, 12L, 1L, 1L)))
  }

  test("langid picks the language with most stopword hits") {
    val out = Text.langId(docs, "text").select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en")
    assert(out(5L) == "de")
  }

  test("chunking covers every token with the declared overlap") {
    // doc 0 has 9 tokens; size=4, overlap=2, step=2 → ceil((9-2)/2) = 4 chunks
    val out = Text.chunk(docs.filter($"doc_id" === 0), "doc_id", "text",
      size = 4, overlap = 2).orderBy("chunk_idx").collect()
    assert(out.length == 4)
    assert(out.map(_.getAs[String]("chunk_text")).toSeq == Seq(
      "the quick brown fox", "brown fox jumps over", "jumps over the lazy",
      "the lazy dog"))
    assert(out.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(4L, 4L, 4L, 3L))
    // empty doc → zero chunks (and no descending-sequence artifact)
    val empty = Seq((9L, "")).toDF("doc_id", "text")
    assert(Text.chunk(empty, "doc_id", "text", 4, 2).count() == 0)
    // NULL text → zero chunks too (a null token array must not slip the
    // n===0 guard and emit a phantom empty chunk that dupChunkStats /
    // boilerplateSpans would then fingerprint as shared content)
    val nullDoc = Seq((10L, Option.empty[String]), (11L, Some("a b c d")))
      .toDF("doc_id", "text")
    val nc = Text.chunk(nullDoc, "doc_id", "text", 4, 2)
    assert(nc.filter($"doc_id" === 10L).count() == 0)
    assert(nc.filter($"doc_id" === 11L).count() == 1)
  }

  test("shape guards fail loudly: zero histogram width, non-integral " +
      "pack and compression ids") {
    val docs = Seq((1L, "a b c", "s")).toDF("doc_id", "text", "src")
    intercept[IllegalArgumentException] {
      Text.lengthHistogram(docs, "text", "src", width = 0)
    }
    val strIds = Seq(("u1", 5L)).toDF("doc_id", "n_tokens")
    intercept[IllegalArgumentException] {
      Text.packByCounts(strIds, "doc_id", "n_tokens", 128, 4)
    }
    // packTokenIds buckets by the same pmod — a string/uuid id coerces
    // via double to NULL buckets, collapsing every doc into one
    // null-keyed single-task window partition; same loud guard
    val strTok = Seq(("u1", Seq(1, 2, 3))).toDF("doc_id", "ids")
    intercept[IllegalArgumentException] {
      Text.packTokenIds(strTok, "doc_id", 128, 4)
    }
    val intIds = Seq((1, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Text.compressionRatio(intIds, "doc_id", "text")
    }
  }

  test("importance weight table is dense: every bucket scores, including " +
      "ones the raw corpus never touched") {
    // md5 buckets at 16: alpha → 11, delta → 1 — disjoint by design
    val raw = Seq((1L, "alpha alpha")).toDF("doc_id", "text")
    val tgt = Seq((2L, "delta delta delta")).toDF("doc_id", "text")
    val w = Text.importanceWeights(raw, tgt, "text", buckets = 16)
    assert(w.count() == 16) // the documented `buckets`-rows contract
    // delta's bucket is raw-absent yet must carry the maximally
    // target-enriched weight, not be missing from the stored table
    val betaW = w.collect().map(r =>
      r.getAs[Long]("bkt") -> r.getAs[Long]("w")).toMap
    assert(betaW.values.exists(_ > (1L << 20)),
      betaW.toString) // some bucket scores above S (target-enriched)
  }

  test("collocations survives an empty corpus and leaves no cache " +
      "residue") {
    spark.sharedState.cacheManager.clearCache() // isolate the residue check
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Text.collocations(empty, "text").count() == 0)
    val docs = Seq((1L, "a b a b a b a b a b a b")).toDF("doc_id", "text")
    val out = Text.collocations(docs, "text", minCount = 2, topK = 5)
    assert(out.count() >= 1)
    // the unigram pin released when the call returned
    assert(spark.sharedState.cacheManager.isEmpty,
      "collocations left a cached frame behind")
  }

  test("hashSplit is deterministic and respects cut fractions") {
    val ids = (0L until 2000L).map(Tuple1(_)).toDF("doc_id")
    val s1 = Text.hashSplit(ids, "doc_id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s2 = Text.hashSplit(ids, "doc_id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
    assert(s1.values.sum == 2000)
    // 90/5/5 within generous tolerance
    assert(s1("train") > 1650 && s1("train") < 1940, s1)
    assert(s1("valid") > 40 && s1("valid") < 170, s1)
    assert(s1("test") > 40 && s1("test") < 170, s1)
  }

  test("fingerprint is normalization-invariant") {
    val fps = docs.select($"doc_id", Text.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) == fps(2L))
    assert(fps(0L) != fps(3L))
  }

  test("embeddingOutliers flags off-manifold vectors, keeps on-cluster ones") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // = centroid → cos 1
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // near centroid 0
      (2L, Array(0.0f, 0.0f, 0.0f, 1.0f)),   // orthogonal to both → outlier
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))   // orthogonal too → outlier
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("cid", "cvec")
    val out = Similarity.embeddingOutliers(corpus, cents, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cid"), r.getAs[Double]("cos")))).toMap
    assert(out.keySet == Set(2L, 3L))
    // ties on cos (both centroids score 0) break to the smaller cid
    assert(out(2L) == ((0L, 0.0)))
    assert(out(3L) == ((0L, 0.0)))
  }

  test("embeddingOutliers: a zero-norm (NaN-cosine) centroid cannot mask rows") {
    // Spark windows order NaN GREATEST, so without the pre-window NaN
    // filter the degenerate centroid would win every argmax and suppress
    // the whole outlier report (NaN < threshold is false) — and diverge
    // from the streaming twin, which skips NaN cosines per centroid
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 1.0f)))  // orthogonal → outlier
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // zero norm → NaN vs everything
      .toDF("cid", "cvec")
    val out = Similarity.embeddingOutliers(corpus, cents, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Double]("cos"))).toSeq
    assert(out == Seq((1L, 0L, 0.0)))
  }

  test("kNN/IVF: zero-norm (NaN-cosine) vectors never outrank real neighbors") {
    // NaN ranks greatest under desc windows, so an unfiltered zero-norm
    // vector would be every query's top neighbor and a degenerate
    // centroid would capture the whole corpus into one cell
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)))   // zero norm → NaN vs everything
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val nn = Similarity.knnBrute(vecs, q, k = 2).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq.sorted
    assert(nn == Seq((1, 1L))) // the twin — and ONLY the twin — survives
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f)),
      (9L, Array(0.0f, 0.0f, 0.0f))).toDF("cid", "cvec")
    val asg = Similarity.ivfAssign(vecs, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    // real vectors land in the real cell; the zero-norm row (NaN to every
    // centroid) drops from assignment — it is embeddingOutliers' job
    assert(asg == Map(0L -> 0L, 1L -> 0L))
  }

  test("top-k aggregator matches the window formulation, ties included") {
    // window path (the default: knnBrute's rankTopK → rankTopKWindow) vs
    // the heap aggregator (rankTopKAgg) on a tie-heavy corpus: duplicated
    // vectors make equal cosines, where the contract demands id-asc order
    val base = (0L until 40L).map { i =>
      val a = (i % 7).toFloat; val b = ((i / 7) % 5).toFloat
      (i, Array(a + 0.1f, b + 0.1f, 1.0f))
    }
    val dups = (40L until 60L).map(i => (i, base((i % 10).toInt)._2))
    val vecs = (base ++ dups).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val win = Similarity.knnBrute(vecs, q, k = 8).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).sorted
    val agg = Similarity.rankTopKAgg(
      vecs.crossJoin(broadcast(q)), 8, "vec_id", "qid",
      excludeSelf = true,
      Similarity.cosine($"qvec", $"embedding")).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).sorted
    assert(agg.length == 24) // 3 queries x k=8
    assert(agg.toSeq == win.toSeq)
    // short-group edge: k beyond the candidate count yields every
    // candidate once, ranks still dense from 1
    val all = Similarity.knnBrute(vecs, q.limit(1), k = 100).collect()
    assert(all.length == 59) // corpus minus self
    assert(all.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 59))
  }

  test("knn brute: nearest neighbor of a duplicated vector is its twin") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val out = Similarity.knnBrute(vecs, q, k = 2).orderBy("rank").collect()
    assert(out(0).getAs[Long]("vec_id") == 1L)
    assert(out(0).getAs[Double]("cos") > 0.99)
    assert(out(1).getAs[Long]("vec_id") != 4L)
  }

  test("UDF cosine is bit-identical to the HOF reference form") {
    val emb = graft.storage.Tables.read(spark, "/root/testdata/sf0.001",
      "embeddings")
    val pairs = emb.select($"vec_id".as("id1"), $"embedding".as("v1"))
      .join(emb.select($"vec_id".as("id2"), $"embedding".as("v2")),
        $"id1" === $"id2" - 1)
    val mismatches = pairs.select(
        Similarity.cosine($"v1", $"v2").as("u"),
        Similarity.cosineHof($"v1", $"v2").as("h"))
      .filter($"u" =!= $"h").count()
    assert(mismatches == 0)
  }

  test("lsh knn achieves high recall vs brute on clustered vectors") {
    // planted clusters: strong within-cluster cosine so LSH has signal
    // (unstructured random vectors have near-orthogonal neighbors — no
    // locality for ANY ANN method to find)
    val dims = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(5)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 100L).map { i =>
      val c = centers((i % 5).toInt)
      (i, c.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val brute = Similarity.knnBrute(vecs, q, 5).select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(vecs, q, 5, dims = dims, numPlanes = 6)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("semDedup finds planted twins inside kmeans cells, keeps min ids") {
    // clustered base vectors plus a near-identical twin of each (twin id =
    // base id + 1000): every (base, twin) pair must surface, and dedup
    // keeps exactly the base ids
    val dims = 16
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val base = (0L until 40L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }
    val twins = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x * 1.001f)) }
    val all = (base ++ twins).toDF("vec_id", "embedding")
    val pairs = Similarity.semDedupPairs(all, k = 4, iters = 2, tau = 0.999)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    val twinPairs = base.map { case (i, _) => (i, i + 1000L) }.toSet
    assert(twinPairs.subsetOf(pairs.toSet)) // every twin pair found
    val kept = Similarity.semDeduped(all, k = 4, iters = 2, tau = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((0L until 40L).forall(kept.contains)) // min ids survive
    assert(base.map(_._1 + 1000L).forall(i => !kept.contains(i)))
  }

  test("multi-table LSH lifts recall over a single table") {
    val dims = 16
    val rnd = new scala.util.Random(21)
    val centers = Array.fill(8)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 160L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val brute = Similarity.knnBrute(vecs, q, 5).select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(tables: Int): Double = {
      val approx = Similarity.lshKnn(vecs, q, 5, dims = dims, numPlanes = 8,
        numTables = tables).select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect approx).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1, s"4-table recall $r4 < 1-table $r1")
    assert(r4 >= 0.9, s"4-table recall $r4 too low")
  }

  test("multimodal plumbing: features deterministic, metadata-only scan") {
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val f1 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(f1.map(_.getSeq[Float](3)).toSeq == f2.map(_.getSeq[Float](3)).toSeq)
    assert(f1.forall(_.getSeq[Float](3).length == Multimodal.FeatureDim))
    // identical bytes (docs 0 and 1) → identical features
    assert(f1(0).getSeq[Float](3) == f1(1).getSeq[Float](3))
    val frames = Multimodal.frameSample(media, 4)
    assert(frames.count() == docs.count() * 4)
  }

  test("real image decode: PNG roundtrip recovers the exact pixel function") {
    val imgs = Multimodal.syntheticImages(docs, "doc_id")
    // the content really is a PNG (magic bytes), not a byte-fold stub
    val first = imgs.orderBy("media_id").collect()(0)
    val bytes = first.getAs[Array[Byte]]("content")
    assert(bytes.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val decoded = Multimodal.decodeImages(imgs).orderBy("media_id").collect()
    decoded.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      assert(r.getInt(1) == w && r.getInt(2) == h)
      val base = (id % 256).toInt
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        sr += (base + 3 * x + 5 * y) % 256
        sg += (2 * base + x + 7 * y) % 256
        sb += (base + x * y) % 256
      }
      assert(r.getLong(3) == sr && r.getLong(4) == sg && r.getLong(5) == sb,
        s"channel sums mismatch for id=$id")
    }
    // a corrupt blob decodes to nulls, not a task failure
    val corrupt = Multimodal.decodeImages(
      imgs.withColumn("content",
        org.apache.spark.sql.functions.expr("CAST('nope' AS BINARY)")))
      .collect()
    assert(corrupt.forall(_.isNullAt(1)))
  }

  test("audio WAV roundtrip recovers the exact PCM sample function") {
    val wavs = Multimodal.syntheticAudio(docs, "doc_id")
    // the blobs are genuine RIFF/WAV containers
    val firstBytes = wavs.orderBy("media_id").limit(1)
      .collect()(0).getAs[Array[Byte]]("content")
    assert(new String(firstBytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(firstBytes.slice(8, 12), "US-ASCII") == "WAVE")
    val decoded = Multimodal.decodeAudio(wavs).orderBy("media_id").collect()
    decoded.foreach { r =>
      val id = r.getLong(0)
      val n = (200 + id % 101).toInt
      assert(r.getLong(1) == n.toLong && r.getInt(2) == 8000)
      assert(r.getLong(3) == n.toLong * 1000 / 8000)
      var (sum, sumAbs) = (0L, 0L)
      for (i <- 0 until n) {
        val s = ((id * 31 + 7L * i * i + 13L * i) % 65536) - 32768
        sum += s; sumAbs += math.abs(s)
      }
      assert(r.getLong(4) == sum && r.getLong(5) == sumAbs,
        s"sample sums mismatch for id=$id")
    }
    // a corrupt blob decodes to nulls, not a task failure
    val corrupt = Multimodal.decodeAudio(
      wavs.withColumn("content",
        org.apache.spark.sql.functions.expr("CAST('nope' AS BINARY)")))
      .collect()
    assert(corrupt.forall(_.isNullAt(1)))
  }

  test("video container roundtrip decodes exactly the sampled frames") {
    val vids = Multimodal.syntheticVideo(docs, "doc_id")
    val decoded = Multimodal.decodeVideoFrames(vids, stride = 2)
      .orderBy("media_id", "frame_idx").collect()
    // sampled set: frames 0,2,4 of nf = 2 + id % 4 per video
    val expectedRows = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => (0 until (2 + id % 4).toInt).count(_ % 2 == 0)).sum
    assert(decoded.length == expectedRows)
    decoded.foreach { r =>
      val (id, k) = (r.getLong(0), r.getInt(1))
      assert(k % 2 == 0)
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      assert(r.getInt(2) == w && r.getInt(3) == h)
      val base = ((id + 131L * k) % 256).toInt
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        sr += (base + 3 * x + 5 * y) % 256
        sg += (2 * base + x + 7 * y) % 256
        sb += (base + x * y) % 256
      }
      assert(r.getLong(4) == sr && r.getLong(5) == sg && r.getLong(6) == sb,
        s"frame sums mismatch for id=$id k=$k")
    }
    // a blob failing the magic check yields one null row per video
    val corrupt = Multimodal.decodeVideoFrames(
      vids.withColumn("content",
        org.apache.spark.sql.functions.expr("CAST('nope-not-a-video' AS BINARY)")))
      .collect()
    assert(corrupt.length == docs.count() && corrupt.forall(_.isNullAt(1)))
    // valid magic but garbage after it (negative count / length words, or
    // truncation) must also yield the null marker row, never a crash or a
    // silent drop
    val magicOnly = Array[Byte](0x47, 0x46, 0x56, 0x31)
    for (garbage <- Seq(
        magicOnly ++ Array[Byte](-1, -1, -1, -1),             // nf = -1
        magicOnly ++ Array[Byte](0, 0, 0, 2, -1, -1, -1, -1), // len = -1
        magicOnly ++ Array[Byte](0, 0, 0, 2, 0, 0, 0, 99))) { // truncated
      val bad = Multimodal.decodeVideoFrames(
        vids.limit(3).withColumn("content",
          org.apache.spark.sql.functions.lit(garbage))).collect()
      assert(bad.length == 3 && bad.forall(_.isNullAt(1)),
        s"garbage container ${garbage.toSeq} not null-rowed")
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeVideoFrames(vids, stride = 0)
    }
  }

  test("resize stub: deterministic payloads, updated metadata, size scaling") {
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val r1 = Multimodal.resizeStub(media, 64, 48).orderBy("media_id").collect()
    val r2 = Multimodal.resizeStub(media, 64, 48).orderBy("media_id").collect()
    assert(r1.map(_.getAs[Array[Byte]]("content").toSeq).toSeq ==
      r2.map(_.getAs[Array[Byte]]("content").toSeq).toSeq)
    assert(r1.forall(_.getAs[Array[Byte]]("content").length == 64 * 48 / 64))
    val meta = r1(0).getStruct(3)
    assert(meta.getInt(0) == 64 && meta.getInt(1) == 48)
    assert(meta.getString(3) == "application/x-resized")
    // identical inputs (docs 0 and 1) → identical resized payloads
    assert(r1(0).getAs[Array[Byte]]("content").toSeq ==
      r1(1).getAs[Array[Byte]]("content").toSeq)
  }

  test("ivf knn recall vs brute on clustered vectors") {
    val dims = 16
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(4)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val cents = (0 until 4).map(i => (i.toLong, centers(i)))
      .toDF("cid", "cvec")
    val q = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val assigned = Similarity.ivfAssign(vecs, cents)
    val brute = Similarity.knnBrute(vecs, q, 5).select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnn(assigned, cents, q, 5, nprobe = 1)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"ivf recall $recall")
  }

  test("kmeans recovers planted clusters well enough for high IVF recall") {
    val dims = 16
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(4)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(vecs, k = 4, iters = 3)
    assert(cents.count() == 4)
    assert(cents.collect().forall(_.getSeq[Float](1).length == dims))
    val q = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val assigned = Similarity.ivfAssign(vecs, cents)
    val brute = Similarity.knnBrute(vecs, q, 5).select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnn(assigned, cents, q, 5, nprobe = 1)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"kmeans-ivf recall $recall")
  }

  test("kmeans keeps k cells when a duplicate-seeded cell empties") {
    // the first 3 corpus vectors seed the centroids and two are
    // IDENTICAL: the cid-asc tie-break starves the duplicate cell in
    // round 1 — it must keep its previous centroid, not vanish (the
    // caller's nprobe/k pruning arithmetic reads k cells)
    val a = Array.fill(8)(1.0f)
    val b = Array.tabulate(8)(j => if (j < 4) 1.0f else -1.0f)
    val vecs = (Seq((0L, a.toSeq), (1L, a.toSeq), (2L, b.toSeq)) ++
      (3L until 40L).map(i => (i, b.map(x =>
        x + 0.01f * (i % 5)).toSeq))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(vecs, k = 3, iters = 2)
    assert(cents.count() == 3, "an emptied cell was silently dropped")
  }

  test("pq training skips corrupt sample vectors; ragged codebooks rank") {
    // a null and a short vector inside the sample head must be SKIPPED
    // (training on zero-padded fabrications would bias subspaces), and
    // a low-diversity first subspace trains fewer centroids than the
    // second — the ADC tables must size per subspace, not by subspace 0
    val base = (0 until 60).map { i =>
      // subspace 0 (dims 0-3) constant; subspace 1 (dims 4-7) diverse
      (10L + i, (Array.fill(4)(1.0f) ++
        Array.tabulate(4)(j => math.sin(i * 4 + j).toFloat)).toSeq)
    }
    val dirty = Seq((0L, null.asInstanceOf[Seq[Float]]),
      (1L, Seq(1.0f, 2.0f))) ++ base
    val vecs = dirty.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, m = 2, k = 8)
    assert(books(0).length == 1, "constant subspace should train 1 centroid")
    assert(books(1).length > 1)
    val enc = Similarity.pqEncode(vecs, books)
    val q = vecs.filter($"vec_id" === 10L)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // ragged tables: this crashed with ArrayIndexOutOfBounds pre-fix
    assert(Similarity.pqKnn(enc, books, q, k = 3).count() == 3)
  }

  test("rhp signatures: out-of-range plane counts fail loudly, " +
      "wrong-length vectors bucket nowhere") {
    intercept[IllegalArgumentException] {
      Similarity.rhpSignature(col("embedding"), dims = 8, numPlanes = 40,
        seed = 1)
    }
    val vecs = Seq((0L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val sigs = vecs.select($"vec_id",
      Similarity.rhpSignature($"embedding", dims = 4, numPlanes = 4,
        seed = 1).as("sig")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!sigs(0L)) // full-length vector buckets
    assert(sigs(1L)) // truncated vector must NOT bucket by its prefix
  }

  test("labelCentroidSums fails loudly past BIGINT instead of wrapping") {
    val big = Seq(("x", Seq(1e9f)), ("x", Seq(1e9f))).toDF("label", "embedding")
    val ex = intercept[Exception] {
      Similarity.labelCentroidSums(big, "label").collect()
    }
    assert(ex.getMessage.contains("BIGINT") ||
      Option(ex.getCause).exists(_.getMessage.contains("BIGINT")), ex.toString)
  }

  test("ivf assign maps every vector to exactly one centroid") {
    val emb = graft.storage.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val assigned = Similarity.ivfAssign(emb, cents)
    assert(assigned.count() == emb.count())
    assert(assigned.select("cid").distinct().count() <= 4)
  }

  test("shuffleShards: permutation is data-derived — partitioning-immune") {
    val ids = (0L until 200L).toDF("id")
    def order(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      Text.shuffleShards(df, "id", seed = 42L, nShards = 8)
        .select("id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val a = order(ids.repartition(1))
    val b = order(ids.repartition(13))
    assert(a == b) // same permutation no matter how the input is split
    // every id appears once; shards in range; positions contiguous from 0
    assert(a.map(_._1).distinct.size == 200)
    assert(a.forall { case (_, s, _) => s >= 0 && s < 8 })
    val byShard = a.groupBy(_._2)
    byShard.foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted == (0L until rows.size.toLong),
        s"shard $s positions not contiguous")
    }
    // a different seed gives a different permutation (same membership)
    val c = Text.shuffleShards(ids, "id", seed = 43L, nShards = 8)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(c != a && c.map(_._1) == a.map(_._1))
  }

  test("removeBoilerplate: repeated spans drop, text reassembles in order") {
    // 4-token chunks; "common header text here" is planted in 3 docs →
    // df=3 boilerplate; each doc's unique tail must survive in order
    val df = Seq(
      (0L, "common header text here alpha beta gamma delta"),
      (1L, "common header text here epsilon zeta eta theta"),
      (2L, "common header text here iota kappa lambda mu"),
      (3L, "totally unique document body with eight words here"),
      (4L, "") // token-less doc passes through untouched
    ).toDF("doc_id", "text")
    val out = Text.removeBoilerplate(df, "doc_id", "text",
        size = 4, minDf = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "alpha beta gamma delta")
    assert(out(0).getLong(2) == 2 && out(0).getLong(3) == 1)
    assert(out(1).getString(1) == "epsilon zeta eta theta")
    assert(out(2).getString(1) == "iota kappa lambda mu")
    // unique doc: nothing dropped, text intact (2 chunks + 1-word tail)
    assert(out(3).getString(1) ==
      "totally unique document body with eight words here")
    assert(out(3).getLong(3) == 0)
    // empty doc: present, empty text, zero chunks
    assert(out(4).getString(1) == "" && out(4).getLong(2) == 0)
    // all-boilerplate doc comes back EMPTY, not missing
    val all = Seq(
      (0L, "same four word span"), (1L, "same four word span"),
      (2L, "same four word span")).toDF("doc_id", "text")
    val cleaned = Text.removeBoilerplate(all, "doc_id", "text",
        size = 4, minDf = 3)
      .orderBy("doc_id").collect()
    assert(cleaned.length == 3)
    assert(cleaned.forall(r => r.getString(1) == "" && r.getLong(3) == 1L))
  }

  test("lengthTrimPct: each group keeps its own percentile band") {
    // group a: lengths 1..10 with [10, 90] → keep 2..9 exactly: len 1
    // occupies mass (0,1] ⊆ bottom 10% tail, len 10 occupies (9,10] ⊆
    // top tail; group b: constant length → its one value IS the central
    // mass, so everything survives (mass-overlap, not strict-band)
    val df = ((1 to 10).map(i => ("a", i.toLong, i.toLong)) ++
      (1 to 4).map(i => ("b", 7L, 100L + i))).toDF("g", "len", "id")
    val out = Text.lengthTrimPct(df, "len", "g", 10, 90)
      .orderBy("id").collect()
    assert(out.filter(_.getString(0) == "a").map(_.getLong(1)).toSeq ==
      (2L to 9L))
    assert(out.count(_.getString(0) == "b") == 4)
  }

  test("boilerplate index at rest: stored probe = direct, crash heals") {
    val corpus = Seq(
      (0L, "common header text here alpha beta gamma delta"),
      (1L, "common header text here epsilon zeta eta theta"),
      (2L, "common header text here iota kappa lambda mu"),
      (3L, "totally unique document body with eight words here"))
      .toDF("doc_id", "text")
    val path = SparkTestBase.tempDir("graft-boiler-idx") + "/idx"
    graft.pipeline.Text.writeBoilerplateIndex(corpus, "doc_id", "text",
      path, size = 4, minDf = 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val direct = rows(graft.pipeline.Text.removeBoilerplate(
      corpus, "doc_id", "text", size = 4, minDf = 3))
    val stored = rows(graft.pipeline.Text.removeBoilerplateStored(
      spark, corpus, "doc_id", "text", path))
    assert(stored == direct)
    // simulate a crash between the two publish renames: live gone, the
    // complete tree stranded at .build-old — the next open must heal it
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".build-old")))
    val healed = rows(graft.pipeline.Text.removeBoilerplateStored(
      spark, corpus, "doc_id", "text", path))
    assert(healed == direct)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path)))
  }

  test("profile: per-column nulls/distincts/min-max from one pass") {
    val df = Seq(
      (Some(1L), Some("b")), (Some(2L), None),
      (Some(2L), Some("a")), (None, Some("a"))
    ).toDF("k", "v")
    val rows = Text.profile(df, Seq("k", "v"))
      .orderBy("col_name").collect()
    val k = rows(0); val v = rows(1)
    assert(k.getString(0) == "k" && k.getLong(1) == 4 &&
      k.getLong(2) == 1 && k.getLong(3) == 2 &&
      k.getString(4) == "1" && k.getString(5) == "2")
    assert(v.getString(0) == "v" && v.getLong(1) == 4 &&
      v.getLong(2) == 1 && v.getLong(3) == 2 &&
      v.getString(4) == "a" && v.getString(5) == "b")
  }

  test("bpeTrain learns greedy merges with count-then-pair tie-break") {
    // low×3, lower, lowest: (l,o) and (o,w) tie at 5 → pair asc picks
    // (l,o); then (lo,w)=5, (low,e)=2, then a 3-way count-1 tie where
    // "lowe r" < "lowe s" < "s t"
    val df = Seq((0L, "low lower lowest"), (1L, "low low")).toDF("doc_id", "text")
    val m = Text.bpeTrain(df, "text", merges = 4)
    assert(m == Seq(("l", "o"), ("lo", "w"), ("low", "e"), ("lowe", "r")))
    val enc = Text.bpeEncode(df, "doc_id", "text", m)
      .orderBy("doc_id").collect()
    // low→[low], lower→[lower], lowest→[lowe,s,t]
    assert(enc(0).getAs[Long]("n_words") == 3 &&
      enc(0).getAs[Long]("n_bpe") == 1 + 1 + 3)
    assert(enc(1).getAs[Long]("n_words") == 2 &&
      enc(1).getAs[Long]("n_bpe") == 2)
  }

  test("bpeTrainBatch: k=1 degenerates to classic greedy; a round's " +
      "merges are symbol-disjoint") {
    val df = Seq((0L, "low lower lowest"), (1L, "low low"),
      (2L, "the then there"), (3L, "in inn inner")).toDF("doc_id", "text")
    // one pair per round == bpeTrain's one merge per job, bit for bit
    assert(Text.bpeTrainBatch(df, "text", rounds = 4, pairsPerRound = 1)
      == Text.bpeTrain(df, "text", merges = 4))
    // the rank-window rule, pinned: counts ab×3, bc×2, cd×2, ef×1 rank
    // as (a b)=3, (b c)=2, (c d)=2, (e f)=1. Round 1: (a,b) selected;
    // (b,c) shares b → rejected; (c,d) shares c with the REJECTED (b,c)
    // — the window rule shadows by rank, not by acceptance — rejected
    // too; (e,f) selected. Round 2 recounts: (b,c) first, (c,d) shadowed
    // again. Round 3: (c,d) finally lands.
    val df2 = Seq((0L, "ab ab ab bc bc"), (1L, "cd cd ef"))
      .toDF("doc_id", "text")
    assert(Text.bpeTrainBatch(df2, "text", rounds = 3, pairsPerRound = 4,
        candidatesPerRound = 32)
      == Seq(("a", "b"), ("e", "f"), ("b", "c"), ("c", "d")))
  }

  test("bpeEncode's big-list paths (rank encoder, vocabulary join) are " +
      "byte-equivalent to the codegen replace chain across the threshold") {
    // train a list ABOVE BpeEncodeChainMax on real corpus text, then
    // encode the same frame through all three paths: the automatic rank
    // path and the forced vocabulary-join path must produce identical
    // per-doc counts to the Column chain (list forced through the small path by
    // splitting the encode into two sequential applications is NOT
    // valid — replaces do not commute — so compare against the chain
    // built directly, which still analyzes at this size)
    // the synthetic corpus's 31-word vocabulary exhausts BPE before the
    // threshold — glue word trigrams (the ScaleProbe bpe_train_8k
    // population) so a >64-merge list exists to train
    import org.apache.spark.sql.functions.{col, explode, size => sz,
      split, trim, count, lit, sum, lower, expr => exprF}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
      .withColumn("__ws", split(lower(col("text")), "[^a-z0-9]+"))
      .filter(sz(col("__ws")) >= 3)
      .withColumn("text", exprF(
        "array_join(transform(sequence(0, size(__ws) - 3), " +
          "i -> concat(__ws[i], '000', __ws[i + 1], '000', " +
          "__ws[i + 2])), ' ')"))
      .drop("__ws")
    val m = Text.bpeTrainBatch(docs, "text", rounds = 20,
      pairsPerRound = 16, candidatesPerRound = 256)
    assert(m.size > Text.BpeEncodeChainMax, s"fixture too small: ${m.size}")
    // the automatic big-list path is the broadcast rank encoder
    val big = Text.bpeEncode(docs, "doc_id", "text", m)
      .orderBy("doc_id").collect().toSeq
    // the interpreted vocabulary-join fallback, forced
    val join = Text.bpeEncodeVia(docs, "doc_id", "text", m, "join")
      .orderBy("doc_id").collect().toSeq
    // the chain path, forced: encode via bpeApply directly
    val chain = Text.fanOut(docs)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .withColumn("__n", sz(split(trim(Text.bpeApply(col("w"), m)), " ")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("__n").cast("long")).as("n_bpe"))
      .orderBy("doc_id").collect().toSeq
    def flat(s: Seq[org.apache.spark.sql.Row]) =
      s.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(flat(big) == flat(chain))
    assert(flat(join) == flat(chain))
  }

  test("bpe rank encoder replicates the shared-separator replace quirk, " +
      "duplicate listings, and out-of-order lists byte-for-byte") {
    // ` a b ` → ` ab ` consumes the trailing separator, so the pair
    // immediately after a match is ineligible IN THAT PASS: abab →
    // [ab, a, b] (3 pieces, not classic BPE's 2), ababab → [ab, a, b,
    // ab] (4). Every path must reproduce this byte-for-byte.
    val df = Seq((0L, "abab ababab aaa ab ba")).toDF("doc_id", "text")
    val one = Seq(("a", "b"))
    for (path <- Seq("chain", "rank", "join")) {
      val r = Text.bpeEncodeVia(df, "doc_id", "text", one, path).collect()
      assert(r(0).getAs[Long]("n_bpe") == 3 + 4 + 3 + 1 + 2,
        s"path $path: ${r(0)}")
    }
    // an out-of-order list: the consumed symbol `ab` is produced by a
    // LATER merge, so ordered replace runs (ab,c) as a NO-OP (no `ab`
    // symbol exists at its turn) and never revisits it — the rank
    // cursor, having passed rank 0 while its pair was absent, skips it
    // identically. abc → (a,b) → [ab, c] = 2 per word.
    val pad = (0 until Text.BpeEncodeChainMax).map(i =>
      (s"_pad$i", s"_pad$i"))
    val bad = Seq(("ab", "c"), ("a", "b")) ++ pad
    val abc = df.withColumn("text", lit("abc abc"))
    for (path <- Seq("chain", "rank", "join")) {
      val r = Text.bpeEncodeVia(abc, "doc_id", "text", bad, path).collect()
      assert(r(0).getAs[Long]("n_bpe") == 4, s"path $path: ${r(0)}")
    }
    // a DUPLICATE listing is two passes: pass one leaves the
    // shared-separator residue ([ab, a, b]), the higher-ranked relisting
    // fires from its own rank and merges it ([ab, ab]) — trained lists
    // genuinely contain these (residue keeps a merged pair's bigram
    // countable, so training can re-learn it)
    val dup = Seq(("a", "b"), ("a", "b")) ++ pad
    for (path <- Seq("chain", "rank", "join")) {
      val r = Text.bpeEncodeVia(df.withColumn("text", lit("abab")),
        "doc_id", "text", dup, path).collect()
      assert(r(0).getAs[Long]("n_bpe") == 2, s"path $path: ${r(0)}")
    }
  }

  test("bpeTokenize emits the artifact-induced id sequence in document " +
      "order, consistent with bpeEncode's counts") {
    // trained on the classic fixture: merges (l,o)=36, (lo,w)=37,
    // (low,e)=38, (lowe,r)=39; base ids '0'-'9'→0-9, 'a'-'z'→10-35
    val df = Seq((0L, "low lower lowest"), (1L, "low low"))
      .toDF("doc_id", "text")
    val m = Text.bpeTrain(df, "text", merges = 4)
    val out = Text.bpeTokenize(df, "doc_id", "text", m)
      .orderBy("doc_id").collect()
    // merge outputs: lo=36, low=37, lowe=38, lower=39; chars s=28, t=29.
    // doc 0 = [low][lower][lowe,s,t] → [37, 39, 38, 28, 29], in order
    assert(out(0).getAs[scala.collection.Seq[Int]]("ids").toSeq ==
      Seq(37, 39, 38, 28, 29), out(0).toString)
    assert(out(1).getAs[scala.collection.Seq[Int]]("ids").toSeq ==
      Seq(37, 37))
    assert(out(0).getAs[Long]("n_bpe") == 5 &&
      out(1).getAs[Long]("n_bpe") == 2)
    // n_bpe consistency with bpeEncode across a real corpus slice and
    // a >64-merge list (the rank path end to end, id level included)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val big = Text.bpeTrainBatch(docs, "text", rounds = 6,
      pairsPerRound = 16, candidatesPerRound = 128)
    val tok = Text.bpeTokenize(docs, "doc_id", "text", big)
      .agg(sum("n_bpe")).head().getLong(0)
    val enc = Text.bpeEncode(docs, "doc_id", "text", big)
      .agg(sum("n_bpe")).head().getLong(0)
    assert(tok == enc, s"tokenize $tok vs encode $enc")
    // every id is decodable: within [0, 36 + merges)
    val maxId = Text.bpeTokenize(docs, "doc_id", "text", big)
      .selectExpr("max(array_max(ids))").head().getInt(0)
    assert(maxId < 36 + big.size)
  }

  test("packTokenIds materializes exact context windows: doc order, " +
      "span slicing at boundaries, full packs except the bucket tail") {
    // ids doc0 = [37, 39, 38, 28, 29], doc1 = [37, 37] (the bpeTokenize
    // fixture); one bucket, contextLen 3 → stream [37,39,38 | 28,29,37 | 37]
    val df = Seq((0L, "low lower lowest"), (1L, "low low"))
      .toDF("doc_id", "text")
    val m = Text.bpeTrain(df, "text", merges = 4)
    val toks = Text.bpeTokenize(df, "doc_id", "text", m)
    val packs = Text.packTokenIds(toks, "doc_id", contextLen = 3,
        numBuckets = 1)
      .orderBy("pack").collect()
    def ids(i: Int) =
      packs(i).getAs[scala.collection.Seq[Int]]("ids").toSeq
    assert(packs.length == 3)
    assert(ids(0) == Seq(37, 39, 38) &&
      packs(0).getAs[Long]("n_docs") == 1)
    // pack 1 straddles the doc boundary: doc0's tail + doc1's head
    assert(ids(1) == Seq(28, 29, 37) &&
      packs(1).getAs[Long]("n_docs") == 2)
    assert(ids(2) == Seq(37) && packs(2).getAs[Long]("n_docs") == 1)
    // layout agreement with the planner: same counts, same arithmetic
    val plan = Text.packByCounts(
        toks.select(col("doc_id"), col("n_bpe")), "doc_id", "n_bpe",
        contextLen = 3, numBuckets = 1)
      .orderBy("doc_id").collect()
    assert(plan(0).getAs[Long]("pack_first") == 0 &&
      plan(0).getAs[Long]("pack_last") == 1)
    assert(plan(1).getAs[Long]("pack_first") == 1 &&
      plan(1).getAs[Long]("pack_last") == 2)
    // corpus-scale invariants: token conservation and full packs
    // everywhere except each bucket's last
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    val big = Text.bpeTokenize(docs, "doc_id", "text",
      Text.bpeTrain(docs, "text", merges = 8))
    val p2 = Text.packTokenIds(big, "doc_id", contextLen = 128,
      numBuckets = 4).persist()
    try {
      assert(p2.agg(org.apache.spark.sql.functions.sum("n_tokens"))
        .head().getLong(0) ==
        big.agg(org.apache.spark.sql.functions.sum("n_bpe"))
          .head().getLong(0))
      val lastPerBucket = p2.groupBy("bucket")
        .agg(org.apache.spark.sql.functions.max("pack").as("last"))
      val partials = p2.join(lastPerBucket, "bucket")
        .filter(col("pack") < col("last") && col("n_tokens") =!= 128)
      assert(partials.isEmpty,
        "a non-tail pack must hold exactly contextLen ids")
    } finally p2.unpersist()
  }

  test("bpe merge application is left-to-right non-overlapping") {
    // "aaa" under merge (a,a): " a a a " → " aa a " — the first pair
    // consumes its separator, the scan resumes after the replacement
    val df = Seq((0L, "aaa")).toDF("doc_id", "text")
    val enc = Text.bpeEncode(df, "doc_id", "text", Seq(("a", "a"))).collect()
    assert(enc(0).getAs[Long]("n_bpe") == 2)
    // and training counts overlapping pairs (2 for "aaa"), mirroring the
    // oracle's positional bigram count
    val m = Text.bpeTrain(df, "text", merges = 1)
    assert(m == Seq(("a", "a")))
  }

  test("fuzzyPairs == brute-force levenshtein<=1 pairs (SymSpell recall)") {
    // planted edit types against doc 0's key: exact (1), whitespace/case
    // (2, same normalized key), substitution (3), deletion (4), insertion
    // (5), two edits (6, must NOT match), unrelated (7)
    val fz = Seq(
      (0L, "abcdefgh ijkl"),
      (1L, "abcdefgh ijkl"),
      (2L, "  Abcdefgh   IJKL "),
      (3L, "abcXefgh ijkl"),
      (4L, "abcdegh ijkl"),
      (5L, "abcdefgh zijkl"),
      (6L, "abXdefgh iYkl"),
      (7L, "totally other text")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(fz, "doc_id", "text", keyLen = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same normalized keys
    val keys = fz.select(col("doc_id"),
      substring(regexp_replace(trim(lower(col("text"))), "\\s+", " "),
        1, 40).as("k")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, ka) <- keys; (ib, kb) <- keys if ia < ib
      dist = lev(ka, kb) if dist <= 1
    } yield (ia, ib, dist)).toSet
    assert(got == want)
    assert(want.contains((0L, 3L, 1)) && want.contains((0L, 4L, 1)) &&
      want.contains((0L, 5L, 1)) && want.contains((0L, 1L, 0)) &&
      want.contains((0L, 2L, 0)))
    assert(!want.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("dupSpanCoverage: overlapping windows merge into maximal spans, " +
      "within-doc repeats count, sub-k docs report zero") {
    // k=3: docs 1 and 2 share "a b c d" → windows at pos 0 and 1 in each,
    // overlapping → ONE maximal span of 4 tokens (not 2×3=6); doc 3
    // repeats its own trigram at pos 0 and 3 → two disjoint 3-token
    // islands despite no cross-doc copy; doc 4 has <3 tokens → 0/2
    val fx = Seq(
      (1L, "a b c d x y z"),
      (2L, "p q a b c d"),
      (3L, "m n o m n o"),
      (4L, "u v")
    ).toDF("doc_id", "text")
    val got = Text.dupSpanCoverage(fx, "doc_id", "text", k = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 7L, 4L), (2L, 6L, 4L), (3L, 6L, 6L),
      (4L, 2L, 0L)))
  }

  test("dupSpanCoverage stored index: probe equals the direct pass and " +
      "a span-length mismatch fails loudly") {
    val fx = Seq((1L, "a b c d x y z"), (2L, "p q a b c d"),
      (3L, "m n o m n o"), (4L, "u v")).toDF("doc_id", "text")
    val p = SparkTestBase.tempDir("graft-dupidx") + "/idx"
    Text.writeDupGramIndex(fx, p, "doc_id", "text", k = 3)
    val direct = Text.dupSpanCoverage(fx, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect().toSeq
    val stored = Text.dupSpanCoverageStored(fx, "doc_id", "text",
        Text.openDupGramIndex(spark, p, k = 3), k = 3)
      .orderBy("doc_id").collect().toSeq
    assert(stored == direct)
    val ex = intercept[Exception] {
      Text.dupSpanCoverageStored(fx, "doc_id", "text",
        Text.openDupGramIndex(spark, p, k = 4), k = 4).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    assert(chain(ex).contains("different span length"))
  }

  test("exciseDupSpans removes exactly the covered tokens and rejoins " +
      "the survivors in order") {
    val fx = Seq(
      (1L, "a b c d x y z"),   // span [0,4) excised → "x y z"
      (2L, "p q a b c d"),     // span [2,6) excised → "p q"
      (3L, "m n o m n o"),     // fully covered → ""
      (4L, "u v")              // sub-k: untouched canonical form
    ).toDF("doc_id", "text")
    val got = Text.exciseDupSpans(fx, "doc_id", "text", k = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == Seq(
      (1L, 7L, 4L, "x y z"),
      (2L, 6L, 4L, "p q"),
      (3L, 6L, 6L, ""),
      (4L, 2L, 0L, "u v")))
  }

  test("incremental dup-gram index: replayed appends dedup, compaction " +
      "folds, singleton partials carry cross-dump duplication") {
    // "a b c" occurs once in the base dump and once in the increment —
    // only an index that KEEPS cnt=1 partials can see the duplication
    val baseDocs = Seq((1L, "a b c x")).toDF("doc_id", "text")
    val incDocs = Seq((2L, "y a b c")).toDF("doc_id", "text")
    val p = SparkTestBase.tempDir("graft-dupincr") + "/idx"
    Text.appendDupGramIndex(baseDocs, p, "base", "doc_id", "text", k = 3)
    Text.appendDupGramIndex(incDocs, p, "inc#1", "doc_id", "text", k = 3)
    Text.appendDupGramIndex(incDocs, p, "inc#1", "doc_id", "text", k = 3)
    def serving = Text.dupGramsFrom(spark, p, k = 3)
      .orderBy("gram").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    // the replayed increment collapses: "a b c" totals 2, not 3
    assert(serving == Seq(("a b c", 2L)))
    Text.compactDupGramIndex(spark, p)
    assert(serving == Seq(("a b c", 2L)))
    // compaction folded to one row per gram ("a b c", "b c x", "y a b")
    assert(spark.read.parquet(p).count() == 3L)
    // a different span length must fail before landing
    val ex = intercept[IllegalArgumentException] {
      Text.appendDupGramIndex(incDocs, p, "inc#2", "doc_id", "text", k = 4)
    }
    assert(ex.getMessage.contains("mix span lengths"))
  }

  test("fuzzyPairs maxBucket caps a planted identical-key cluster") {
    // 20 identical docs (one hot variant bucket) + one honest typo pair;
    // the cap drops the cluster's pairs, the typo pair survives
    val rows = (0L until 20L).map(i => (i, "same same same text")) ++
      Seq((100L, "unique sentence alpha"), (101L, "unique sentence alphb"))
    val df = rows.toDF("doc_id", "text")
    val capped = Dedup.fuzzyPairs(df, "doc_id", "text",
      keyLen = 40, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
    val full = Dedup.fuzzyPairs(df, "doc_id", "text", keyLen = 40)
      .count()
    assert(full == 20L * 19L / 2L + 1L)
  }
}
