package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Pipelines, Text}

/** The corpus-pass operators (`exact`, `nearDuplicates`, `jaccardPairs`,
  * `dupSpanCoverage`, `curate`): their codegen'd forms equal the lambda
  * and multi-stage forms they replace on edge-case inputs, and each runs
  * a pinned number of Spark jobs. */
class CorpusPassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val edgeTexts = Seq(null, "", "  ", "?!...,;", "ÄÖÜ ß çà",
    "İstanbul İİ ıi", "The cat and THE dog", "a-b_c d.e", "日本語 テキスト",
    "It is what it is, and so on to the end")

  test("tokens, stopword counts and mean token length equal their lambda " +
      "forms on null, empty, punctuation-only and non-ASCII text") {
    val df = edgeTexts.toDF("text")
    val t = col("text")
    val lambdaToks = filter(split(lower(t), "[^a-z0-9]+"), w => w =!= lit(""))
    def lambdaHits(words: Seq[String]) =
      size(filter(lambdaToks, w => array_contains(array(words.map(lit): _*), w)))
    val lambdaLen = aggregate(lambdaToks, lit(0L), (acc, w) => acc + length(w))
    val word = Seq(Text.StopwordsEn, Text.StopwordsDe, Text.StopwordsEs,
      Text.StopwordsFr)
    val rows = df.select(
      (Seq(Text.tokens(t), lambdaToks,
        length(array_join(Text.tokens(t), "")).cast("long"), lambdaLen) ++
        word.flatMap(w => Seq(Text.wordHits(t, w), lambdaHits(w)))): _*)
      .collect()
    assert(rows.length == edgeTexts.length)
    for (r <- rows; i <- 0 until r.length by 2)
      assert(r.get(i) == r.get(i + 1), s"column $i of $r")
    // the features and language scores themselves, through the operators
    val q = Text.langId(Text.qualityFeatures(df, "text"), "text").collect()
    assert(q.length == edgeTexts.length)
    val en = q.find(_.getAs[String]("text") == "The cat and THE dog").get
    assert(en.getAs[Double]("stopword_ratio") == 3.0 / 5)
    assert(en.getAs[Double]("mean_token_len") == 15.0 / 5)
    assert(en.getAs[String]("lang_pred") == "en")
  }

  /** The reference `dupSpanCoverage`: duplicated grams by aggregation
    * joined back, islands by per-doc windows, coverage joined back to
    * every row — the multi-stage form the one-fold plan must equal. */
  private def spanCoverageRef(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(lower(col(textCol)), "[^a-z0-9]+"),
      w => w =!= lit(""))
    val base = df.select(col(idCol), coalesce(toks, array()).as("__toks"))
    val grams = base.select(col(idCol), posexplode(expr(
        s"""CASE WHEN size(__toks) >= $k
           |THEN transform(sequence(1, size(__toks) - ${k - 1}),
           |  i -> array_join(slice(__toks, i, $k), ' '))
           |ELSE array() END""".stripMargin)))
      .select(col(idCol), col("pos").as("__pos"), col("col").as("__gram"))
    val dupGrams = grams.groupBy("__gram").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val covered = grams.join(dupGrams.select("__gram"), "__gram")
      .select(col(idCol), col("__pos"))
      .withColumn("__prev_end", max(col("__pos") + k)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(col("__prev_end").isNull ||
        col("__pos") >= col("__prev_end"), 1L).otherwise(0L))
      .withColumn("__isl", sum("__new").over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("__start"), (max(col("__pos")) + k).as("__end"))
      .groupBy(idCol).agg(sum(col("__end") - col("__start")).as("dup_tokens"))
    base.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
  }

  private def rowBag(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).map { case (k, v) =>
      k -> v.length }

  test("dupSpanCoverage and exciseDupSpans' coverage equal the reference " +
      "plan with null ids, docs shorter than k, shared ids, and null or " +
      "empty text") {
    val fx = Seq[(java.lang.Long, String)](
      (1L, "a b c d x y z"), (2L, "p q a b c d"), (3L, "m n o m n o"),
      (4L, "u v"), (null, "a b c d e"), (null, "u v"), (null, "p q a"),
      (5L, null), (6L, ""), (7L, "a b c"), (7L, "z z a b c"),
      (8L, "a b c d a b c d a b c d")).toDF("doc_id", "text")
    for (k <- Seq(1, 3, 4); minCount <- Seq(2L, 3L)) {
      val got = Text.dupSpanCoverage(fx, "doc_id", "text", k, minCount)
      assert(got.columns.toSeq == Seq("doc_id", "n_tokens", "dup_tokens"))
      val ref = rowBag(spanCoverageRef(fx, "doc_id", "text", k, minCount))
      assert(rowBag(got) == ref, s"k=$k minCount=$minCount")
      // excision merges its spans by the same rule
      assert(rowBag(Text.exciseDupSpans(fx, "doc_id", "text", k, minCount)
        .select("doc_id", "n_tokens", "dup_tokens")) == ref,
        s"excise k=$k minCount=$minCount")
    }
  }

  private lazy val corpus = {
    val r = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    val base = (0 until 40).map(_ => Seq.fill(12 + r.nextInt(10))(
      vocab(r.nextInt(vocab.size))))
    // near copies: drop or swap a few tokens of an earlier doc
    val near = (0 until 30).map { _ =>
      val d = base(r.nextInt(base.size)).toArray
      for (_ <- 0 until 1 + r.nextInt(3)) d(r.nextInt(d.length)) =
        vocab(r.nextInt(vocab.size))
      d.toSeq
    }
    (base ++ near ++ Seq(Seq("x"), Seq.empty[String]))
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def pairs(df: DataFrame): Set[(Long, Long, Long, Int, Int, Double)] =
    df.collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
      r.getAs[Long]("shared"), r.getAs[Int]("n1"), r.getAs[Int]("n2"),
      r.getAs[Double]("jaccard"))).toSet

  /** The reference `nearDuplicates`: every pair the inverted index emits
    * at the threshold, kept when LSH made it a candidate. */
  private def nearDupRef(df: DataFrame, threshold: Double, maxDf: Int,
      maxBucketDocs: Int): Set[(Long, Long, Long, Int, Int, Double)] = {
    val cands = Dedup.minhashCandidates(df, "doc_id", "text",
      maxBucketDocs = maxBucketDocs)
    pairs(Dedup.jaccardPairs(df, "doc_id", "text", threshold,
        maxShingleDf = maxDf)
      .join(cands, Seq("id1", "id2"), "left_semi"))
  }

  test("nearDuplicates equals the candidate-filtered inverted index at " +
      "threshold 0, with the df cap off, unpinned and bucket-capped") {
    for ((threshold, maxDf, maxBucket, pin) <- Seq((0.0, 20, 0, true),
        (0.3, 0, 0, true), (0.3, 20, 0, false), (0.0, 2, 0, true),
        (0.2, 20, 3, true))) {
      val got = pairs(Dedup.nearDuplicates(corpus, "doc_id", "text",
        threshold, maxShingleDf = maxDf, maxBucketDocs = maxBucket,
        pinSets = pin))
      assert(got == nearDupRef(corpus, threshold, maxDf, maxBucket),
        s"threshold=$threshold maxDf=$maxDf maxBucketDocs=$maxBucket pin=$pin")
      if (threshold == 0.0 && maxDf == 20) assert(got.size > 10, got.size)
    }
  }

  test("property: nearDuplicates ⊆ jaccardPairs with equal shared, n1, " +
      "n2 and jaccard, on random corpora") {
    val r = new scala.util.Random(11)
    for (trial <- 0 until 4) {
      val vocab = (0 until 8 + r.nextInt(30)).map(i => s"t$i")
      val df = (0 until 30 + r.nextInt(30)).map { i =>
        (i.toLong, Seq.fill(r.nextInt(14))(vocab(r.nextInt(vocab.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val threshold = r.nextInt(5) / 10.0
      val maxDf = Seq(0, 3, 20)(r.nextInt(3))
      val nd = pairs(Dedup.nearDuplicates(df, "doc_id", "text", threshold,
        maxShingleDf = maxDf))
      val jp = pairs(Dedup.jaccardPairs(df, "doc_id", "text", threshold,
        maxShingleDf = maxDf))
      assert(nd.subsetOf(jp), s"trial $trial: ${nd -- jp}")
      assert(nd == nearDupRef(df, threshold, maxDf, 0), s"trial $trial")
    }
  }

  test("stopShingles keeps the shingles above max(maxDf, nDocs × 5‰)") {
    // 5 docs share "a b c"; 3 share "d e f": cap 3 stops only the first
    val df = ((0 until 5).map(i => (i.toLong, s"a b c x$i y$i")) ++
      (5 until 8).map(i => (i.toLong, s"d e f x$i y$i"))).toDF("id", "text")
    def stop(maxDf: Int) = Dedup.stopShingles(df, "id", "text", 3, maxDf)
      .collect().head.getSeq[String](0).toSet
    assert(stop(3) == Set("a b c"))
    assert(stop(2) == Set("a b c", "d e f"))
    assert(stop(5) == Set.empty)
    assert(Dedup.stopShingles(df.limit(0), "id", "text", 3, 1)
      .collect().head.getSeq[String](0).isEmpty)
    // 400 docs: the floor 400 × 5‰ = 2 outranks maxDf = 1, so a shingle
    // in 2 docs stays and one in 3 is stopped
    val big = ((0 until 3).map(i => (i.toLong, s"a b c x$i")) ++
      (3 until 5).map(i => (i.toLong, s"d e f x$i")) ++
      (5 until 400).map(i => (i.toLong, s"p$i q$i r$i"))).toDF("id", "text")
    assert(Dedup.stopShingles(big, "id", "text", 3, 1).collect().head
      .getSeq[String](0).toSet == Set("a b c"))
  }

  test("each corpus operator runs its pinned number of build and exec " +
      "jobs") {
    def jobs(build: => DataFrame): (Int, Int) = {
      val (df, b) = SparkTestBase.countJobs(build)
      val (_, e) = SparkTestBase.countJobs(
        df.write.format("noop").mode("overwrite").save())
      (b, e)
    }
    val ops = Seq[(String, () => DataFrame, (Int, Int))](
      ("exact", () => Dedup.exact(corpus, "doc_id", "text"), (0, 2)),
      ("minhash", () => Dedup.nearDuplicates(corpus, "doc_id", "text", 0.5),
        (1, 6)),
      ("jaccard", () => Dedup.jaccardPairs(corpus, "doc_id", "text", 0.5),
        (1, 7)),
      ("spans", () => Text.dupSpanCoverage(corpus, "doc_id", "text"), (0, 3)),
      ("curate", () => Pipelines.curate(corpus, "doc_id", "text",
        minTokens = 5), (1, 9)))
    for ((name, build, pinned) <- ops) {
      jobs(build()) // warm
      assert(jobs(build()) == pinned, name)
    }
  }
}
