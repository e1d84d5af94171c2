package perfbench

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.{Dedup, Pipelines, Text}

/** `corpus_batch`: the LLM-data half of the system. One thread runs
  * five pipeline operators over a seeded corpus with planted exact and near
  * duplicates, and over one without; each result is written in full to
  * Spark's `noop` sink, never counted. The first pass collects every result
  * instead and checks it against the generator's own answers; timed passes
  * must reproduce its row counts. */
object CorpusBatch {
  /** A pass costs 6-10 s at 400 to 1,000 documents, nearly all of it per
    * plan and per job, so the corpus is kept small enough for three
    * passes in a run. */
  val Docs = 400
  /** Timed passes run for the measuring time and at least this often, so
    * the median and the slowest pass are different samples. */
  val MinPasses = 3
  val Threshold = 0.5
  val CurateThreshold = 0.3 // Pipelines.curate's default near-dup threshold
  val Sink = "noop"

  def ops(df: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "exact" -> (() => Dedup.exact(df, "id", "text")),
    "minhash" -> (() => Dedup.nearDuplicates(df, "id", "text", Threshold)),
    "jaccard" -> (() => Dedup.jaccardPairs(df, "id", "text", Threshold)),
    "spans" -> (() => Text.dupSpanCoverage(df, "id", "text")),
    "curate" -> (() => Pipelines.curate(df, "id", "text")))

  /** The corpora of a run: the timed one, 42% of it planted duplicates
    * (18% in exact groups, 24% in near pairs), and one with none, checked
    * and timed once before the timed passes. The gap between them shows
    * what duplicates cost. */
  val Corpora: Seq[(String, Double, Double)] = Seq(("dup42", 0.18, 0.24), ("dup0", 0.0, 0.0))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val report = ctx.report
    val corpora = Corpora.map { case (name, exact, near) => name -> Gen.corpus(ctx.seed, Docs, exact, near) }
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val inputs = ctx.setup[Seq[java.io.File]](_.foreach(Files.rm)) { k =>
      corpora.map { case (name, corpus) =>
        val dir = new java.io.File(ctx.work, s"$name-$k")
        spark.createDataFrame(spark.sparkContext.parallelize(
            corpus.texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 4), schema)
          .write.parquet(dir.getPath)
        dir
      }
    }
    val dfs = inputs.map(f => spark.read.parquet(f.getPath))
    report.text(s"sink: $Sink (every result written in full; nothing is counted)")

    // checked pass: collect each result and verify it. It is also the
    // warm-up: results are small, so it runs the same operators as a timed
    // pass, and it pays the JIT.
    val w0 = System.nanoTime()
    val expected = corpora.zip(dfs).map { case ((name, corpus), df) =>
      val c0 = System.nanoTime()
      val collected = ops(df).map { case (op, build) => report.attempt(); op -> build().collect() }.toMap
      collected.keys.foreach(op => report.check(verify(op, collected, corpus), s"$name: $op result wrong"))
      val rows = collected.map { case (op, rs) => op -> rs.length.toLong }
      val planted = corpus.exactGroups.map(_.size).sum + 2 * corpus.nearPairs.size
      report.text(f"corpus $name: planted duplicates ${planted * 100.0 / Docs}%.0f%% of $Docs docs; " +
        f"measured ${(Docs - rows("exact")) * 100.0 / Docs}%.1f%% removed as exact copies, " +
        f"${rows("jaccard")} pairs at Jaccard >= $Threshold; checked pass ${Load.ms(c0)}%.0f ms")
      rows
    }
    val (df, expectedRows) = (dfs.head, expected.head)
    val pairs = expectedRows("jaccard")

    /** One timed pass over `df`; returns (pass ms, curate ms). */
    def pass(df: DataFrame, expectedRows: Map[String, Long]): (Double, Double) = {
      val t0 = System.nanoTime()
      var curateMs = 0.0
      ops(df).foreach { case (name, build) =>
        report.attempt()
        val o0 = System.nanoTime()
        ctx.tracer.span(s"pipeline.$name") {
          val out = ctx.tracer.span(s"pipeline.$name.build")(build())
          val obs = Observation(s"rows-$name-$o0")
          ctx.tracer.span(s"pipeline.$name.exec")(
            out.observe(obs, count(lit(1)).as("rows")).write.format(Sink).mode("overwrite").save())
          val n = obs.get("rows").asInstanceOf[Long]
          report.check(n == expectedRows(name), s"$name wrote $n rows, the checked pass ${expectedRows(name)}")
        }
        if (name == "curate") curateMs = Load.ms(o0)
      }
      (Load.ms(t0), curateMs)
    }

    /** Timed passes over the duplicate-rich corpus. */
    def passes(seconds: Double, atLeast: Int): Seq[(Double, Double)] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[(Double, Double)]
      var n = 0
      while (n < atLeast || System.nanoTime() - t0 < seconds * 1e9) { out += pass(df, expectedRows); n += 1 }
      out.result()
    }

    val warmS = (System.nanoTime() - w0) / 1e9
    report.note("jvm.warmup_s", warmS, "s", 1)

    if (!ctx.trace) {
      // the pass over the duplicate-free corpus goes first: it also warms
      // the operators' code for the timed passes
      val free = pass(dfs(1), expected(1))._1
      val ps = passes(ctx.seconds, MinPasses)
      val batch = Stats.median(ps.map(_._1))
      report.put("ops_per_s", Docs / (batch / 1000), "1/s")
      report.put("p50_ms", batch, "ms")
      report.put("tail_ms", ps.map(_._1).max, "ms")
      report.put("aux_p50_ms", Stats.median(ps.map(_._2)), "ms")
      report.note("batch_s", batch / 1000, "s", ps.size)
      report.note("batch_max_s", ps.map(_._1).max / 1000, "s", ps.size)
      report.text(f"pass ms: ${ps.map(p => f"${p._1}%.0f").mkString(" ")}")
      report.note(s"batch_s (${Corpora(1)._1})", free / 1000, "s", 1)
      report.note(s"batch_s ratio ${Corpora.head._1}/${Corpora(1)._1}", batch / free, "ratio", ps.size + 1)
      report.note("curate_p50_ms", Stats.median(ps.map(_._2)), "ms", ps.size)
      report.note("near_dup_pairs", pairs.toDouble, "count", 1)
      ctx.memCheckpoint()
    } else {
      val gc0 = ctx.gcMs
      val plain = passes(ctx.seconds / 2.0, 1)
      val gc = ctx.gcMs - gc0
      ctx.tracer.reset()
      ctx.tracer.enabled = true
      val traced = passes(ctx.seconds / 2.0, 1)
      ctx.tracer.enabled = false
      val rec = ctx.tracer.snapshot()
      val r = report
      val roots = rec.roots("pipeline.")
      Layers.exec(ctx, rec, roots.map(rec.jobsUnder))
      Catalog.PipelineOps.foreach { op =>
        val mine = roots.filter(_.name == s"pipeline.$op")
        r.put(s"pipeline.$op.build_s", Layers.med(rec.named(s"pipeline.$op.build").map(_.ms)) / 1000, "s")
        r.put(s"pipeline.$op.build_jobs",
          Layers.mean(rec.named(s"pipeline.$op.build").map(rec.jobsUnder(_).size.toDouble)), "count")
        r.put(s"pipeline.$op.exec_s", Layers.med(rec.named(s"pipeline.$op.exec").map(_.ms)) / 1000, "s")
        r.put(s"pipeline.$op.shuffle_mb", Layers.mean(mine.map(s =>
          rec.stagesOf(rec.jobsUnder(s)).map(_.shuffleWriteBytes).sum / Layers.MiB)), "MB")
        r.put(s"pipeline.$op.task_skew", Skew.of(mine.flatMap(s => rec.stagesOf(rec.jobsUnder(s)))), "ratio")
      }
      Layers.coverage(ctx, rec, roots)
      val candObs = Observation("minhash-candidates")
      Dedup.minhashCandidates(df, "id", "text").observe(candObs, count(lit(1)).as("rows"))
        .write.format(Sink).mode("overwrite").save()
      val candidates = candObs.get("rows").asInstanceOf[Long]
      r.put("pipeline.minhash.verify_ratio", expectedRows("minhash").toDouble / math.max(1L, candidates), "ratio")
      r.put("jvm.gc_ms", gc, "ms")
      r.put("jvm.warmup_s", warmS, "s")
      val (p, t) = (Stats.median(plain.map(_._1)), Stats.median(traced.map(_._1)))
      r.put("trace.overhead_pct", (t / p - 1) * 100, "%")
      r.note("batch_s (untraced)", p / 1000, "s", plain.size)
      r.note("batch_s (traced)", t / 1000, "s", traced.size)
      Layers.save(ctx, rec)
    }
    inputs.foreach(Files.rm)
  }

  /** Check one collected result against the planted duplicates. */
  def verify(op: String, results: Map[String, Array[Row]], c: Gen.Corpus): Boolean = {
    val rows = results(op)
    lazy val sh = c.texts.map(Gen.shingles)
    def j(a: Long, b: Long): Double = Gen.jaccard(sh(a.toInt), sh(b.toInt))
    val groupPairs = c.exactGroups.flatMap(g => g.combinations(2).map(p => (p.min, p.max)))
    def pairsAtLeast(t: Double): Set[(Long, Long)] =
      (groupPairs ++ c.nearPairs.filter { case (a, b) => j(a, b) >= t }).toSet
    def idPairs(rs: Array[Row]): Set[(Long, Long)] =
      rs.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    op match {
      case "exact" =>
        val dup = rows.map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
        c.exactGroups.forall(g => dup.get(g.min).contains(g.size.toLong)) &&
          dup.values.sum == Docs && rows.length == Docs - c.exactGroups.map(_.size - 1).sum
      case "jaccard" =>
        val got = rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("jaccard")).toMap
        pairsAtLeast(Threshold).subsetOf(got.keySet) &&
          got.forall { case ((a, b), jv) => a < b && math.abs(j(a, b) - jv) < 1e-9 && jv >= Threshold }
      case "minhash" =>
        // with no planted duplicates an empty answer is right
        (idPairs(rows).nonEmpty || c.exactGroups.isEmpty) &&
          idPairs(rows).subsetOf(idPairs(results("jaccard")))
      case "spans" =>
        val grouped = c.exactGroups.flatten.toSet
        val planted = grouped ++ c.nearPairs.flatMap(p => Seq(p._1, p._2))
        rows.length == Docs && rows.forall { r =>
          val id = r.getAs[Long]("id"); val n = r.getAs[Long]("n_tokens"); val d = r.getAs[Long]("dup_tokens")
          val words = c.texts(id.toInt).split("\\s+").count(_.nonEmpty).toLong
          n == words && (if (grouped(id)) d == n else if (!planted(id)) d == 0 else d <= n)
        }
      case "curate" =>
        val kept = rows.map(_.getAs[Long]("id")).toSet
        kept.nonEmpty && kept.forall(i => i >= 0 && i < Docs) &&
          c.exactGroups.forall(g => g.count(kept) <= 1) &&
          pairsAtLeast(CurateThreshold).forall { case (a, b) => !(kept(a) && kept(b)) }
    }
  }
}
