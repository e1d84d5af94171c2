package graft

import org.apache.spark.sql.functions._

/** Multi-executor smoke drive (`local-cluster[2,2,…]`) — the one
  * topology the ScalaTest suites never run (they share a `local[4]`
  * context), yet two round-12 additions explicitly BRANCH on it: the
  * triangle scratch-spill falls back to the cache-pin two-broadcast
  * shape when no executor-shared checkpoint dir exists
  * ([[graft.operators.GraphOps.trianglesPlan]]), and the [[pipeline.Text]]
  * tier traits document task serialization as load-bearing. This main
  * runs inside a REAL multi-JVM Spark deployment (separate executor
  * processes launched through SPARK_HOME) and asserts both branches
  * plus the serialization-sensitive paths against expectations computed
  * by the single-JVM parent (`ClusterSmokeSpec`): a dialect query, a
  * `nearDuplicates` run (lazy localCheckpoint on remote executors), the
  * broadcast rank-priority BPE encode, both triangle shapes, and a
  * routed sampled serve (file-list snapshot read on executors).
  *
  * Exit 0 = every check passed; any mismatch throws (nonzero exit), and
  * each passing step prints `[cluster-smoke] PASS <name>` for the spec
  * to count.
  */
object ClusterSmoke {
  private def pass(name: String): Unit =
    println(s"[cluster-smoke] PASS $name")

  def main(args: Array[String]): Unit = {
    require(args.length == 7,
      "usage: ClusterSmoke docsPath edgesPath storePath samplePath " +
        "expectedNd expectedTri expectedRouteN")
    val Array(docsPath, edgesPath, storePath, samplePath,
      expNdS, expTriS, expRouteS) = args
    val expNd = expNdS.toLong
    val expTri = expTriS.toLong
    val expRoute = expRouteS.toLong
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = GraftSession.builder()
      .master("local-cluster[2,2,1536]")
      .appName("graft-cluster-smoke")
      // the executor JVMs are launched fresh through SPARK_HOME: they
      // need this process's classpath (graft classes + test deps) and
      // the same JDK-17 module opens the driver runs under
      .config("spark.executor.extraClassPath",
        sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        addOpens + " -Dio.netty.tryReflectionSetAccessible=true")
      // one shuffle partition per executor core of the 2×2 cluster
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      require(!spark.sparkContext.isLocal,
        "local-cluster must register as NON-local — the branches under " +
          "test key off exactly this")

      // 1. the dialect surface end-to-end: a store written and queried
      // through a genuinely multi-JVM scheduler
      val dbDir = java.nio.file.Files
        .createTempDirectory("graft-smoke-db").toString
      val store = new graft.storage.WritableStore(spark, dbDir, "m",
        Seq(org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType)))
      store.pushMulti((1L to 5L).map(i => graft.storage.DataPoint(
        1650000000L * 1000000000L + i, Seq(i.toDouble))))
      store.persist()
      val eng = new graft.ql.Engine(spark, dbDir)
      val vs = eng.frame(eng.interpret(
        "with format_datetime = false select * from m where ts >= " +
          "'2022-01-01'")).collect().map(_.getDouble(1)).toSeq
      require(vs == Seq(1.0, 2.0, 3.0, 4.0, 5.0), s"dialect got $vs")
      pass("dialect_query")

      // 2. nearDuplicates with the default shared-shingle pin: the lazy
      // localCheckpoint materializes ON THE EXECUTORS, and the Text /
      // Dedup tier traits ride task serialization
      val docs = spark.read.parquet(docsPath)
      val nd = graft.pipeline.Dedup.nearDuplicates(docs, "doc_id",
        "text", threshold = 0.8).count()
      require(nd == expNd, s"nearDuplicates got $nd expected $expNd")
      pass("near_duplicates")

      // 3. the broadcast rank-priority BPE encode: the merge table
      // ships to executor JVMs, the rank map builds lazily there
      val merges = graft.pipeline.Text.bpeTrainBatch(docs, "text",
        rounds = 3, pairsPerRound = 32, candidatesPerRound = 128)
      val viaRank = graft.pipeline.Text.bpeEncodeVia(docs, "doc_id",
        "text", merges, "rank").agg(sum("n_bpe")).head().getLong(0)
      val viaJoin = graft.pipeline.Text.bpeEncodeVia(docs, "doc_id",
        "text", merges, "join").agg(sum("n_bpe")).head().getLong(0)
      require(viaRank == viaJoin,
        s"bpe rank/join disagree on-cluster: $viaRank vs $viaJoin")
      pass("bpe_rank_encode")

      // 4a. triangles WITHOUT a checkpoint dir: multi-executor + no
      // shared spill base → the documented fallback (oriented frame
      // cache-pinned; no scratch FileScan in the plan)
      val edges = spark.read.parquet(edgesPath)
      val (fb, fbCleanup) = graft.operators.GraphOps.trianglesPlan(edges)
      // the oriented frame's (u, v) schema only ever comes from the
      // scratch parquet — a FileScan carrying it IS the spill read
      // (the path string itself truncates in plan dumps)
      val spillScan = "ReadSchema: struct<u:bigint,v:bigint>"
      val fbTri = try {
        val n = fb.collect()(0).getLong(2)
        val plan = fb.queryExecution.executedPlan.toString
        require(!plan.contains(spillScan),
          "fallback ran the scratch spill without a shared base:\n" + plan)
        require(plan.contains("InMemoryTableScan"),
          "fallback did not cache-pin the oriented frame:\n" + plan)
        n
      } finally fbCleanup()
      require(fbTri == expTri, s"fallback triangles $fbTri != $expTri")
      pass("triangles_fallback_shape")

      // 4b. with a checkpoint dir (shared on this one-machine cluster):
      // the scratch-spill shape — identical FileScans, ONE broadcast
      // adjacency built and reused
      val ck = java.nio.file.Files
        .createTempDirectory("graft-smoke-ck").toString
      spark.sparkContext.setCheckpointDir(ck)
      val (sp, spCleanup) = graft.operators.GraphOps.trianglesPlan(edges)
      val spTri = try {
        val n = sp.collect()(0).getLong(2)
        val plan = sp.queryExecution.executedPlan.toString
        require(plan.contains(spillScan),
          "spill shape did not read the scratch parquet:\n" + plan)
        if (plan.contains("BroadcastHashJoin"))
          require(plan.contains("ReusedExchange"),
            "spill shape built the adjacency broadcast twice:\n" + plan)
        n
      } finally spCleanup()
      require(spTri == expTri, s"spill triangles $spTri != $expTri")
      pass("triangles_spill_shape")

      // 5. the routed sampled serve: prepared router pins the sample
      // snapshot (explicit file-list read) in executor memory across
      // JVMs, fine zoom serves HT estimates
      val router = graft.storage.RollupStore.prepareSampled(spark,
        storePath, samplePath)
      val routeN = try router.route(0L, 2L * 3600L * 1000000000L, 120)
        .agg(sum("n_sample")).head().getLong(0)
      finally router.close()
      require(routeN == expRoute,
        s"routed serve got $routeN expected $expRoute")
      pass("routed_sampled_serve")

      // 6. ONE STATEFUL STREAM driven to completion on the multi-JVM
      // deployment — executor-side state stores and checkpoint recovery
      // are the one subsystem whose topology behavior is structurally
      // different from local[*] (state store providers live in executor
      // JVMs; a restart reloads their snapshots + deltas from the
      // checkpoint). The drive: gap-sessionize a file-source stream,
      // STOP the query mid-stream, land more files, restart from the
      // same checkpoint — a session OPENED before the restart must be
      // closed by a post-restart event (state genuinely recovered), and
      // the drained output must equal the batch sessionize oracle
      // computed on this same cluster, restricted to closed sessions.
      import org.apache.spark.sql.types.{StructType, StructField,
        LongType, DoubleType}
      import org.apache.spark.sql.streaming.Trigger
      val sec = 1000000000L
      val t0 = 1700000000L * sec
      val gap = 300L * sec
      val srcDir = java.nio.file.Files
        .createTempDirectory("graft-smoke-stream-in").toFile
      val ckDir = java.nio.file.Files
        .createTempDirectory("graft-smoke-stream-ck").toString
      def writeDrop(name: String, modTime: Long,
          rows: Seq[(Long, Long, Double)]): Unit = {
        import spark.implicits._
        val stage = java.nio.file.Files
          .createTempDirectory("graft-smoke-stream-stage").toString
        rows.toDF("user_id", "ts", "value")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, name)
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(modTime))
      }
      val schema = StructType(Seq(StructField("user_id", LongType),
        StructField("ts", LongType), StructField("value", DoubleType)))
      // the MEMORY sink refuses checkpoint recovery by design — the
      // restart-under-state drive needs the fault-tolerant FILE sink
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-smoke-stream-out").toString
      val outSchema = StructType(Seq(StructField("user_id", LongType),
        StructField("session_start", LongType),
        StructField("session_end", LongType),
        StructField("n_events", LongType),
        StructField("sum_v", DoubleType)))
      def drain(label: String): Unit = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir.getPath)
        val q = graft.streaming.StreamIngest
          .statefulSessionize(src, gap)
          .writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000), s"$label did not drain")
      }
      def emitted(): Set[(Long, Long, Long, Long)] =
        spark.read.schema(outSchema).parquet(outDir)
          .select("user_id", "session_start", "session_end", "n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
      // run 1: open sessions only (nothing closable yet) — the state
      // that must survive the restart
      writeDrop("a.parquet", 1000000L, Seq(
        (1L, t0, 1.0), (1L, t0 + 10 * sec, 2.0), (2L, t0 + 5 * sec, 4.0)))
      drain("stream run 1")
      require(emitted().isEmpty,
        "no session is closable before the restart")
      // run 2, same checkpoint: a gap-closing event for user 1 (closes
      // the RECOVERED session), then far-future events to advance the
      // watermark so the remaining sessions time out and emit
      writeDrop("b.parquet", 2000000L, Seq((1L, t0 + 2000 * sec, 3.0)))
      writeDrop("c.parquet", 3000000L, Seq(
        (1L, t0 + 100000 * sec, 0.0), (2L, t0 + 100000 * sec, 0.0)))
      drain("stream run 2")
      val got = emitted()
      // batch oracle ON THIS CLUSTER: sessionize all landed events,
      // restrict to sessions the final watermark (max event ms − 10 min
      // lateness) closes — exactly the append-mode emitted subset
      val allEv = spark.read.parquet(srcDir.getPath)
      val batch = graft.operators.TsOps
        .sessionize(allEv.select("user_id", "ts"), gap, Seq("user_id"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
      val wmNs = (allEv.agg(max("ts")).head().getLong(0) / 1000000L -
        600000L) * 1000000L
      val want = batch
        .filter(col("session_end") + lit(gap) < lit(wmNs))
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      require(want.nonEmpty && got == want,
        s"streaming state drain mismatch: got $got want $want")
      // the restart-spanning session is the recovery proof: opened in
      // run 1, closed by run 2's gap event
      require(got.contains((1L, t0, t0 + 10 * sec, 2L)),
        "the pre-restart session did not survive checkpoint recovery")
      pass("streaming_state")

      println("[cluster-smoke] ALL PASS")
    } finally spark.stop()
  }
}
