package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.ql.{Engine, Interpreter}
import graft.storage.{DataPoint, WritableStore}

/** End-to-end minimum slice (SURVEY §7.3): ingest → flush → dialect query →
  * formatted output; plus meta-tables and output-format behavior.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** trades fixture from the reference README (README.md:237-282). */
  private lazy val dbDir: String = {
    val dir = SparkTestBase.tempDir("graft-db")
    val store = new WritableStore(spark, dir, "trades", Seq(
      StructField("is_buy", BooleanType),
      StructField("price", DoubleType),
      StructField("size", DoubleType)))
    // 2022-04-26T09:00 JST = 2022-04-26T00:00 UTC
    val base = 1650931200L * 1000000000L
    store.pushMulti(Seq(
      DataPoint(base + 10, Seq(true, 100.0, 1.0)),
      DataPoint(base + 60L * 1000000000L, Seq(false, 101.5, 2.0)),
      DataPoint(base + 90L * 1000000000L, Seq(true, 102.0, 0.5)),
      DataPoint(base + 200L * 1000000000L, Seq(false, 99.0, 3.0))))
    store.persist()
    dir
  }

  test("minimum slice: with cols+tz, select subset, in-range, ascii table") {
    val e = new Engine(spark, dbDir)
    val out = e.execute(
      "with cols = [is_buy, price, volume], tz = +9 " +
        "select is_buy, price from trades where ts in ('2022-04-26 09:00', +2 minutes);")
    assert(out.contains("| ts"))
    assert(out.contains("is_buy"))
    assert(out.contains("price"))
    assert(!out.contains("volume"))
    // 3 rows inside [09:00, 09:02) JST
    assert(out.linesIterator.count(_.startsWith("|")) == 1 + 3)
    // ns-precision tz rendering
    assert(out.contains("2022-04-26T09:00:00.000000010+09:00"))
  }

  test("empty result renders [empty]") {
    val e = new Engine(spark, dbDir)
    val out = e.execute("select * from trades where ts in ('1999-01-01', +1 day)")
    assert(out == "[empty]")
  }

  test("render caps at maxRows via local iterator (no unbounded collect)") {
    import graft.ql.Output
    val e = new Engine(spark, dbDir)
    val df = e.frame("select * from trades where ts in ('2022-04-26', +1 day)")
    val capped = Output.asciiTable(df, java.time.ZoneOffset.UTC,
      formatDatetime = false, maxRows = 2)
    assert(capped.linesIterator.count(_.startsWith("|")) == 1 + 2)
    assert(capped.endsWith("[truncated to 2 rows]"))
    val full = Output.asciiTable(df, java.time.ZoneOffset.UTC,
      formatDatetime = false)
    assert(full.linesIterator.count(_.startsWith("|")) == 1 + 4)
    assert(!full.contains("truncated"))
    val json = Output.columnJson(df, java.time.ZoneOffset.UTC,
      formatDatetime = false, maxRows = 3)
    assert(json.contains("\"price\":[100.0,101.5,102.0]"))
    // capped JSON is marked — a truncated result must be distinguishable
    assert(json.contains("\"__truncated__\":3"))
    val fullJson = Output.columnJson(df, java.time.ZoneOffset.UTC,
      formatDatetime = false)
    assert(!fullJson.contains("__truncated__"))
  }

  test("column-oriented json output") {
    val e = new Engine(spark, dbDir)
    val out = e.execute(
      "with cols = [is_buy, price, volume], format = json, format_datetime = false " +
        "select price from trades where ts in ('2022-04-26', +1 day)")
    assert(out.startsWith("{\"ts\":["))
    assert(out.contains("\"price\":[100.0,101.5,102.0,99.0]"))
  }

  test("column json escapes column names as it escapes values") {
    val names = Seq("a\"b", "c\\d", "e\nf")
    val df = spark.range(2).selectExpr(
      names.map(n => s"CAST(id AS STRING) AS `$n`"): _*)
    val json = graft.ql.Output.columnJson(df, java.time.ZoneOffset.UTC,
      formatDatetime = false)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    import scala.jdk.CollectionConverters._
    assert(tree.fieldNames().asScala.toSeq == names)
    names.foreach(n => assert(tree.get(n).get(1).asText() == "1"))
  }

  test("column json keeps a string \"null\" apart from a SQL NULL") {
    val df = spark.sql("SELECT * FROM VALUES ('null'), (NULL) AS t(s)")
    val json = graft.ql.Output.columnJson(df, java.time.ZoneOffset.UTC,
      formatDatetime = false)
    val col = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).get("s")
    assert(col.size == 2, json)
    assert(col.get(0).isTextual && col.get(0).asText() == "null", json)
    assert(col.get(1).isNull, json)
    val table = graft.ql.Output.asciiTable(df, java.time.ZoneOffset.UTC,
      formatDatetime = false)
    assert(table.linesIterator.count(_ == "| null |") == 2, table)
  }

  test("parquet output writes file") {
    val e = new Engine(spark, dbDir)
    val out = java.nio.file.Files.createTempDirectory("graft-out").toString + "/r"
    e.execute(
      s"with format = parquet_snappy, output_file = '$out' " +
        "select * from trades where ts in ('2022-04-26', +1 day)")
    val back = spark.read.parquet(out)
    assert(back.count() == 4)
    assert(back.columns.head == "ts")
    // interactive-scale result → the reference's one-parquet-per-query shape
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("single-file parquet default is size-guarded, not unconditional") {
    // small estimate → single file (reference parity); big estimate → the
    // coalesce(1) one-task funnel must NOT apply to a large extract
    val e = new Engine(spark, dbDir)
    val small = e.frame("select * from trades where ts in ('2022-04-26', +1 day)")
    assert(graft.ql.Output.singleFileFor(small))
    val big = spark.range(1L << 32) // Catalyst sizes this at 8 B/row = 32 GB
    assert(!graft.ql.Output.singleFileFor(big.toDF()))
  }

  test("grouped tail via dialect") {
    val e = new Engine(spark, dbDir)
    val df = e.frame("select * from trades where ts <=|2 '2023-01-01'")
    assert(df.count() == 2) // two largest distinct ts
  }

  test("meta .metrics lists the metrics") {
    val e = new Engine(spark, dbDir)
    val names = e.frame("select * from .metrics").collect().map(_.getString(0))
    assert(names.contains("trades"))
  }

  test("meta .describe returns range") {
    val e = new Engine(spark, dbDir)
    val row = e.frame("select * from .describe where metrics = trades").collect()(0)
    assert(row.getAs[String]("metrics") == "trades")
    assert(row.getAs[Long]("row_num") == 4L)
    assert(row.getAs[Long]("from_ts") <= row.getAs[Long]("end_ts"))
  }

  test("meta .block_list has one row per block file") {
    val e = new Engine(spark, dbDir)
    val rows = e.frame("select * from .block_list where metrics = trades").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("metrics") == "trades"))
  }

  test("meta .block_list/.describe skip in-flight _temporary output and " +
      "survive a directory vanishing mid-walk") {
    val dir = SparkTestBase.tempDir("graft-db-tmp")
    val store = new WritableStore(spark, dir, "m", Seq(
      StructField("price", DoubleType)), partitionByDay = true)
    val base = 1650931200L * 1000000000L
    store.pushMulti(Seq(DataPoint(base, Seq(1.0)),
      DataPoint(base + 1000L, Seq(2.0))))
    store.persist()
    val mDir = new java.io.File(dir, "m")
    val block = mDir.listFiles().filter(_.getName.startsWith("__day="))
      .flatMap(_.listFiles()).find(_.getName.endsWith(".parquet")).get
    // a persist caught mid-write: its output still sits under _temporary
    val inFlight = new java.io.File(mDir,
      "_temporary/0/_temporary/attempt_0/__day=2022-04-26/x.parquet")
    inFlight.getParentFile.mkdirs()
    java.nio.file.Files.copy(block.toPath, inFlight.toPath)
    // and a (visible) directory the walk will find gone when it gets there
    new java.io.File(mDir, "vanished").mkdirs()
    spark.sparkContext.hadoopConfiguration.set("fs.vanishfs.impl",
      classOf[VanishingDirFileSystem].getName)
    for (db <- Seq(dir, s"vanishfs:$dir")) {
      val blocks = graft.storage.Tables.blockListDf(spark, db, Some("m"))
        .collect()
      assert(blocks.length == 1 && blocks(0).getAs[Long]("row_num") == 2L,
        s"$db: ${blocks.toSeq}")
      val desc = graft.storage.Tables.describeDf(spark, db, Some("m"))
        .collect()(0)
      assert(desc.getAs[Long]("block_num") == 1L, s"$db: $desc")
      assert(desc.getAs[Long]("row_num") == 2L, s"$db: $desc")
    }
  }

  test("Tables.read keeps a user-set AQE minPartitionSize") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "2m")
    try {
      graft.storage.Tables.read(spark, dbDir, "trades")
      assert(spark.conf.get(key) == "2m")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("filter pushdown reaches the parquet scan (uncached path)") {
    val e = new Engine(spark, dbDir)
    val df = e.frame(
      "with use_cache = false select * from trades where ts in ('2022-04-26', +1 day)")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("GreaterThanOrEqual(ts,"), physical)
  }

  test("default cached path reads from the table LRU") {
    val e = new Engine(spark, dbDir)
    val df = e.frame("select * from trades where ts in ('2022-04-26', +1 day)")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("InMemoryTableScan"), physical)
    assert(graft.storage.CacheRegistry.size >= 1)
  }

  test("spark.sql superset over the same tables, with format_ns registered") {
    val e = new Engine(spark, dbDir)
    val rows = e.sql(
      "SELECT format_ns(ts) AS iso, price FROM trades " +
        "WHERE ts >= 1650931200000000000 ORDER BY ts").collect()
    assert(rows.length == 4)
    assert(rows(0).getString(0) == "2022-04-26T00:00:00.000000010+00:00")
  }

  test("cosine_sim registered in the SQL superset") {
    val e = new Engine(spark, dbDir)
    val r = e.sql(
      "SELECT cosine_sim(CAST(array(3.0, 4.0) AS array<float>), " +
        "CAST(array(3.0, 4.0) AS array<float>)) AS c, " +
        "cosine_sim_i8(CAST(array(3, 4) AS array<tinyint>), " +
        "CAST(array(3, 4) AS array<tinyint>)) AS i").collect()
    assert(math.abs(r(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r(0).getDouble(1) - 1.0) < 1e-12)
  }

  test("db= with-clause resolves a database subdirectory") {
    val root = SparkTestBase.tempDir("graft-dbroot")
    val store = new WritableStore(spark,
      new java.io.File(root, "mydb").getPath, "m",
      Seq(StructField("v", DoubleType)))
    store.pushMulti(Seq(DataPoint(1650931200L * 1000000000L, Seq(1.5))))
    store.persist()
    val e = new Engine(spark, root)
    val q = "with db = mydb, use_cache = false select * from m " +
      "where ts >= '2020-01-01'"
    val df = e.frame(q)
    assert(df.collect().map(_.getDouble(1)).toSeq == Seq(1.5))
    // the dialect's db is an identifier; an interpreted query built in
    // code is confined to the root too
    val search = e.interpret(q).asInstanceOf[Interpreter.SearchMetrics]
    for (bad <- Seq("../mydb", "mydb/../..", "/tmp", "file:///tmp",
        "s3a://bucket/db", "")) {
      for (iq <- Seq(search.copy(db = Some(bad)),
          Interpreter.ListMetrics(Some(bad), search.output))) {
        val ex = intercept[Interpreter.QueryException](e.frame(iq))
        assert(ex.kind == "InvalidDatabase", s"$bad: $ex")
      }
    }
  }

  test("at-rest snapshot: warm reads run no Spark job, a fresh read " +
      "leaves the pin in place, and a cached read sees every new file") {
    import graft.storage.{CacheRegistry, Tables}
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val dir = SparkTestBase.tempDir("graft-db-snap")
    val store = new WritableStore(spark, dir, "m",
      Seq(StructField("v", DoubleType)), partitionByDay = true)
    val base = 1650931200L * 1000000000L // 2022-04-26
    val day = 86400L * 1000000000L
    store.pushMulti((0 until 3).map(d => DataPoint(base + d * day,
      Seq(d.toDouble))))
    store.persist()
    val e = new Engine(spark, dir)
    def cached() = e.frame("select * from m where ts >= '2022-04-01'")
    def values(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getDouble(1)).toSeq.sorted
    val fresh = "with use_cache = false select * from m " +
      "where ts in ('2022-04-27', +1 day)"
    Tables.read(spark, dir, "m")
    assert(SparkTestBase.countJobs(Tables.read(spark, dir, "m"))._2 == 0)
    e.frame(fresh)
    assert(SparkTestBase.countJobs(e.frame(fresh))._2 == 0)
    // a fresh read never resolves to the pin, and leaves it pinned
    assert(values(cached()) == Seq(0.0, 1.0, 2.0))
    val pin = CacheRegistry.get(spark, dir, "m")
    val freshDf = e.frame(fresh)
    val plan = freshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan") && plan.contains("FileScan"),
      plan)
    assert(values(freshDf) == Seq(1.0))
    assert(pin.storageLevel != StorageLevel.NONE)
    assert(CacheRegistry.get(spark, dir, "m") eq pin)
    // new rows through the store, then a file written beside it
    store.pushMulti(Seq(DataPoint(base + 3 * day, Seq(3.0))))
    store.persist()
    assert(values(cached()) == Seq(0.0, 1.0, 2.0, 3.0))
    Seq((base + 4 * day, 4.0)).toDF("ts", "v").write
      .parquet(new java.io.File(dir, "m/__day=2022-04-30").getPath)
    val seen = cached()
    assert(seen.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"))
    assert(values(seen) == Seq(0.0, 1.0, 2.0, 3.0, 4.0))
    // force_sync_cloud re-reads: a new pin, built with the schema job
    val before = CacheRegistry.get(spark, dir, "m")
    val (_, jobs) = SparkTestBase.countJobs(e.frame(
      "with force_sync_cloud = true select * from m where ts >= '2022-04-01'"))
    assert(jobs >= 1)
    assert(!(CacheRegistry.get(spark, dir, "m") eq before))
    // two sessions never share a pinned frame, and one session's release
    // leaves the other's read cached
    val other = spark.newSession()
    val mine = CacheRegistry.get(spark, dir, "m")
    val theirs = CacheRegistry.get(other, dir, "m")
    assert(!(mine eq theirs))
    assert((mine.sparkSession eq spark) && (theirs.sparkSession eq other))
    mine.unpersist(blocking = true)
    assert(CacheRegistry.get(other, dir, "m").storageLevel !=
      StorageLevel.NONE)
    assert(values(CacheRegistry.get(other, dir, "m")) ==
      Seq(0.0, 1.0, 2.0, 3.0, 4.0))
  }

  test("unknown metrics errors") {
    val e = new Engine(spark, dbDir)
    assertThrows[IllegalArgumentException](
      e.frame("select * from nope where ts in today()"))
  }
}
