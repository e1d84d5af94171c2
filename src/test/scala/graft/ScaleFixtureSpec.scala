package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scaled-benchmark fixture must be a FAITHFUL enlargement of the
  * source sf-dir — same schemas, copy 0 verbatim, disjoint id/time spaces,
  * join keys in-domain, the engine's ts-sorted block invariant — or every
  * 10× composition ratio read from it is measuring a layout change, not
  * scaling.
  */
class ScaleFixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val src = "/root/testdata/sf0.001"
  private val evK = 2
  private val docK = 3

  private lazy val out: String = {
    val d = SparkTestBase.tempDir("graft-scalefix")
    // the engine's read confs (timestamp[us] as TimestampType) must not
    // leak into what the fixture writes
    graft.storage.Tables.configure(spark)
    ScaleFixture.build(spark, src, d, evK, docK)
    d
  }

  /** The schema the files declare. Spark-written files carry their Spark
    * schema in the footer and read back as written; the source's are
    * inferred from the parquet types. Inference must honour the timestamp
    * annotation (`inferTimestampNTZ` on) for the two to be comparable —
    * the engine's setting maps every timestamp to `TimestampType`. */
  private def filesSchema(path: String) = {
    val k = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "true")
    try spark.read.parquet(path).schema
    finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Parquet logical type of every timestamp column of a table (a file,
    * or a directory of part files — all parts must agree). */
  private def footerTsTypes(path: String): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val perFile = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
        case c if c.getLogicalTypeAnnotation
            .isInstanceOf[TimestampLogicalTypeAnnotation] =>
          c.getName -> c.getLogicalTypeAnnotation.toString
      }.toMap
      finally r.close()
    }
    assert(perFile.nonEmpty && perFile.distinct.size == 1, s"$path: $perFile")
    perFile.head
  }

  private def srcT(n: String) = spark.read.parquet(s"$src/$n.parquet")
  private def outT(n: String) = spark.read.parquet(s"$out/$n.parquet")

  test("row counts scale by exactly the configured factors") {
    for ((t, k) <- Seq("events" -> evK, "orders" -> evK, "lineitem" -> evK,
        "part" -> evK, "documents" -> docK, "embeddings" -> docK,
        "customer" -> 1, "supplier" -> 1, "nation" -> 1, "region" -> 1))
      assert(outT(t).count() === srcT(t).count() * k, t)
  }

  test("schemas are field-for-field identical to the source tables") {
    for (t <- Seq("events", "documents", "embeddings", "orders", "lineitem",
        "customer", "supplier", "part", "nation", "region"))
      assert(filesSchema(s"$out/$t.parquet") ===
        filesSchema(s"$src/$t.parquet"), t)
    // the footers themselves: TIMESTAMP(MICROS,false) must not come back
    // as (MICROS,true), which DuckDB reads as TIMESTAMPTZ
    for (t <- Seq("events", "orders", "lineitem")) {
      val want = footerTsTypes(s"$src/$t.parquet")
      assert(want.nonEmpty, t)
      assert(footerTsTypes(s"$out/$t.parquet") === want, t)
    }
  }

  test("copy 0 is the source verbatim; copies occupy disjoint id spaces") {
    // documents copy 0 (doc_id below the first shift) round-trips exactly
    val c0 = outT("documents").filter(col("doc_id") < 10000000L)
    assert(c0.exceptAll(srcT("documents")).isEmpty &&
      srcT("documents").exceptAll(c0).isEmpty)
    // id spaces are disjoint: copy 1's min id clears copy 0's max id
    val ev = outT("events")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val copy0 = ev.filter(col("user_id") < 1000000L)
    val copy1 = ev.filter(col("user_id") >= 1000000L)
    assert(copy1.agg(min("user_id")).head().getLong(0) >
      copy0.agg(max("user_id")).head().getLong(0))
    // event time ranges are disjoint (40-day shift > the 30-day span)
    assert(copy1.agg(min("ts_us")).head().getLong(0) >
      copy0.agg(max("ts_us")).head().getLong(0))
  }

  test("caesar copies preserve per-doc text length but shift vocabulary") {
    val lens = outT("documents")
      .select(pmod(col("doc_id"), lit(10000000L)).as("base_id"),
        length(col("text")).as("len"))
      .groupBy("base_id").agg(countDistinct("len").as("n"))
    assert(lens.filter(col("n") =!= 1).isEmpty)
    // disjoint vocabularies: copy-1 text is NOT equal to copy-0 text
    val same = outT("documents").filter(col("doc_id") >= 10000000L &&
        col("doc_id") < 20000000L)
      .select(pmod(col("doc_id"), lit(10000000L)).as("base_id"),
        col("text").as("t1"))
      .join(srcT("documents").select(col("doc_id").as("base_id"),
        col("text").as("t0")), "base_id")
      .filter(col("t0") === col("t1") && length(col("t0")) > 0)
    assert(same.isEmpty)
  }

  test("lineitem keeps referential integrity into the scaled part table") {
    // every scaled l_partkey must exist in the scaled part catalog —
    // part grows WITH the facts (constant co-purchase graph density)
    val dangling = outT("lineitem").select(col("l_partkey"))
      .join(outT("part").select(col("p_partkey").as("l_partkey")),
        Seq("l_partkey"), "left_anti")
    assert(dangling.isEmpty)
    // copies reference disjoint part ranges: the catalog's used-key count
    // grows with the copies instead of densifying a fixed node set
    assert(outT("lineitem").select("l_partkey").distinct().count() ===
      srcT("lineitem").select("l_partkey").distinct().count() * evK)
  }

  test("scaled events keep the ts-sorted block invariant per file") {
    import org.apache.spark.sql.expressions.Window
    val byFile = outT("events")
      .withColumn("f", input_file_name())
      .withColumn("prev",
        lag("ts", 1).over(Window.partitionBy("f").orderBy(
          monotonically_increasing_id())))
    // physical row order within each file is what the sorted-block
    // invariant promises; read order preserves it for a single-file task
    assert(byFile.filter(col("prev") > col("ts")).isEmpty)
  }
}
