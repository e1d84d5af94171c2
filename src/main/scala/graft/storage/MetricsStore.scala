package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed metrics catalog.
  *
  * A "database" is a directory; each metrics is either `dbDir/<name>/` (our
  * writer's layout, §`WritableStore`) or `dbDir/<name>.parquet` (single-file
  * layout, e.g. driver testdata). This replaces the reference's bespoke
  * block/block-list format (`zikeiretsu/src/tsdb/storage/`, SPEC.md:23-77)
  * with Parquet: row-group min/max stats are the block index, files are the
  * blocks, directory listing is the metrics list.
  *
  * Timestamps: a metrics table's `ts` column is epoch-nano LongType. Parquet
  * `timestamp[ns]` columns are read as longs via
  * `spark.sql.legacy.parquet.nanosAsLong`; `timestamp[us]` columns (what
  * external writers typically produce) are read as `TimestampType` and
  * normalized to epoch-nano longs by [[Tables.normalizeTs]] on the way in —
  * the session-level [[graft.plans.NanoTsRewrite]] rule then unwraps literal
  * predicates over the normalized column back to native timestamp
  * comparisons so row-group pruning still happens at the scan.
  */
object Tables {

  /** Runtime confs every session needs before reading metrics tables. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // read parquet timestamp[us] isAdjustedToUTC=false as TimestampType
    // (not TIMESTAMP_NTZ): under the UTC session pin below the instant is
    // identical, TimestampType comparisons push down to parquet stats, and
    // normalizeTs needs no per-type cast
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // min/max/count meta-queries answered from parquet footers
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // the engine's time model is UTC epoch-nanos; pin the session so no
    // date/timestamp rendering ever depends on the host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // predicates over normalizeTs output fold back to native scan filters
    graft.plans.NanoTsRewrite.install(spark)
    // SCALE-ADAPTIVE post-shuffle parallelism (optimization guide §2.2):
    // AQE coalescing never goes below `minPartitionSize`, whose 1 MB
    // default runs a 12 MB post-shuffle frame on 4 of 32 cores (measured:
    // graph_triangles' normalize+distinct stage, 2.9 s of task time in
    // 0.83 s of wall). At production scale the target bytes/parallelism is
    // far above any floor, so this is inert there. A value the user set on
    // the session is kept; 64k fills only a gap.
    val minPartitionSize =
      "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    if (!spark.sessionState.conf.contains(minPartitionSize))
      spark.conf.set(minPartitionSize, "64k")
  }

  /** Hadoop conf for catalog path operations — from the active session when
    * one exists (so object-store credentials and fs.* settings apply), else
    * the default. All path handling below goes through Hadoop
    * `FileSystem`/`Path`, never `java.io.File`, so a database dir can be
    * any supported scheme (`s3a://bucket/db`, `gs://…`), matching the
    * reference's cloud-block capability (`cloudstorage/gcp.rs:33-140`) the
    * Spark-native way: the object store IS the filesystem.
    */
  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsFor(p: HPath): FileSystem = p.getFileSystem(hadoopConf())

  /** The path of `metrics` in `dbDir` on `fs` (the database dir's
    * filesystem): the directory `<metrics>`, else `<metrics>.parquet`. */
  def metricsPath(fs: FileSystem, dbDir: String, metrics: String): String = {
    def status(p: HPath) =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    val dir  = new HPath(dbDir, metrics)
    val file = new HPath(dbDir, metrics + ".parquet")
    if (status(dir).exists(_.isDirectory)) dir.toString
    else if (status(file).nonEmpty) file.toString
    else throw new IllegalArgumentException(s"unknown metrics '$metrics' in $dbDir")
  }

  /** Normalize a physical `ts` column to the engine's epoch-nano LongType.
    * Engine-written blocks already carry LongType nanos (untouched);
    * externally-written tables carry parquet `timestamp[us]`, which arrives
    * as `TimestampType` (see [[configure]]) and converts via
    * `unix_micros * 1000` — exact for every representable instant up to
    * year 2262 (Long ns range), and engine-identical to DuckDB's
    * `epoch_ns(ts)` on the same file, which is what the oracle compares.
    * Literal filters the caller stacks on the normalized column are folded
    * back to native timestamp predicates by [[graft.plans.NanoTsRewrite]],
    * so block/row-group pruning by time (SURVEY §2 row 2) is preserved.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast("timestamp")) * lit(1000L)).as("ts"))
      case _ => df
    }

  /** A parquet tree's read under one listing: its schema inferred and its
    * Spark file index listed once, so a warm read runs no Spark job. */
  private[storage] final case class TreeSnapshot(root: String,
      listing: FileTree.Listing, df: DataFrame) extends FileTree.Snapshot

  private[storage] val TreeKind = "parquet tree"

  /** The parquet tree at `path` ([[FileTree.atRest]]), or None (not kept)
    * when it lists no data file or has no inferable schema. */
  private[storage] def treeAtRest(spark: SparkSession, path: String)
      : Option[TreeSnapshot] =
    treeAtRest(spark, FileTree.qualified(spark, path)._1, path)

  private def treeAtRest(spark: SparkSession, fs: FileSystem, path: String)
      : Option[TreeSnapshot] = {
    val p = new HPath(path)
    val root = fs.makeQualified(p).toString
    val listing = FileTree.listing(fs, p)
    if (listing.isEmpty) None
    else FileTree.readOrNone(FileTree.atRest(spark, TreeKind, root, listing)(
      TreeSnapshot(root, listing, spark.read.parquet(path))))
  }

  /** A metrics table's snapshot, under the confs [[configure]] pins (the
    * schema depends on them); an unreadable table fails as Spark does. */
  private[storage] def snapshot(spark: SparkSession, dbDir: String,
      metrics: String): TreeSnapshot = {
    configure(spark)
    val fs = FileTree.qualified(spark, dbDir)._1
    val path = metricsPath(fs, dbDir, metrics)
    treeAtRest(spark, fs, path).getOrElse {
      spark.read.parquet(path)
      throw new IllegalArgumentException(
        s"metrics '$metrics' in $dbDir holds no data file")
    }
  }

  /** A table as the engine serves it: `ts` in nanos, no `__day` column. */
  private[storage] def table(df: DataFrame): DataFrame =
    dropDay(normalizeTs(df))

  private def dropDay(df: DataFrame): DataFrame =
    if (df.columns.contains(WritableStore.PartitionCol))
      df.drop(WritableStore.PartitionCol)
    else df

  def read(spark: SparkSession, dbDir: String, metrics: String): DataFrame =
    table(snapshot(spark, dbDir, metrics).df)

  /** Range-aware read: applies the `[since, until)` ts predicate AND, for
    * date-bucketed tables, the equivalent predicate on the `__day` partition
    * column — directory-level pruning needs a filter on the partition column
    * itself; the ts filter alone only prunes row-groups via footer stats.
    *
    * The fresh (`use_cache = false`) read, under the snapshot's schema: of
    * the `__day` directories the range touches (`basePath` at the root),
    * else of the listed files. Spark matches cached data by a relation's
    * root paths, so no pin answers it — except of a one-file table. */
  def readRange(spark: SparkSession, dbDir: String, metrics: String,
      since: Option[Long], until: Option[Long]): DataFrame = {
    val t = snapshot(spark, dbDir, metrics)
    val read = spark.read.schema(t.df.schema)
    val raw = FileTree.dayDirs(t.listing, since, until) match {
      case Some(Seq()) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.df.schema)
      case Some(dirs) => read.option("basePath", t.root).parquet(dirs: _*)
      case None => read.parquet(t.listing.map(_._1): _*)
    }
    dropDay(FileTree.scope(normalizeTs(raw), col("ts"), since, until))
  }

  /** Save a frame as a bucketed catalog table: rows are hash-bucketed (and
    * optionally sorted) on the join/aggregation key at WRITE time, so
    * repeated joins and aggregations on that key run shuffle-free — the
    * co-located-join strategy for fact tables that outlive one query. (A
    * bucketed layout must live in the session catalog: bucket metadata has
    * no place in a bare parquet directory.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one column")
    val w0 = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w1 =
      if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*)
      else w0
    // an explicit path makes the table EXTERNAL: bucket metadata lives in
    // the session catalog, the files wherever the caller wants them
    // (scratch dir, object store) instead of the default warehouse dir
    val w2 = path.fold(w1)(p => w1.option("path", p))
    w2.format("parquet").saveAsTable(table)
  }

  /** All metrics names in the database dir (`.metrics` meta-table —
    * `query/executor/metrics_list.rs`). */
  def listMetrics(dbDir: String): Seq[String] = {
    val root = new HPath(dbDir)
    val fs = fsFor(root)
    val entries =
      if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty
    entries.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && !name.startsWith(".") && !name.startsWith("_"))
        Some(name)
      else if (st.isFile && name.endsWith(".parquet"))
        Some(name.stripSuffix(".parquet"))
      else None
    }.distinct.sorted
  }

  /** The `.metrics` frame as ONE partition, like `.describe` and
    * `.block_list`: a local relation otherwise splits into one partition
    * per row, and its answer into one single-row Arrow batch per table. */
  def metricsDf(spark: SparkSession, dbDir: String): DataFrame = {
    import spark.implicits._
    listMetrics(dbDir).toDF("metrics").coalesce(1)
  }

  /** `.describe`: per metrics — row count and ts range (`.describe` builds
    * updated_at/block_num/from/end from block metadata,
    * `query/executor/describe_metrics.rs:9-113`). With aggregate pushdown the
    * min/max/count run footer-only.
    */
  /** One data file ("block"): qualified path + modification time (ms). */
  private final case class DataFile(path: HPath, mtimeMs: Long) {
    def name: String = path.getName
  }

  /** Data files + mtimes for a metrics — `.describe`'s
    * updated_at/block_num (reference block metadata,
    * `describe_metrics.rs:95-112`). The shared [[FileTree]] walk, so
    * date-bucketed layouts and object-store prefixes both list the same
    * way, and a concurrent persist's `_temporary` output is neither
    * counted nor walked into. */
  private def dataFiles(dbDir: String, metrics: String): Seq[DataFile] = {
    val fs = fsFor(new HPath(dbDir))
    val root = new HPath(metricsPath(fs, dbDir, metrics))
    FileTree.files(fs, root).collect {
      case st if st.getPath.getName.endsWith(".parquet") =>
        DataFile(st.getPath, st.getModificationTime)
    }
  }

  /** Per-file footer stats: (file, rows, ts min, ts max) read driver-side
    * from the Parquet footer — row-group metadata IS the block index (the
    * reference answers `.block_list`/`.describe` from its block-list file,
    * `storage/block_list/mod.rs:417-520`, never touching block data; the
    * Spark analog is footer row-group statistics, never touching data
    * pages). Metadata queries therefore cost zero data IO at any scale.
    */
  private def footerStats(spark: SparkSession, files: Seq[DataFile])
      : Seq[(DataFile, Long, Option[Long], Option[Long])] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(f.path, conf))
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val tsField = footer.getFileMetaData.getSchema.getFields.asScala
          .find(_.getName == "ts")
        // stats carry the column's PHYSICAL int64 in its own unit: engine
        // blocks store ns longs (scale 1), external timestamp[us]/[ms]
        // annotations scale to the ns the describe/block_list contract
        // reports — same normalization as [[Tables.normalizeTs]], footer-side
        val nsScale: Long = tsField.flatMap { f =>
          import org.apache.parquet.schema.LogicalTypeAnnotation
          Option(f.asPrimitiveType().getLogicalTypeAnnotation).collect {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
                case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
                case _ => 1L
              }
          }
        }.getOrElse(1L)
        val tsStats =
          if (tsField.isEmpty) Nil
          else blocks.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "ts")
              .map(_.getStatistics)
              .filter(st => st != null && st.hasNonNullValue)
              .map(st =>
                (st.genericGetMin.asInstanceOf[Number].longValue() * nsScale,
                  st.genericGetMax.asInstanceOf[Number].longValue() * nsScale))
          }
        (f, rows, tsStats.map(_._1).minOption, tsStats.map(_._2).maxOption)
      } finally reader.close()
    }
  }

  def describeDf(spark: SparkSession, dbDir: String,
      metricsFilter: Option[String]): DataFrame = {
    configure(spark)
    import spark.implicits._
    val names = metricsFilter.fold(listMetrics(dbDir))(m => Seq(m))
    val rows = names.map { m =>
      val files = dataFiles(dbDir, m)
      val updatedAt = files.map(_.mtimeMs).maxOption.getOrElse(0L) * 1000000L
      val stats = footerStats(spark, files)
      val rowNum = stats.map(_._2).sum
      val fromTs = stats.flatMap(_._3).minOption
      val endTs = stats.flatMap(_._4).maxOption
      (m, updatedAt, files.length.toLong, rowNum, fromTs, endTs)
    }
    rows.toDF("metrics", "updated_at", "block_num", "row_num", "from_ts",
      "end_ts").orderBy("metrics")
  }

  /** `.block_list`: one row per parquet data file ("block"), with its ts
    * min/max (`describe_metrics.rs:116-158`). seq = position in
    * (block_start, path) order, mirroring the reference's block sequence
    * numbers. Footer-only — no data scan (see [[footerStats]]).
    */
  def blockListDf(spark: SparkSession, dbDir: String,
      metricsFilter: Option[String]): DataFrame = {
    configure(spark)
    import spark.implicits._
    val names = metricsFilter.fold(listMetrics(dbDir))(m => Seq(m))
    val rows = names.flatMap { m =>
      val withTs = footerStats(spark, dataFiles(dbDir, m)).collect {
        // empty files and ts-less tables carry no block range — not blocks
        case (f, rows, Some(start), Some(end)) if rows > 0 =>
          (f, rows, start, end)
      }
      withTs.sortBy { case (f, _, start, _) => (start, f.path.toString) }
        .zipWithIndex.map { case ((f, rowNum, start, end), i) =>
          (m, f.mtimeMs * 1000000L, i + 1, rowNum, start, end)
        }
    }
    rows.toDF("metrics", "updated_at", "seq", "row_num", "block_start",
      "block_end").orderBy("metrics", "seq")
  }
}
