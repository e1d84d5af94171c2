package graft.ql

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels
import java.time.{Instant, ZoneId}
import scala.jdk.CollectionConverters._
import org.apache.arrow.memory.{BufferAllocator, RootAllocator}
import org.apache.arrow.vector.{VectorLoader, VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.ipc.{ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.arrowbatch.ArrowBatches
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector,
  ColumnarBatch}

import graft.operators.TsOps
import graft.storage.{CacheRegistry, Tables}
import Ast._
import Interpreter._

/** End-to-end dialect executor: parse → interpret → DataFrame plan → output
  * (the reference's adhoc path,
  * `zikeiretsu/src/tsdb/query/executor/mod.rs:34-120`).
  *
  * The physical strategy is deliberately left to Catalyst: the built plan is
  * `scan → range filter → (grouped limit) → project`, so predicate/projection
  * pushdown and partition pruning do the work the reference hand-rolled with
  * its sorted block index.
  */
final class Engine(val spark: SparkSession, val dbDir: String,
    now: () => Instant = () => Instant.now()) {

  /** Parse+interpret only (exposed for tests). */
  def interpret(query: String): Interpreted =
    Interpreter.interpret(QueryParser.parse(query), now())

  /** Full Spark SQL over the same metrics tables (each registered as a temp
    * view), alongside the dialect — the reference's surface is the dialect;
    * SQL is the engine's native superset (SURVEY §2.4). Also registers
    * `format_ns(ts)` for ns rendering in SQL.
    */
  def sql(query: String): DataFrame = {
    Tables.listMetrics(dbDir).foreach { m =>
      Tables.read(spark, dbDir, m).createOrReplaceTempView(m)
    }
    // same descriptors as the session-extensions surface — one source of
    // truth for name/arity/builder (graft.GraftExtensions.functions)
    graft.GraftExtensions.functions.foreach { f =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        f.name, f.builder, "scala_udf")
    }
    spark.sql(query)
  }

  /** Compile a dialect query to a DataFrame (no output formatting). */
  def frame(query: String): DataFrame = frame(interpret(query))

  def frame(iq: Interpreted): DataFrame = iq match {
    case ListMetrics(db, _) =>
      Tables.metricsDf(spark, resolveDb(db))
    case d: DescribeMetrics =>
      if (d.blockList) Tables.blockListDf(spark, resolveDb(d.db), d.metricsFilter)
      else Tables.describeDf(spark, resolveDb(d.db), d.metricsFilter)
    case s: SearchMetrics =>
      val db = resolveDb(s.db)
      // force_sync_cloud ≈ REFRESH TABLE (`storage/api/cloud_setting.rs`);
      // use_cache = false reads a relation no pin matches, leaving pins be
      if (s.forceSync) CacheRegistry.invalidate(spark, db, s.metrics)
      val raw =
        if (s.useCache) CacheRegistry.get(spark, db, s.metrics)
        else Tables.readRange(spark, db, s.metrics, s.range.since,
          s.range.until)
      require(raw.columns.contains("ts"),
        s"metrics '${s.metrics}' has no ts column")
      // positional aliasing: `with cols=[...]` renames value fields in schema
      // order; ts keeps its name and is implicitly first
      // (`query/lexer/mod.rs:190-196`)
      val fieldCols = raw.columns.filter(_ != "ts").toSeq
      val aliased = s.colAliases match {
        case Some(aliases) =>
          require(aliases.length <= fieldCols.length,
            s"more aliases (${aliases.length}) than fields (${fieldCols.length})")
          val renames = fieldCols.zip(aliases ++ fieldCols.drop(aliases.length))
          renames.foldLeft(raw) { case (d, (from, to)) =>
            d.withColumnRenamed(from, to)
          }
        case None => raw
      }
      val filtered = TsOps.rangeFilter(aliased, s.range.since, s.range.until)
      val limited = s.limit match {
        case Some(Limit.Head(n)) => TsOps.groupedHead(filtered, n)
        case Some(Limit.Tail(n)) => TsOps.groupedTail(filtered, n)
        case None                => filtered
      }
      s.fieldSelectors match {
        case Some(names) => limited.select(("ts" +: names).map(col): _*)
        case None =>
          val order = "ts" +: limited.columns.filter(_ != "ts").toSeq
          limited.select(order.map(col): _*)
      }
  }

  /** Execute with the reference's output semantics: table/json render to a
    * string, parquet writes to the with-clause file path. Returns the
    * rendered text (empty for file outputs).
    */
  def execute(query: String): String = {
    val iq = interpret(query)
    val df = frame(iq)
    val (tz, fmtDt) = Output.tsRendering(iq)
    iq.output.format match {
      case OutputFormat.Table => Output.asciiTable(df, tz, fmtDt)
      case OutputFormat.Json  => Output.columnJson(df, tz, fmtDt)
      case OutputFormat.Parquet | OutputFormat.ParquetSnappy =>
        val path = iq.output.filePath.getOrElse(
          throw QueryException("InvalidOutputDestination", "parquet needs output_file"))
        val codec =
          if (iq.output.format == OutputFormat.ParquetSnappy) "snappy"
          else "uncompressed"
        val w = if (Output.singleFileFor(df)) df.coalesce(1) else df
        w.write.mode("overwrite")
          .option("compression", codec).parquet(path)
        ""
    }
  }

  /** `db = d` is a relative path under the root, no scheme, no `..`
    * (Hadoop Path, not java.io.File: dbDir may be an object-store URI). */
  private def resolveDb(db: Option[String]): String = db.fold(dbDir) { d =>
    val p = scala.util.Try(new org.apache.hadoop.fs.Path(d)).toOption
    if (p.forall(p => p.isAbsolute || p.toUri.getScheme != null) ||
        d.split("[/\\\\]").contains(".."))
      throw QueryException("InvalidDatabase",
        s"db = $d: a database is a relative path under the root")
    new org.apache.hadoop.fs.Path(dbDir, d).toString
  }
}

/** Output formatting (`query/executor/output/format/`): ASCII table,
  * column-oriented JSON (`{col: [values…]}` — NOT Spark's row-JSON), parquet.
  * `format_datetime=true` renders the ns `ts` long as RFC3339-with-nanos in
  * the query tz (`data_types/dataseries_ref.rs:70-148`).
  *
  * Every text and Arrow answer comes from one encoder: [[arrowBatches]]
  * runs the frame as one Spark job whose tasks encode their rows as Arrow
  * record batches; the table and the JSON columns are rendered from those
  * batches' vectors, and `graft.server.ArrowFraming` sends them as they
  * are.
  */
object Output {

  /** Driver-side render cap, `GRAFT_MAX_RENDER_ROWS` (default 100,000),
    * read once: table, JSON and Arrow answers carry at most this many rows,
    * so an unbounded `select *` over a month of data cannot OOM the driver
    * at scale; file outputs are unaffected. */
  lazy val maxRenderRows: Int =
    renderRowsCap(sys.env.get("GRAFT_MAX_RENDER_ROWS"))

  /** The cap a `GRAFT_MAX_RENDER_ROWS` value sets. Each task reads one row
    * past the cap to detect truncation, so the cap stays below
    * `Int.MaxValue`. */
  private[graft] def renderRowsCap(value: Option[String]): Int =
    value.fold(100000) { v =>
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"GRAFT_MAX_RENDER_ROWS must be an int, got '$v'"))
      require(n >= 1 && n < Int.MaxValue,
        s"GRAFT_MAX_RENDER_ROWS must be in [1, ${Int.MaxValue - 1}], got $n")
      n
    }

  /** Estimated-size ceiling for defaulting to single-file parquet output:
    * results Catalyst sizes above this write parallel part-files. */
  val SingleFileMaxBytes: Long = 128L * 1024 * 1024

  /** Single-file output mirrors the reference's one-parquet-per-query, but
    * a coalesce(1) is a one-task funnel on a big extract — so the default
    * is size-guarded: single file only when Catalyst's estimate says the
    * result is interactive-scale, parallel part-files above. */
  def singleFileFor(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= SingleFileMaxBytes

  /** How a query asks for `ts`: a search's `tz` and `format_datetime`;
    * raw longs in UTC for the meta queries. */
  def tsRendering(iq: Interpreted): (ZoneId, Boolean) = iq match {
    case s: SearchMetrics => (s.tz, s.formatDatetime)
    case _                => (java.time.ZoneOffset.UTC, false)
  }

  /** `df` with a `LongType` ns `ts` rendered in the plan as RFC3339 in `tz`
    * ([[graft.functions.FormatNanos]]) when `formatDatetime` is set; `df`
    * itself otherwise. The one `ts` formatter behind every text and Arrow
    * answer. */
  def formatTs(df: DataFrame, tz: ZoneId, formatDatetime: Boolean): DataFrame =
    if (formatDatetime &&
        df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", graft.functions.FormatNanos.format_ns(col("ts"), tz.getId))
    else df

  /** Rows per Arrow record batch. */
  private val BatchRows = 4096

  /** An answer's rows as Arrow record-batch messages (IPC, no schema) under
    * `arrowSchema`, the rows they hold, and whether rows were left over at
    * the cap. */
  final case class Batches(schema: StructType, arrowSchema: Schema,
      messages: Seq[Array[Byte]], rows: Long, truncated: Boolean)

  /** The first `maxRows` rows of `df`, encoded in the tasks of one Spark
    * job ([[org.apache.spark.sql.arrowbatch.ArrowBatches]]).
    *
    * Each task stops at `maxRows + 1` rows, so at most partitions ×
    * (`maxRows` + 1) rows come back to the driver. The driver takes the
    * partitions in order: a batch that crosses the cap is cut to its head,
    * and a partition is dropped once the rows before it fill the cap. The
    * plan gets no root `limit`: `CollectLimitExec` would funnel a
    * multi-partition frame through a single-partition shuffle. */
  def arrowBatches(df: DataFrame, maxRows: Int): Batches = {
    require(maxRows >= 0 && maxRows < Int.MaxValue,
      s"maxRows must be in [0, ${Int.MaxValue - 1}], got $maxRows")
    val (arrowSchema, parts) = ArrowBatches.collect(df, maxRows + 1, BatchRows)
    val kept = Vector.newBuilder[Array[Byte]]
    var rows = 0L
    var truncated = false
    val it = parts.iterator.flatten
    while (!truncated && it.hasNext) {
      val (message, n) = it.next()
      val take = math.min(n.toLong, maxRows - rows).toInt
      truncated = take < n
      if (take == n) kept += message
      else if (take > 0) kept += head(arrowSchema, message, take)
      rows += take
    }
    Batches(df.schema, arrowSchema, kept.result(), rows, truncated)
  }

  private def withAllocator[T](body: BufferAllocator => T): T = {
    val alloc = new RootAllocator()
    try body(alloc) finally alloc.close()
  }

  private def load(root: VectorSchemaRoot, message: Array[Byte],
      alloc: BufferAllocator): Unit = {
    val batch = MessageSerializer.deserializeRecordBatch(
      new ReadChannel(Channels.newChannel(new ByteArrayInputStream(message))),
      alloc)
    try new VectorLoader(root).load(batch) finally batch.close()
  }

  /** The first `n` rows of a record-batch message, copied into fresh
    * vectors, so the message holds exactly what an `n`-row batch would. */
  private def head(schema: Schema, message: Array[Byte], n: Int): Array[Byte] =
    withAllocator { alloc =>
      val whole = VectorSchemaRoot.create(schema, alloc)
      val cut = VectorSchemaRoot.create(schema, alloc)
      try {
        load(whole, message, alloc)
        cut.allocateNew()
        cut.getFieldVectors.asScala.zip(whole.getFieldVectors.asScala)
          .foreach { case (to, from) =>
            (0 until n).foreach(i => to.copyFromSafe(i, i, from))
          }
        cut.setRowCount(n)
        val batch = new VectorUnloader(cut).getRecordBatch
        val bos = new ByteArrayOutputStream()
        try MessageSerializer.serialize(
          new WriteChannel(Channels.newChannel(bos)), batch)
        finally batch.close()
        bos.toByteArray
      } finally { cut.close(); whole.close() }
    }

  /** Every cell of `b` as text, batch by batch and column by column within
    * a batch, `null` for a SQL NULL. A value renders as the `toString` of
    * its `Row` value; binary renders as base64, as Spark's `to_json` does. */
  private def foreachCell(b: Batches)(emit: (Int, String) => Unit): Unit =
    withAllocator { alloc =>
      val root = VectorSchemaRoot.create(b.arrowSchema, alloc)
      try b.messages.foreach { message =>
        load(root, message, alloc)
        val n = root.getRowCount
        b.schema.fields.indices.foreach { c =>
          val text = cellText(b.schema(c).dataType,
            new ArrowColumnVector(root.getVector(c)), n)
          (0 until n).foreach(i => emit(c, text(i)))
        }
      } finally root.close()
    }

  private def cellText(dt: DataType, v: ColumnVector, rows: Int)
      : Int => String = {
    val text: Int => String = dt match {
      case BinaryType =>
        i => java.util.Base64.getEncoder.encodeToString(v.getBinary(i))
      case _ =>
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        val batch = new ColumnarBatch(Array(v), rows)
        i => toScala(batch.getRow(i).get(0, dt)).toString
    }
    i => if (v.isNullAt(i)) null else text(i)
  }

  /** `[empty]` for empty results, matching the reference convention
    * (`executor/interface/mod.rs:45-47`). */
  def asciiTable(df: DataFrame, tz: ZoneId, formatDatetime: Boolean,
      maxRows: Int = maxRenderRows): String = {
    val b = arrowBatches(formatTs(df, tz, formatDatetime), maxRows)
    if (b.rows == 0) return "[empty]"
    val cols = b.schema.fieldNames
    val cells = cols.map(_ => Vector.newBuilder[String])
    foreachCell(b)((c, s) => cells(c) += String.valueOf(s))
    val columns = cells.map(_.result())
    val widths = cols.indices.map { c =>
      math.max(cols(c).length, columns(c).map(_.length).max)
    }
    def line(sep: String): String =
      widths.map("-" * _).mkString(sep + "-", "-" + sep + "-", "-" + sep)
    def fmt(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    val rows = (0 until b.rows.toInt).map(r => fmt(columns.map(_(r)).toSeq))
    val table = (Seq(line("+"), fmt(cols.toSeq), line("+")) ++ rows :+ line("+"))
      .mkString("\n")
    if (b.truncated) table + s"\n[truncated to $maxRows rows]" else table
  }

  /** A JSON string literal: quote, backslash and newline escaped by name,
    * every other control character as a hex unicode escape. The one
    * escaper behind every JSON frame graft writes: results, errors,
    * requests and oracle_sql.json. */
  def jsonStr(s: String): String =
    appendJsonStr(new StringBuilder(s.length + 2), s).toString

  private def appendJsonStr(sb: StringBuilder, s: String): StringBuilder = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def columnJson(df: DataFrame, tz: ZoneId, formatDatetime: Boolean,
      maxRows: Int = maxRenderRows): String = {
    val b = arrowBatches(formatTs(df, tz, formatDatetime), maxRows)
    val bare = b.schema.fields.map(_.dataType match {
      case _: NumericType | BooleanType => true
      case _ => false
    })
    val arrays = bare.map(_ => new StringBuilder)
    foreachCell(b) { (c, s) =>
      val sb = arrays(c)
      // every JSON value is non-empty text, so an empty array has no value yet
      if (sb.nonEmpty) sb.append(',')
      if (s == null) sb.append("null")
      else if (bare(c)) sb.append(s)
      else appendJsonStr(sb, s)
    }
    val out = new StringBuilder("{")
    b.schema.fieldNames.indices.foreach { c =>
      if (c > 0) out.append(',')
      appendJsonStr(out, b.schema.fieldNames(c))
        .append(":[").append(arrays(c)).append(']')
    }
    // a capped result must be distinguishable from a complete one — the
    // marker key is namespaced so it cannot collide with a data column
    if (b.truncated) {
      if (arrays.nonEmpty) out.append(',')
      out.append(s""""__truncated__":$maxRows""")
    }
    out.append('}').toString
  }
}
