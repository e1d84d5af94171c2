package graft.ql

import java.time.{Instant, ZoneId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, NumericType}

import graft.operators.TsOps
import graft.storage.Tables
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
      // force_sync_cloud ≈ REFRESH TABLE: re-list files, drop cached data
      // (`storage/api/cloud_setting.rs`; cloud-path tables are just
      // object-store URIs to Spark, so a refresh is the whole story)
      if (s.forceSync) graft.storage.CacheRegistry.invalidate(spark, db, s.metrics)
      // use_cache maps to the table-LRU (reference block cache analog).
      // false = read fresh from disk: the cached plan must be dropped first,
      // because Spark cache matching is plan-based — an equivalent scan
      // would silently resolve to the InMemoryRelation otherwise.
      // uncached reads push the range onto the partition column too, so
      // date-bucketed tables get directory pruning before footer stats
      val raw =
        if (s.useCache) graft.storage.CacheRegistry.get(spark, db, s.metrics)
        else {
          graft.storage.CacheRegistry.invalidate(spark, db, s.metrics)
          Tables.readRange(spark, db, s.metrics, s.range.since, s.range.until)
        }
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

  // Hadoop Path, not java.io.File: dbDir may be an object-store URI
  private def resolveDb(db: Option[String]): String =
    db.fold(dbDir)(d => new org.apache.hadoop.fs.Path(dbDir, d).toString)
}

/** Output formatting (`query/executor/output/format/`): ASCII table,
  * column-oriented JSON (`{col: [values…]}` — NOT Spark's row-JSON), parquet.
  * `format_datetime=true` renders the ns `ts` long as RFC3339-with-nanos in
  * the query tz (`data_types/dataseries_ref.rs:70-148`).
  */
object Output {

  /** Driver-side render cap: table/JSON rendering materializes rows on the
    * driver, so an unbounded `select *` over a month of data would OOM it at
    * scale. Rows stream in via `toLocalIterator` (one partition at a time)
    * and rendering stops at the cap; file outputs are unaffected.
    */
  def maxRenderRows: Int =
    sys.env.get("GRAFT_MAX_RENDER_ROWS").map(_.toInt).getOrElse(100000)

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

  /** Up to `maxRows` rows of `df` as strings, a SQL NULL as `null`; and
    * whether rows were left over at the cap. */
  private def renderRows(df: DataFrame, maxRows: Int)
      : (Array[String], Seq[Array[String]], Boolean) = {
    val cols = df.columns
    val it = df.toLocalIterator()
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    while (it.hasNext && rows.length < maxRows) {
      val row = it.next()
      rows += cols.indices.map { i =>
        if (row.isNullAt(i)) null else row.get(i).toString
      }.toArray
    }
    (cols, rows.toSeq, it.hasNext)
  }

  /** `[empty]` for empty results, matching the reference convention
    * (`executor/interface/mod.rs:45-47`). */
  def asciiTable(df: DataFrame, tz: ZoneId, formatDatetime: Boolean,
      maxRows: Int = maxRenderRows): String = {
    val (cols, rendered, truncated) =
      renderRows(formatTs(df, tz, formatDatetime), maxRows)
    if (rendered.isEmpty) return "[empty]"
    val rows = rendered.map(_.map(String.valueOf))
    val widths = cols.indices.map { i =>
      math.max(cols(i).length, rows.map(_(i).length).max)
    }
    def line(sep: String): String =
      widths.map("-" * _).mkString(sep + "-", "-" + sep + "-", "-" + sep)
    def fmt(vals: Array[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    val table = (Seq(line("+"), fmt(cols), line("+")) ++ rows.map(fmt) :+ line("+"))
      .mkString("\n")
    if (truncated) table + s"\n[truncated to $maxRows rows]" else table
  }

  /** A JSON string literal: quote, backslash and newline escaped by name,
    * every other control character as a hex unicode escape. The one
    * escaper behind every JSON frame graft writes: results, errors,
    * requests and oracle_sql.json. */
  def jsonStr(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def columnJson(df: DataFrame, tz: ZoneId, formatDatetime: Boolean,
      maxRows: Int = maxRenderRows): String = {
    val shown = formatTs(df, tz, formatDatetime)
    val (cols, rows, truncated) = renderRows(shown, maxRows)
    val colTypes = shown.schema.fields
    def jsonVal(s: String, i: Int): String =
      if (s == null) "null"
      else colTypes(i).dataType match {
        case _: NumericType | BooleanType => s
        case _ => jsonStr(s)
      }
    val body = cols.indices.map { i =>
      val vals = rows.map(r => jsonVal(r(i), i)).mkString("[", ",", "]")
      jsonStr(cols(i)) + ":" + vals
    }
    // a capped result must be distinguishable from a complete one — the
    // marker key is namespaced so it cannot collide with a data column
    val parts = if (truncated) body :+ s""""__truncated__":$maxRows""" else body
    parts.mkString("{", ",", "}")
  }
}
