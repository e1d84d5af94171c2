package graft

import java.security.MessageDigest
import java.time.{ZoneId, ZoneOffset}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.arrow.vector.types.TimeUnit
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ql.{Engine, Output}
import graft.server.ArrowFraming
import graft.storage.{DataPoint, RollupStore, WritableStore}

/** The wire contract of every answer, now that the tasks encode the rows
  * as Arrow batches: JSON and table text byte-identical to the earlier
  * driver-side row encoder (goldens taken from it), Arrow streams that
  * decode the same, truncation inside a batch and across partitions, and
  * one Spark job per answer. */
class AnswerEncodingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Utc = ZoneOffset.UTC
  private val Tz9: ZoneId = ZoneOffset.ofHours(9)

  private def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** A `timestamp` value as the row encoder rendered it
    * (`java.sql.Timestamp.toString`, in the JVM's zone). */
  private def t(us: Long): String = timestamp(us).toString

  /** One partition of every scalar type the serving path meets, with the
    * characters JSON must escape and a null in every column. */
  private lazy val wire: DataFrame = {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("d18", DecimalType(18, 2)),
      StructField("d28", DecimalType(28, 2)),
      StructField("s", StringType), StructField("t", TimestampType)))
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row(1L, 1, 1.5, true, dec("12.34"), dec("12345678901234567890123456.78"),
        "q\"b\\s\nn\u0001c\u001f é日本", timestamp(1704844800123456L)),
      Row(Long.MinValue, Int.MinValue, Double.NaN, false,
        dec("-9999999999999999.99"), dec("0.00"), "", timestamp(0L)),
      Row(Long.MaxValue, Int.MaxValue, Double.PositiveInfinity, true,
        dec("0.01"), dec("-0.50"), "null", timestamp(-1L)),
      Row(0L, -7, Double.NegativeInfinity, false, dec("100.00"), dec("7.00"),
        "tab\there", timestamp(1L)),
      Row(-3L, 0, 1.0E10, null, null, null, "plain", null),
      Row(null, null, null, null, null, null, null, null),
      Row(42L, 5, -0.0, true, dec("3.14"), dec("2.72"), null,
        timestamp(1500000000000000L)),
      Row(7L, null, 1.0E-5, null, dec("-1.00"),
        dec("99999999999999999999999999.99"), "x", null))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
  }

  private lazy val tsFrame: DataFrame =
    Seq((1650931200000000010L, 1.0), (1650931260123456789L, 2.5), (-1L, 3.0))
      .toDF("ts", "v").coalesce(1)

  private lazy val odd: DataFrame = spark.range(2).selectExpr(
    Seq("a\"b", "c\\d", "e\nf", "x y", "日本", "tab\tc").map(n =>
      s"CAST(id AS STRING) AS `$n`"): _*).coalesce(1)

  private lazy val nested: DataFrame = spark.sql(
    "SELECT * FROM VALUES (1L, array(0.5f, 1.25f), map('k', 1)), " +
      "(2L, NULL, NULL), (3L, array(), map()) AS t(id, a, m)").coalesce(1)

  /** 12 rows over 3 partitions of 4. */
  private lazy val multi: DataFrame = spark.range(0, 12, 1, 3).toDF("id")

  private def json(df: DataFrame, tz: ZoneId = Utc, fmt: Boolean = false,
      maxRows: Int = Output.maxRenderRows) =
    Output.columnJson(df, tz, fmt, maxRows)
  private def table(df: DataFrame, tz: ZoneId = Utc, fmt: Boolean = false,
      maxRows: Int = Output.maxRenderRows) =
    Output.asciiTable(df, tz, fmt, maxRows)

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  /** The row encoder's answers, taken before encoding moved into the
    * tasks. */
  private lazy val golden: Map[String, String] = Map(
    "wire.json" ->
      ("{\"l\":[1,-9223372036854775808,9223372036854775807,0,-3,null,42,7]" +
      "," +
      "\"i\":[1,-2147483648,2147483647,-7,0,null,5,null]," +
      "\"d\":[1.5,NaN,Infinity,-Infinity,1.0E10,null,-0.0,1.0E-5]," +
      "\"b\":[true,false,true,false,null,null,true,null]," +
      "\"d18\":[12.34,-9999999999999999.99,0.01,100.00,null,null,3.14,-1." +
      "00]," +
      "\"d28\":[12345678901234567890123456.78,0.00,-0.50,7.00,null,null,2" +
      ".72,99999999999999999999999999.99]," +
      "\"s\":[\"q\\\"b\\\\s\\nn\\u0001c\\u001f é日本\",\"\",\"null\",\"tab\\" +
      "u0009here\",\"plain\",null,null,\"x\"]," +
      "\"t\":[\"" +
      t(1704844800123456L) +
      "\",\"" +
      t(0L) +
      "\",\"" +
      t(-1L) +
      "\",\"" +
      t(1L) +
      "\",null,null,\"" +
      t(1500000000000000L) +
      "\",null]}"),
    "wire.table" ->
      ("+----------------------+-------------+-----------+-------+--------" +
      "--------------+-------------------------------+----------------+--" +
      "--------------------------+\n" +
      "| l                    | i           | d         | b     | d18    " +
      "              | d28                           | s              | t" +
      "                          |\n" +
      "+----------------------+-------------+-----------+-------+--------" +
      "--------------+-------------------------------+----------------+--" +
      "--------------------------+\n" +
      "| 1                    | 1           | 1.5       | true  | 12.34  " +
      "              | 12345678901234567890123456.78 | q\"b\\s\n" +
      "n\u0001c\u001f é日本 | " +
      t(1704844800123456L) +
      " |\n" +
      "| -9223372036854775808 | -2147483648 | NaN       | false | -999999" +
      "9999999999.99 | 0.00                          |                | " +
      t(0L) +
      "      |\n" +
      "| 9223372036854775807  | 2147483647  | Infinity  | true  | 0.01   " +
      "              | -0.50                         | null           | " +
      t(-1L) +
      " |\n" +
      "| 0                    | -7          | -Infinity | false | 100.00 " +
      "              | 7.00                          | tab\there       | " +
      t(1L) +
      " |\n" +
      "| -3                   | 0           | 1.0E10    | null  | null   " +
      "              | null                          | plain          | n" +
      "ull                       |\n" +
      "| null                 | null        | null      | null  | null   " +
      "              | null                          | null           | n" +
      "ull                       |\n" +
      "| 42                   | 5           | -0.0      | true  | 3.14   " +
      "              | 2.72                          | null           | " +
      t(1500000000000000L) +
      "      |\n" +
      "| 7                    | null        | 1.0E-5    | null  | -1.00  " +
      "              | 99999999999999999999999999.99 | x              | n" +
      "ull                       |\n" +
      "+----------------------+-------------+-----------+-------+--------" +
      "--------------+-------------------------------+----------------+--" +
      "--------------------------+"),
    "wire.json.cut2" ->
      ("{\"l\":[1,-9223372036854775808]," +
      "\"i\":[1,-2147483648]," +
      "\"d\":[1.5,NaN]," +
      "\"b\":[true,false]," +
      "\"d18\":[12.34,-9999999999999999.99]," +
      "\"d28\":[12345678901234567890123456.78,0.00]," +
      "\"s\":[\"q\\\"b\\\\s\\nn\\u0001c\\u001f é日本\",\"\"]," +
      "\"t\":[\"" +
      t(1704844800123456L) +
      "\",\"" +
      t(0L) +
      "\"]," +
      "\"__truncated__\":2}"),
    "wire.table.cut2" ->
      ("+----------------------+-------------+-----+-------+--------------" +
      "--------+-------------------------------+----------------+--------" +
      "--------------------+\n" +
      "| l                    | i           | d   | b     | d18          " +
      "        | d28                           | s              | t      " +
      "                    |\n" +
      "+----------------------+-------------+-----+-------+--------------" +
      "--------+-------------------------------+----------------+--------" +
      "--------------------+\n" +
      "| 1                    | 1           | 1.5 | true  | 12.34        " +
      "        | 12345678901234567890123456.78 | q\"b\\s\n" +
      "n\u0001c\u001f é日本 | " +
      t(1704844800123456L) +
      " |\n" +
      "| -9223372036854775808 | -2147483648 | NaN | false | -999999999999" +
      "9999.99 | 0.00                          |                | " +
      t(0L) +
      "      |\n" +
      "+----------------------+-------------+-----+-------+--------------" +
      "--------+-------------------------------+----------------+--------" +
      "--------------------+\n" +
      "[truncated to 2 rows]"),
    "wire.empty.json" ->
      ("{\"l\":[]," +
      "\"i\":[]," +
      "\"d\":[]," +
      "\"b\":[]," +
      "\"d18\":[]," +
      "\"d28\":[]," +
      "\"s\":[]," +
      "\"t\":[]}"),
    "wire.empty.table" ->
      ("[empty]"),
    "ts.json" ->
      ("{\"ts\":[\"2022-04-26T09:00:00.000000010+09:00\",\"2022-04-26T09:0" +
      "1:00.123456789+09:00\",\"1970-01-01T08:59:59.999999999+09:00\"]," +
      "\"v\":[1.0,2.5,3.0]}"),
    "ts.table" ->
      ("+-------------------------------------+-----+\n" +
      "| ts                                  | v   |\n" +
      "+-------------------------------------+-----+\n" +
      "| 2022-04-26T09:00:00.000000010+09:00 | 1.0 |\n" +
      "| 2022-04-26T09:01:00.123456789+09:00 | 2.5 |\n" +
      "| 1970-01-01T08:59:59.999999999+09:00 | 3.0 |\n" +
      "+-------------------------------------+-----+"),
    "ts.json.raw" ->
      ("{\"ts\":[1650931200000000010,1650931260123456789,-1]," +
      "\"v\":[1.0,2.5,3.0]}"),
    "odd.json" ->
      ("{\"a\\\"b\":[\"0\",\"1\"]," +
      "\"c\\\\d\":[\"0\",\"1\"]," +
      "\"e\\nf\":[\"0\",\"1\"]," +
      "\"x y\":[\"0\",\"1\"]," +
      "\"日本\":[\"0\",\"1\"]," +
      "\"tab\\u0009c\":[\"0\",\"1\"]}"),
    "odd.table" ->
      ("+-----+-----+-----+-----+----+-------+\n" +
      "| a\"b | c\\d | e\n" +
      "f | x y | 日本 | tab\tc |\n" +
      "+-----+-----+-----+-----+----+-------+\n" +
      "| 0   | 0   | 0   | 0   | 0  | 0     |\n" +
      "| 1   | 1   | 1   | 1   | 1  | 1     |\n" +
      "+-----+-----+-----+-----+----+-------+"),
    "nested.json" ->
      ("{\"id\":[1,2,3]," +
      "\"a\":[\"ArraySeq(0.5, 1.25)\",null,\"ArraySeq()\"]," +
      "\"m\":[\"Map(k -> 1)\",null,\"Map()\"]}"),
    "nested.table" ->
      ("+----+---------------------+-------------+\n" +
      "| id | a                   | m           |\n" +
      "+----+---------------------+-------------+\n" +
      "| 1  | ArraySeq(0.5, 1.25) | Map(k -> 1) |\n" +
      "| 2  | null                | null        |\n" +
      "| 3  | ArraySeq()          | Map()       |\n" +
      "+----+---------------------+-------------+"),
    "multi.json.4" ->
      ("{\"id\":[0,1,2,3]," +
      "\"__truncated__\":4}"),
    "multi.table.4" ->
      ("+----+\n" +
      "| id |\n" +
      "+----+\n" +
      "| 0  |\n" +
      "| 1  |\n" +
      "| 2  |\n" +
      "| 3  |\n" +
      "+----+\n" +
      "[truncated to 4 rows]"),
    "multi.json.5" ->
      ("{\"id\":[0,1,2,3,4]," +
      "\"__truncated__\":5}"),
    "multi.table.5" ->
      ("+----+\n" +
      "| id |\n" +
      "+----+\n" +
      "| 0  |\n" +
      "| 1  |\n" +
      "| 2  |\n" +
      "| 3  |\n" +
      "| 4  |\n" +
      "+----+\n" +
      "[truncated to 5 rows]"),
    "multi.json.11" ->
      ("{\"id\":[0,1,2,3,4,5,6,7,8,9,10]," +
      "\"__truncated__\":11}"),
    "multi.table.11" ->
      ("+----+\n" +
      "| id |\n" +
      "+----+\n" +
      "| 0  |\n" +
      "| 1  |\n" +
      "| 2  |\n" +
      "| 3  |\n" +
      "| 4  |\n" +
      "| 5  |\n" +
      "| 6  |\n" +
      "| 7  |\n" +
      "| 8  |\n" +
      "| 9  |\n" +
      "| 10 |\n" +
      "+----+\n" +
      "[truncated to 11 rows]"),
    "multi.json.12" ->
      ("{\"id\":[0,1,2,3,4,5,6,7,8,9,10,11]}"),
    "multi.table.12" ->
      ("+----+\n" +
      "| id |\n" +
      "+----+\n" +
      "| 0  |\n" +
      "| 1  |\n" +
      "| 2  |\n" +
      "| 3  |\n" +
      "| 4  |\n" +
      "| 5  |\n" +
      "| 6  |\n" +
      "| 7  |\n" +
      "| 8  |\n" +
      "| 9  |\n" +
      "| 10 |\n" +
      "| 11 |\n" +
      "+----+"))

  // SHA-256 of the row encoder's Arrow streams, and the wire frame's
  // schema message (without its timestamp column, which it refused)
  private val WireSha = "9686f1a9e2095fd97f183a6b901b5eb502385b40cc0ba42e39b9f019f6d079a0"
  private val CutSha = "b40315748168f44ad91a3b38bc456e20fbb8dce250f931804566599305b154ff"
  private val EmptySha = "0ea77c54bd785b8b466ce47a00bfe8640c9e2cfc174b514d0e4c7ed688b4c0b2"
  private val TsSha = "e2727d5f690b655c6c9d78f954d036016cf0f74d791afb3e6bd9e76a990e48aa"
  private val OddSha = "35355da85ddb5a7879040b8bc1a71bd602f1744d2494dcdc959296585c79a693"
  private val WireSchema =
    "/////+ABAAAQAAAAAAAKAA4ABgANAAgACgAAAAAABAAQAAAAAAEKAAwAAAAIAAQA" +
    "CgAAAAgAAAAIAAAAAAAAAAcAAABkAQAAHAEAAOAAAACsAAAAbAAAADQAAAAEAAAA" +
    "yv7//xQAAAAUAAAAFAAAAAAABQEQAAAAAAAAAAAAAABk////AQAAAHMAAAD2/v//" +
    "FAAAABQAAAAUAAAAAAAHARgAAAAAAAAAAAAAAMz///8CAAAAHAAAAAMAAABkMjgA" +
    "Kv///xQAAAAUAAAAHAAAAAAABwEgAAAAAAAAAAAAAAAIAAwACAAEAAgAAAACAAAA" +
    "EgAAAAMAAABkMTgAZv///xQAAAAUAAAAGAAAAAAABgEUAAAAAAAAAAAAAAAEAAQA" +
    "BAAAAAEAAABiAAAAlv///xQAAAAUAAAAHAAAAAAAAwEcAAAAAAAAAAAAAAAAAAYA" +
    "CAAGAAYAAAAAAAIAAQAAAGQAAADO////FAAAABQAAAAUAAAAAAACARgAAAAAAAAA" +
    "AAAAALz///8AAAABIAAAAAEAAABpABIAGAAUABMAEgAMAAAACAAEABIAAAAUAAAA" +
    "FAAAABwAAAAAAAIBIAAAAAAAAAAAAAAACAAMAAgABwAIAAAAAAAAAUAAAAABAAAA" +
    "bAAAAAAAAAA="

  test("JSON and table answers are byte-identical to the row encoder's") {
    val answers = Seq(
      "wire.json" -> json(wire), "wire.table" -> table(wire),
      "wire.json.cut2" -> json(wire, maxRows = 2),
      "wire.table.cut2" -> table(wire, maxRows = 2),
      "wire.empty.json" -> json(wire.where("false")),
      "wire.empty.table" -> table(wire.where("false")),
      "ts.json" -> json(tsFrame, Tz9, fmt = true),
      "ts.table" -> table(tsFrame, Tz9, fmt = true),
      "ts.json.raw" -> json(tsFrame, Tz9),
      "odd.json" -> json(odd), "odd.table" -> table(odd),
      "nested.json" -> json(nested), "nested.table" -> table(nested))
    answers.foreach { case (name, got) =>
      assert(got == golden(name), s"$name:\n$got")
    }
  }

  test("truncation across the partitions of a multi-partition frame") {
    // 4 ends partition 0 exactly, 5 cuts partition 1 after one row, 11 cuts
    // the last partition, 12 is every row
    Seq(4, 5, 11, 12).foreach { n =>
      assert(json(multi, maxRows = n) == golden(s"multi.json.$n"))
      assert(table(multi, maxRows = n) == golden(s"multi.table.$n"))
      val (bytes, rows, truncated) = ArrowFraming.toIpcStream(multi, n)
      assert(rows == n && truncated == (n < 12))
      val (names, values) = ArrowFraming.fromIpcStream(bytes)
      assert(names == Seq("id") && values.map(_.head) == (0L until n))
    }
  }

  test("single-partition Arrow streams are byte-identical to the row " +
      "encoder's, and a timestamp column is now framed") {
    val noT = wire.drop("t")
    val streams = Seq(
      ("wire", noT, Output.maxRenderRows, WireSha, 8L, false),
      ("cut", noT, 2, CutSha, 2L, true),
      ("empty", noT.where("false"), Output.maxRenderRows, EmptySha, 0L, false),
      ("ts", Output.formatTs(tsFrame, Tz9, true), Output.maxRenderRows,
        TsSha, 3L, false),
      ("odd", odd, Output.maxRenderRows, OddSha, 2L, false))
    streams.foreach { case (name, df, maxRows, sha, rows, truncated) =>
      val (bytes, n, cut) = ArrowFraming.toIpcStream(df, maxRows)
      assert((n, cut) == ((rows, truncated)), name)
      assert(sha256(bytes) == sha, name)
    }
    val (bytes, _, _) = ArrowFraming.toIpcStream(wire, Output.maxRenderRows)
    val noTBytes = ArrowFraming.toIpcStream(noT, Output.maxRenderRows)._1
    // the schema message: 0xFFFFFFFF, its int32 length, then the flatbuffer
    val schemaLen = 8 + java.nio.ByteBuffer.wrap(noTBytes, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(Base64.getEncoder.encodeToString(noTBytes.take(schemaLen)) ==
      WireSchema)
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val field = reader.getVectorSchemaRoot.getSchema.findField("t")
      assert(field.getType ==
        new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
    } finally { reader.close(); alloc.close() }
    val (names, values) = ArrowFraming.fromIpcStream(bytes)
    assert(names == wire.columns.toSeq)
    // a timestamp decodes to its epoch microseconds
    assert(values.map(_(7)) == Seq(1704844800123456L, 0L, -1L, 1L, null,
      null, 1500000000000000L, null))
    assert(values.map(_.take(7).map(String.valueOf)) ==
      wire.drop("t").collect().toSeq.map(_.toSeq.map(String.valueOf)))
  }

  test("binary columns render as base64 JSON strings, as to_json does") {
    val df = spark.sql(
      "SELECT X'0102FF' AS b, CAST(NULL AS BINARY) AS n UNION ALL " +
        "SELECT X'', X'00'").coalesce(1)
    assert(json(df) == """{"b":["AQL/",""],"n":[null,"AA=="]}""")
    assert(df.selectExpr("to_json(struct(b))").head().getString(0) ==
      """{"b":"AQL/"}""")
  }

  test("GRAFT_MAX_RENDER_ROWS is validated once, below Int.MaxValue") {
    assert(Output.renderRowsCap(None) == 100000)
    assert(Output.renderRowsCap(Some("1")) == 1)
    assert(Output.renderRowsCap(Some((Int.MaxValue - 1).toString)) ==
      Int.MaxValue - 1)
    Seq("0", "-5", Int.MaxValue.toString, "12k", "").foreach { v =>
      val e = intercept[IllegalArgumentException](
        Output.renderRowsCap(Some(v)))
      assert(e.getMessage.contains("GRAFT_MAX_RENDER_ROWS"), e.getMessage)
    }
    // a cap of Int.MaxValue would overflow the per-task cap + 1: refused,
    // never an empty answer
    intercept[IllegalArgumentException](
      ArrowFraming.toIpcStream(multi, Int.MaxValue))
    intercept[IllegalArgumentException](json(multi, maxRows = Int.MaxValue))
    assert(json(multi, maxRows = Int.MaxValue - 1) == golden("multi.json.12"))
  }

  private val Min = 60L * 1000000000L
  private val T0 = 1709251200L * 1000000000L // 2024-03-01T00:00:00Z

  test("a cached read, a fresh read over several days and a warm route " +
      "each encode in one job") {
    val dir = SparkTestBase.tempDir("graft-encode-jobs")
    val points = (0L until 3L * 24 * 60 by 5).map(i =>
      DataPoint(T0 + i * Min, Seq(i.toDouble)))
    for ((name, byDay) <- Seq("m" -> false, "d" -> true)) {
      val st = new WritableStore(spark, dir, name,
        Seq(StructField("v", DoubleType)), partitionByDay = byDay)
      st.pushMulti(points)
      st.persist()
    }
    val e = new Engine(spark, dir)
    def encodeJobs(df: DataFrame): Int = {
      json(df)
      SparkTestBase.countJobs(json(df))._2
    }
    val cached = e.frame("with format_datetime = false select * from m " +
      "where ts in ('2024-03-01 06:00', +36 hours)")
    assert(encodeJobs(cached) == 1)
    val fresh = e.frame("with format_datetime = false, use_cache = false " +
      "select * from d where ts in ('2024-03-01', +3 days)")
    assert(fresh.queryExecution.executedPlan.execute().getNumPartitions >= 3)
    assert(encodeJobs(fresh) == 1)
    val ev = (0L until 3L * 24 * 60).map(i => (T0 + i * Min, i.toDouble))
      .toDF("ts", "value")
    val (rawP, stP) = (dir + "/raw", dir + "/store")
    ev.write.parquet(rawP)
    RollupStore.write(ev, stP, Min)
    val route = RollupStore.route(spark, stP, spark.read.parquet(rawP), T0,
      T0 + 3L * 24 * 60 * Min, 72)
    assert(encodeJobs(route) == 1)
  }

  test(".metrics over three tables is one partition and one Arrow " +
      "record batch") {
    val dir = SparkTestBase.tempDir("graft-encode-metrics")
    for (name <- Seq("a", "b", "c")) {
      val st = new WritableStore(spark, dir, name,
        Seq(StructField("v", DoubleType)))
      st.pushMulti(Seq(DataPoint(T0, Seq(1.0))))
      st.persist()
    }
    val df = new Engine(spark, dir).frame("select * from .metrics")
    assert(df.queryExecution.executedPlan.execute().getNumPartitions == 1)
    val (bytes, rows, _) = ArrowFraming.toIpcStream(df, Output.maxRenderRows)
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    val batches =
      try Iterator.continually(reader.loadNextBatch()).takeWhile(identity)
        .size
      finally { reader.close(); alloc.close() }
    assert(rows == 3 && batches == 1, s"$rows rows in $batches batches")
    assert(ArrowFraming.fromIpcStream(bytes) ==
      ((Seq("metrics"), Seq(Seq("a"), Seq("b"), Seq("c")))))
    assert(json(df) == """{"metrics":["a","b","c"]}""")
  }
}
