package graft

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.ql.Engine
import graft.server.QueryServer
import graft.storage.{DataPoint, FileTree, WritableStore}

class ServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val dbDir: String = {
    val dir = SparkTestBase.tempDir("graft-srv-db")
    val store = new WritableStore(spark, dir, "m",
      Seq(StructField("v", DoubleType)))
    store.pushMulti((1L to 5L).map(i =>
      DataPoint(1650000000L * 1000000000L + i, Seq(i.toDouble))))
    store.persist()
    dir
  }

  private def roundtrip(port: Int, line: String): String = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val out = new PrintWriter(sock.getOutputStream, true)
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream))
      out.println(line)
      in.readLine()
    } finally sock.close()
  }

  /** A sample route answer's (n_sample, est_sum_cents) per bucket_ts: a
    * keyed map, as the aggregate emits no inter-row order. */
  private def bucketRows(resp: String): Map[Long, (Long, Long)] = {
    def longs(f: String): Seq[Long] =
      (s""""$f":\\[([^\\]]*)\\]""".r.findFirstMatchIn(resp).get
        .group(1)).split(",").map(_.trim.toLong).toSeq
    longs("bucket_ts").lazyZip(longs("n_sample"))
      .lazyZip(longs("est_sum_cents"))
      .map((b, n, s) => b -> ((n, s))).toMap
  }

  test("server answers queries over TCP, raw and JSON-framed") {
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      val raw = roundtrip(port,
        "with format_datetime = false select * from m where ts >= '2022-01-01'")
      assert(raw.startsWith("""{"ok":true,"""))
      assert(raw.contains(""""v":[1.0,2.0,3.0,4.0,5.0]"""))
      val framed = roundtrip(port,
        """{"query": "select * from .metrics"}""")
      assert(framed.contains("\"m\""))
      val err = roundtrip(port, "select * from m")
      assert(err.startsWith("""{"ok":false,"""))
      assert(err.contains("EmptyFilterCondition"))
      val parseErr = roundtrip(port, "not a query")
      assert(parseErr.startsWith("""{"ok":false,"""))
    } finally srv.stop()
  }

  test("budget routing over the wire: a maxPoints frame serves the " +
      "tiered store with grain_ns/source, key predicate pushed, and a " +
      "malformed frame errors without killing the connection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val H = 3600L * 1000000000L
    val Day = 86400L * 1000000000L
    val base = SparkTestBase.tempDir("graft-srv-route")
    val rawP = base + "/raw"
    val stP = base + "/store"
    Seq((1L * H, 10.25, "web"), (2L * H, 3.10, "db"),
      (25L * H, 7.77, "web"), (26L * H, 100.01, "db"),
      (49L * H, 0.02, "web"), (50L * H, 5.55, "db"))
      .toDF("ts", "value", "host").write.parquet(rawP)
    graft.storage.RollupStore.tierOff(spark, rawP, stP, cutoff = Day,
      bucketNanos = H, keyCols = Seq("host"))
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      val resp = roundtrip(port,
        s"""{"maxPoints": 3, "since": 0, "until": ${3 * Day}, """ +
          s""""store": "$stP", "raw": "$rawP"}""")
      assert(resp.startsWith("""{"ok":true,"""), resp)
      assert(resp.contains("\"grain_ns\"") && resp.contains("\"source\""),
        resp)
      assert(resp.contains("stitched"), resp) // tiered: must stitch
      assert(resp.contains("\"web\"") && resp.contains("\"db\""), resp)
      // one series, zoomed: the key predicate prunes before the stitch
      val one = roundtrip(port,
        s"""{"maxPoints": 3, "since": 0, "until": ${3 * Day}, """ +
          s""""store": "$stP", "raw": "$rawP", "where": "host = 'db'"}""")
      assert(one.startsWith("""{"ok":true,"""), one)
      assert(one.contains("\"db\"") && !one.contains("\"web\""), one)
      // a value-column predicate is rejected loudly, connection survives
      val bad = roundtrip(port,
        s"""{"maxPoints": 3, "since": 0, "until": ${3 * Day}, """ +
          s""""store": "$stP", "raw": "$rawP", "where": "sum_c > 5"}""")
      assert(bad.startsWith("""{"ok":false,"""), bad)
      assert(bad.contains("non-key column"), bad)
      val missing = roundtrip(port, """{"maxPoints": 3}""")
      assert(missing.startsWith("""{"ok":false,"""), missing)
      // the dialect surface still answers on the same connection/port
      val still = roundtrip(port,
        "with format_datetime = false select * from m where ts >= '2022-01-01'")
      assert(still.startsWith("""{"ok":true,"""), still)
    } finally srv.stop()
  }

  test("AQP routing over the wire: a sample frame's fine zoom answers " +
      "from the sample store with rate_den and the variance bar riding " +
      "the columns; sample+raw is rejected loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val H = 3600L * 1000000000L
    val base = SparkTestBase.tempDir("graft-srv-aqp")
    val stP = base + "/store"
    val smP = base + "/sample"
    val ev = (0L until 200L).map(i =>
      (i, (i % 4) * H, ((i % 7) + 1).toDouble + 0.25))
      .toDF("event_id", "ts", "value")
    graft.storage.RollupStore.write(ev, stP, H)
    graft.storage.SampleStore.build(ev, smP, idCol = "event_id",
      bits = 1)
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      // 120-point budget over 2h -> minute grain < stored 1h: the
      // sample answers, the error columns arrive over the wire
      val resp = roundtrip(port,
        s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
          s""""store": "$stP", "sample": "$smP"}""")
      assert(resp.startsWith("""{"ok":true,"""), resp)
      assert(resp.contains("\"est_var_cents2\"") &&
        resp.contains("\"rate_den\"") &&
        resp.contains("\"n_sample\""), resp)
      assert(resp.contains("\"sample\""), resp)
      // coarse budget: the exact store answers on the SAME frame shape
      val coarse = roundtrip(port,
        s"""{"maxPoints": 2, "since": 0, "until": ${4 * H}, """ +
          s""""store": "$stP", "sample": "$smP"}""")
      assert(coarse.startsWith("""{"ok":true,"""), coarse)
      assert(coarse.contains("\"store\""), coarse)
      // sample + raw is a contradiction — loud, connection survives
      val bad = roundtrip(port,
        s"""{"maxPoints": 2, "since": 0, "until": ${4 * H}, """ +
          s""""store": "$stP", "sample": "$smP", "raw": "$stP"}""")
      assert(bad.startsWith("""{"ok":false,"""), bad)
      assert(bad.contains("sample"), bad)
      // "pin": true serves the sample rows from their at-rest pin — same
      // answer as the cold frame, across repeated frames
      val resp0 = roundtrip(port,
        s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
          s""""store": "$stP", "sample": "$smP"}""")
      val pinned1 = roundtrip(port,
        s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
          s""""store": "$stP", "sample": "$smP", "pin": true}""")
      val pinned2 = roundtrip(port,
        s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
          s""""store": "$stP", "sample": "$smP", "pin": true}""")
      assert(pinned1.startsWith("""{"ok":true,"""), pinned1)
      assert(bucketRows(pinned1) == bucketRows(resp0),
        s"$pinned1 vs $resp0")
      assert(bucketRows(pinned2) == bucketRows(resp0))
      // a typo'd valueCol fails AT PREPARE, loudly, without pinning
      val held = FileTree.held("pinned sample")
      val typo = roundtrip(port,
        s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
          s""""store": "$stP", "sample": "$smP", "pin": true, """ +
          """"valueCol": "vlaue"}""")
      assert(typo.startsWith("""{"ok":false,"""), typo)
      assert(typo.contains("vlaue"), typo)
      assert(FileTree.held("pinned sample") == held)
      // a pinned frame lists both trees: after an append it serves the
      // grown sample, as an unpinned frame does
      val more = (200L until 400L).map(i =>
        (i, (i % 4) * H, ((i % 7) + 1).toDouble + 0.25))
        .toDF("event_id", "ts", "value")
      graft.storage.SampleStore.append(more, smP, batchKey = "b2",
        idCol = "event_id", bits = 1)
      val grown = roundtrip(port,
        s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
          s""""store": "$stP", "sample": "$smP", "pin": true}""")
      val unpinned = roundtrip(port,
        s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
          s""""store": "$stP", "sample": "$smP"}""")
      assert(grown.startsWith("""{"ok":true,"""), grown)
      assert(bucketRows(grown) == bucketRows(unpinned),
        s"$grown vs $unpinned")
      assert(bucketRows(grown).values.map(_._1).sum >
        bucketRows(resp0).values.map(_._1).sum,
        s"a pinned frame must serve the appended batch: $grown vs $resp0")
    } finally srv.stop()
  }

  test("STRATIFIED sampled serve over the wire: a pinned fine zoom " +
      "returns mixed-rate HT rows in the Arrow-decoded frame; a pinned " +
      "frame after an append serves the grown sample") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.server.ArrowFraming
    val Min = 60L * 1000000000L
    val H = 3600L * 1000000000L
    val base = SparkTestBase.tempDir("graft-srv-aqp-strat")
    val stP = base + "/store"
    val smP = base + "/sample"
    // two strata on disjoint minute ranges: `hot` (50 rows → bits 0,
    // keep-all, rate_den 1) lives in minutes 100-119, `cold` (350 rows
    // → largest b with 350 ≥ 30·2^b is 3, rate_den 8) in minutes 0-99 —
    // so ONE response frame carries buckets at BOTH rates and the
    // mixed-rate contract is visible over the wire, not just in-process
    def mk(lo: Long, hi: Long) = (lo until hi).map { i =>
      val hot = i < 50
      val ts = if (hot) (100 + (i % 20)) * Min else (i % 100) * Min
      (i, ts, if (hot) "hot" else "cold", ((i % 7) + 1).toDouble + 0.25)
    }.toDF("event_id", "ts", "band", "value")
    val ev = mk(0L, 400L)
    graft.storage.RollupStore.write(ev, stP, H)
    graft.storage.SampleStore.buildStratified(ev, smP,
      idCol = "event_id", stratumCol = "band", minRows = 30, maxBits = 8)
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    def frame(extra: String): String =
      s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
        s""""store": "$stP", "sample": "$smP"$extra}"""
    // rows compared as a bucket-keyed map — the aggregate emits no
    // inter-row order, so string equality would flake
    def srvRows(resp: String): Map[Long, (Long, Long, Long)] = {
      def longs(f: String): Seq[Long] =
        (s""""$f":\\[([^\\]]*)\\]""".r.findFirstMatchIn(resp).get
          .group(1)).split(",").map(_.trim.toLong).toSeq
      longs("bucket_ts").lazyZip(longs("n_sample"))
        .lazyZip(longs("est_count")).lazyZip(longs("rate_den"))
        .map((b, n, c, r) => b -> ((n, c, r))).toMap
    }
    try {
      // cold (unpinned) vs pinned: same stratified answer
      val cold = roundtrip(port, frame(""))
      assert(cold.startsWith("""{"ok":true,"""), cold)
      val pinned = roundtrip(port, frame(""", "pin": true"""))
      assert(srvRows(pinned) == srvRows(cold), s"$pinned vs $cold")
      // the Arrow-decoded pinned frame: stock reader, mixed rate_den
      val sock = new Socket("127.0.0.1", port)
      val (names, rows) = try {
        val out = new PrintWriter(sock.getOutputStream, true)
        out.println(frame(""", "pin": true, "format": "arrow""""))
        val (header, bytes) = ArrowFraming.readFrame(sock.getInputStream)
        assert(header.contains("\"ok\":true"), header)
        ArrowFraming.fromIpcStream(bytes)
      } finally sock.close()
      val iRate = names.indexOf("rate_den")
      val iVar = names.indexOf("est_var_cents2")
      val iN = names.indexOf("n_sample")
      val iCount = names.indexOf("est_count")
      val iBucket = names.indexOf("bucket_ts")
      assert(iRate >= 0 && iVar >= 0, names.mkString(","))
      val rates = rows.map(_(iRate).asInstanceOf[Long]).toSet
      assert(rates == Set(1L, 8L),
        s"expected mixed per-bucket rates over the wire, got $rates")
      // keep-all buckets hold no sampling randomness: variance EXACTLY
      // zero; thinned buckets carry a positive bar
      assert(rows.filter(_(iRate) == 1L).forall(_(iVar) == 0L))
      assert(rows.filter(_(iRate) == 8L).forall(
        _(iVar).asInstanceOf[Long] > 0L))
      // brute-force HT twin over the deterministic membership: hot rows
      // all kept (rate 1), cold rows kept iff the first 3 md5 bits are
      // zero (rate 8) — per-minute est_count must match exactly
      def keptCold(lo: Long, hi: Long) = (lo until hi)
        .filter { i =>
          java.lang.Long.parseLong(
            SparkTestBase.md5hex(i.toString).substring(0, 8), 16) <
            (1L << 29)
        }
      val expected = ((0L until 50L).map(i => ((100 + (i % 20)) * Min, 1L))
        ++ keptCold(50L, 400L).map(i => ((i % 100) * Min, 8L)))
        .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      val got = rows.map(r => r(iBucket).asInstanceOf[Long] ->
        r(iCount).asInstanceOf[Long]).toMap
      assert(got == expected, s"$got vs $expected")
      // append under the FROZEN rate map → a plain pinned frame lists
      // both trees and serves the growth, as an unpinned frame does
      graft.storage.SampleStore.appendStratified(mk(400L, 800L), smP,
        batchKey = "b2", idCol = "event_id")
      val grown = roundtrip(port, frame(""", "pin": true"""))
      assert(grown.startsWith("""{"ok":true,"""), grown)
      assert(srvRows(grown) == srvRows(roundtrip(port, frame(""))), grown)
      def nSampleSum(resp: String): Long =
        srvRows(resp).values.map(_._1).sum
      assert(nSampleSum(grown) > nSampleSum(cold),
        s"a pinned frame must serve the appended batch: $grown vs $cold")
      // the appended cold rows keep their FROZEN thinned rate: the
      // grown frame still mixes rate 1 and rate 8 buckets
      assert(srvRows(grown).values.map(_._3).toSet == Set(1L, 8L), grown)
    } finally srv.stop()
  }

  test("pinned sample frames share one at-rest pin: concurrent cold " +
      "frames build it once, a warm frame runs no job, and a tierOff " +
      "under it fails the frame") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.storage.RollupStore
    val H = 3600L * 1000000000L
    val base = SparkTestBase.tempDir("graft-srv-pin")
    val (rawP, stP, smP) = (base + "/raw", base + "/store", base + "/sample")
    val ev = (0L until 200L).map(i =>
      (i, (i % 4) * H, ((i % 7) + 1).toDouble + 0.25))
      .toDF("event_id", "ts", "value")
    ev.write.parquet(rawP)
    RollupStore.write(ev, stP, H)
    graft.storage.SampleStore.build(ev, smP, idCol = "event_id", bits = 1)
    val pinned = s"""{"maxPoints": 120, "since": 0, "until": ${2 * H}, """ +
      s""""store": "$stP", "sample": "$smP", "pin": true}"""
    val held = FileTree.held("pinned sample")
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      val burst = Await.result(Future.sequence(
        (1 to 4).map(_ => Future(roundtrip(port, pinned)))), 120.seconds)
      assert(burst.forall(_.startsWith("""{"ok":true,""")), burst)
      assert(burst.map(bucketRows).distinct.size == 1, burst)
      assert(FileTree.held("pinned sample") == held + 1)
      val req = RollupStore.RouteRequest(Seq(stP), None, 0, 2 * H, 120,
        Some(smP))
      assert(SparkTestBase.countJobs(
        RollupStore.routeRequest(spark, req, pinSample = true))._2 == 0)
      // the store becomes a tier: its post-horizon rows live in raw,
      // which a sample route does not read
      RollupStore.tierOff(spark, rawP, stP, cutoff = H, bucketNanos = H)
      val tiered = roundtrip(port, pinned)
      assert(tiered.startsWith("""{"ok":false,""") &&
        tiered.contains("tier horizon"), tiered)
    } finally srv.stop()
  }

  test("arrow-framed responses decode to the same values") {
    import graft.server.ArrowFraming
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      val sock = new Socket("127.0.0.1", port)
      try {
        val out = new PrintWriter(sock.getOutputStream, true)
        out.println("""{"query": "with format_datetime = false select * """ +
          """from m where ts >= '2022-01-01'", "format": "arrow"}""")
        val (header, bytes) = ArrowFraming.readFrame(sock.getInputStream)
        assert(header.contains("\"ok\":true"), header)
        assert(header.contains("\"rows\":5"), header)
        // the payload is a STANDARD Arrow IPC stream: decode with the stock
        // Arrow reader, no graft code in the loop
        val (names, rows) = ArrowFraming.fromIpcStream(bytes)
        assert(names == Seq("ts", "v"))
        assert(rows.map(_(1)) == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
        assert(rows.map(_(0)) ==
          (1L to 5L).map(1650000000L * 1000000000L + _))
        // an error stays one plain JSON line — no binary follows, and the
        // connection remains usable
        out.println("""{"query": "select * from m", "format": "arrow"}""")
        val (errHeader, errBytes) = ArrowFraming.readFrame(sock.getInputStream)
        assert(errHeader.contains("\"ok\":false"), errHeader)
        assert(errBytes.isEmpty)
        // meta query over the same still-open connection
        out.println("""{"query": "select * from .metrics", "format": "arrow"}""")
        val (h2, b2) = ArrowFraming.readFrame(sock.getInputStream)
        assert(h2.contains("\"ok\":true"), h2)
        val (n2, r2) = ArrowFraming.fromIpcStream(b2)
        assert(n2 == Seq("metrics") && r2.map(_(0)) == Seq("m"))
        // a RAW query line whose TEXT contains the arrow literal must stay
        // on the line protocol — never flip the client into binary mode
        out.println("""select * from m where x = '{"format": "arrow"}'""")
        val (h3, b3) = ArrowFraming.readFrame(sock.getInputStream)
        assert(h3.startsWith("{\"ok\":false"), h3)
        assert(!h3.contains("\"format\":\"arrow\"") && b3.isEmpty, h3)
      } finally sock.close()
    } finally srv.stop()
  }

  test("a raw+store route frame answers the same decimal buckets in " +
      "JSON and in Arrow framing") {
    import graft.server.ArrowFraming
    import spark.implicits._
    val H = 3600L * 1000000000L
    val base = SparkTestBase.tempDir("graft-srv-dec")
    val (rawP, stP) = (base + "/raw", base + "/store")
    val raw = Seq((1L * H, 10.25), (2L * H, 3.10), (25L * H, 7.77),
      (26L * H, 100.01), (49L * H, 0.02)).toDF("ts", "value")
    raw.write.parquet(rawP)
    graft.storage.RollupStore.write(raw, stP, H)
    val route = s"""{"maxPoints": 3, "since": 0, "until": ${72 * H}, """ +
      s""""store": "$stP", "raw": "$rawP""""
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature
        .USE_BIG_DECIMAL_FOR_FLOATS)
    val stats = Seq("bucket_ts", "n", "sum_c", "min_c", "max_c")
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      val json = mapper.readTree(roundtrip(port, route + "}"))
      assert(json.path("ok").asBoolean(false), json)
      val cols = json.get("columns")
      // one row per bucket, in bucket order
      val fromJson = (0 until cols.get("n").size()).map(i => stats.map(c =>
        BigDecimal(cols.get(c).get(i).decimalValue()))).sortBy(_.head)
      val sock = new Socket("127.0.0.1", port)
      try {
        new PrintWriter(sock.getOutputStream, true)
          .println(route + """, "format": "arrow"}""")
        val (header, bytes) = ArrowFraming.readFrame(sock.getInputStream)
        assert(header.contains("\"ok\":true"), header)
        val (names, rows) = ArrowFraming.fromIpcStream(bytes)
        val fromArrow = rows.map(r => stats.map(c => r(names.indexOf(c))
          match {
            case d: java.math.BigDecimal => BigDecimal(d)
            case n: java.lang.Long => BigDecimal(n.longValue)
            case other => fail(s"$c: unexpected ${other.getClass}")
          })).sortBy(_.head)
        assert(fromArrow == fromJson)
        assert(fromJson.map(_(1)).sum == 5 &&
          fromJson.map(_(2)).sum == BigDecimal("121.15"), fromJson)
      } finally sock.close()
    } finally srv.stop()
  }

  test("a frame over the cap is a bad request and the connection " +
      "stays usable") {
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      val sock = new Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        val in = new BufferedReader(new InputStreamReader(sock.getInputStream))
        // a frame at the cap is read whole: a dialect error, not a bad request
        out.write(("x" * QueryServer.MaxFrameBytes + "\n").getBytes("UTF-8"))
        val big = "x" * (QueryServer.MaxFrameBytes + 1)
        out.write((big + "\n").getBytes("UTF-8"))
        val good = "with format_datetime = false select * from m " +
          "where ts >= '2022-01-01'"
        out.write((good + "\r\n").getBytes("UTF-8"))
        // a db outside the root is an error answer too
        out.write(("{\"query\": \"with db = ../" + new java.io.File(dbDir)
          .getName + ", " + good.drop(5) + "\"}\n" + good + "\n")
          .getBytes("UTF-8"))
        out.flush()
        val atCap = in.readLine()
        assert(atCap.startsWith("""{"ok":false,"error":"parse error"""), atCap)
        assert(in.readLine() == """{"ok":false,"error":"bad request: """ +
          s"""frame exceeds ${QueryServer.MaxFrameBytes} bytes"}""")
        for (i <- 0 to 2) {
          val line = in.readLine()
          assert(line.startsWith(
            if (i == 1) """{"ok":false,""" else """{"ok":true,"""), line)
          if (i != 1)
            assert(line.contains(""""v":[1.0,2.0,3.0,4.0,5.0]"""), line)
        }
      } finally sock.close()
    } finally srv.stop()
  }

  test("arrow stream flags truncation at the render cap") {
    import graft.server.ArrowFraming
    val df = spark.range(10).toDF("n")
    val (bytes, rows, truncated) = ArrowFraming.toIpcStream(df, maxRows = 3)
    assert(rows == 3 && truncated)
    assert(ArrowFraming.fromIpcStream(bytes)._2.length == 3)
    val (_, allRows, notTrunc) = ArrowFraming.toIpcStream(df, maxRows = 100)
    assert(allRows == 10 && !notTrunc)
  }

  test("concurrent clients get independent answers") {
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(
        Future.sequence((1 to 4).map(_ => Future(roundtrip(port,
          "with format_datetime = false select * from m where ts <=|2 '2023-01-01'")))),
        60.seconds)
      assert(results.forall(_.startsWith("""{"ok":true""")))
    } finally srv.stop()
  }

  test("a route frame whose budget no grain fits answers the error, not " +
      "an overrun") {
    import spark.implicits._
    val H = 3600L * 1000000000L
    val base = SparkTestBase.tempDir("graft-srv-nofit")
    val (rawP, stP) = (base + "/raw", base + "/store")
    val ev = Seq((-2L * H, 1.25), (0L, 2.5), (H + 7L, 3.75))
      .toDF("ts", "value")
    ev.write.parquet(rawP)
    graft.storage.RollupStore.write(ev, stP, H)
    val srv = new QueryServer(new Engine(spark, dbDir))
    val port = srv.start()
    try {
      val resp = roundtrip(port,
        s"""{"maxPoints": 1, "since": ${-H}, "until": $H, """ +
          s""""store": "$stP", "raw": "$rawP"}""")
      assert(resp.startsWith("""{"ok":false,"""), resp)
      assert(resp.contains("no grain fits"), resp)
    } finally srv.stop()
  }
}
