package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, InputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.ZoneOffset
import java.util.concurrent.Executors
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.ql.{Engine, Output}
import graft.ql.Output.jsonStr
import QueryServer.{Query, Request, Route}

/** Remote-query server — the capability analog of the reference's Arrow
  * Flight `DoGet` endpoint (`query/executor/interface/arrow_flight_server/`):
  * a client ships query text, the server executes it and streams back a
  * columnar batch. Transport is line-framed over TCP (Flight's gRPC layer
  * is not available in this offline build — see README divergence note);
  * the PAYLOAD can be genuine Arrow.
  *
  * Requests, one per line (a trailing `\r` is dropped):
  *  - a line that does not start with `{` is a raw dialect query;
  *  - `{"query": "..."}` is a dialect query frame;
  *  - a frame with `maxPoints` is a route frame: the dashboard
  *    point-budget contract of [[graft.storage.RollupStore]]'s routers,
  *    served over the same wire (fields at [[routeFrame]]);
  *  - `"format": "arrow"` in a frame selects Arrow framing; a raw line
  *    never does;
  *  - a line over [[QueryServer.MaxFrameBytes]] (1 MiB), or a `{` line
  *    that is not one of these frames, is answered
  *    `{"ok":false,"error":"bad request: ..."}` and the connection stays
  *    open.
  *
  * Responses:
  *  - JSON: one line, `{"ok":true,"columns":{col:[...]}}`;
  *  - Arrow: one header line `{"ok":true,"format":"arrow","rows":N,"bytes":M}`
  *    (with `"truncated":true` at the render cap) followed by exactly M raw
  *    bytes: a standard Arrow IPC stream (schema + record batches) that any
  *    Arrow reader decodes — the same record-batch payload the reference's
  *    `do_get_handler.rs:16-53` ships, minus the gRPC wrapper;
  *  - a failure: one line, `{"ok":false,"error":"..."}`.
  *
  * Concurrency: thread-per-connection; Spark schedules concurrent jobs from
  * multiple threads fairly within the one session (same model as a Spark
  * Thrift server). The server holds no pins: a pinned route frame's sample
  * rows live in the session's one at-rest LRU
  * ([[graft.storage.FileTree.atRest]]), which builds each once, shares it
  * between concurrent frames and unpersists it when it is replaced or
  * evicted.
  */
final class QueryServer(engine: Engine, port: Int = 0) {
  @volatile private var server: Option[ServerSocket] = None
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-server-conn"); t.setDaemon(true); t
  })
  // read at construction: a malformed GRAFT_MAX_RENDER_ROWS stops the
  // server from starting instead of failing every request
  private val maxRows = Output.maxRenderRows

  def start(): Int = {
    val ss = new ServerSocket(port)
    server = Some(ss)
    val acceptor = new Thread(() => {
      try {
        while (!ss.isClosed) {
          val sock = ss.accept()
          pool.submit(new Runnable { def run(): Unit = handle(sock) })
        }
      } catch { case _: java.net.SocketException => /* closed */ }
    }, "graft-server-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    ss.getLocalPort
  }

  def stop(): Unit = {
    server.foreach(_.close())
    pool.shutdown()
  }

  private def handle(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    // raw stream, not a Writer: arrow responses interleave a UTF-8 header
    // line with binary IPC bytes on the same connection
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      var frame = QueryServer.readFrame(in)
      while (frame.isDefined) {
        val (header, payload) = respond(frame.get.flatMap(QueryServer.parse))
        out.write(header.getBytes(UTF_8)); out.write('\n')
        out.write(payload); out.flush()
        frame = QueryServer.readFrame(in)
      }
    } catch {
      case _: java.io.IOException => // client went away
    } finally sock.close()
  }

  /** The answer to one request, or to a frame the parser rejected
    * (`Left`): a header line and the Arrow IPC stream it announces, empty
    * for a JSON answer or an error. A route or a dialect query is turned
    * into a frame, `ts` rendered as the query asks, then encoded once. */
  private def respond(req: Either[String, Request])
      : (String, Array[Byte]) = {
    def failed(msg: String) =
      (s"""{"ok":false,"error":${jsonStr(msg)}}""", Array.emptyByteArray)
    req match {
      case Left(bad) => failed("bad request: " + bad)
      case Right(r) =>
        try {
          val df = r match {
            case Route(node, _) => routeFrame(node)
            case Query(text, _) =>
              val iq = engine.interpret(text)
              val (tz, formatDatetime) = Output.tsRendering(iq)
              Output.formatTs(engine.frame(iq), tz, formatDatetime)
          }
          if (r.arrow) {
            val (bytes, rows, truncated) =
              ArrowFraming.toIpcStream(df, maxRows)
            val truncField = if (truncated) ""","truncated":true""" else ""
            (s"""{"ok":true,"format":"arrow","rows":$rows$truncField,"bytes":${bytes.length}}""",
              bytes)
          } else {
            val cols = Output.columnJson(df, ZoneOffset.UTC, false, maxRows)
            (s"""{"ok":true,"columns":$cols}""", Array.emptyByteArray)
          }
        } catch { case e: Exception => failed(String.valueOf(e.getMessage)) }
    }
  }

  /** The frame a route request answers with:
    * `{"maxPoints":n, "since":ns, "until":ns,
    *   "stores":["/fine","/coarse",...] | "store":"/p",
    *   "raw":"/rawParquet" | "sample":"/sampleStore" (optional),
    *   "where":"host = 'web'" (optional key predicate, pushed down),
    *   "distinctCol":"uid", "histBoundsCents":[...], "tsCol", "valueCol"
    *   (optional), "pin": true (optional)}`.
    * The fields become one [[graft.storage.RollupStore.RouteRequest]];
    * [[graft.storage.RollupStore.routeRequest]] — the dispatch the
    * `graft_route` SQL function shares — picks the tier list: raw + 1
    * store, raw + a cascade, two-plus stores without raw (the raw-less
    * mirror lifecycle), or a sample + 1 store (fine zooms answer from the
    * deterministic sample with `rate_den` and the `est_var_cents2` error
    * bar riding the columns). A sample frame may add `"pin": true` to
    * serve the replay-deduped sample rows from their persisted at-rest
    * snapshot ([[graft.storage.SampleStore.open]]): both trees are listed
    * on every frame, so a pinned frame sees appends and compactions, and
    * a `tierOff` of its store fails it as it fails an unpinned one. The
    * response carries `grain_ns` and `source` like the in-process
    * routers. */
  private def routeFrame(node: JsonNode): org.apache.spark.sql.DataFrame = {
    def opt(f: String): Option[JsonNode] =
      Option(node.get(f)).filterNot(_.isNull)
    def optStr(f: String): Option[String] = opt(f).map(_.asText())
    def reqLong(f: String): Long = opt(f).map(_.asLong()).getOrElse(
      throw new IllegalArgumentException(s"route request needs '$f'"))
    def arr[T](f: String)(get: JsonNode => T): Option[Seq[T]] =
      opt(f).map(a => (0 until a.size()).map(i => get(a.get(i))))
    val req = graft.storage.RollupStore.RouteRequest(
      arr("stores")(_.asText()).getOrElse(optStr("store").toSeq),
      optStr("raw"), reqLong("since"), reqLong("until"),
      reqLong("maxPoints").toInt, optStr("sample"),
      optStr("valueCol").getOrElse("value"), optStr("tsCol").getOrElse("ts"),
      optStr("distinctCol"), arr("histBoundsCents")(_.asLong()).getOrElse(Nil),
      optStr("where").map(org.apache.spark.sql.functions.expr))
    graft.storage.RollupStore.routeRequest(engine.spark, req,
      pinSample = opt("pin").exists(_.asBoolean(false)))
  }
}

object QueryServer {
  /** One parser shared by every connection: an `ObjectMapper` is
    * thread-safe once configured, and building one per request costs
    * more than parsing the frame. */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The largest request frame, in bytes without its newline. A fixed cap,
    * so one client cannot grow the driver heap without bound. */
  val MaxFrameBytes: Int = 1 << 20

  /** A parsed request frame; `arrow` selects Arrow IPC framing. */
  sealed trait Request { def arrow: Boolean }
  final case class Query(text: String, arrow: Boolean) extends Request
  final case class Route(frame: JsonNode, arrow: Boolean) extends Request

  /** One frame → one request, with one Jackson parse of a `{` line; a
    * `Left` is the reason the frame is a bad request. */
  private[server] def parse(line: String): Either[String, Request] = {
    val t = line.trim
    if (!t.startsWith("{")) Right(Query(t, arrow = false))
    else
      try {
        val node = Json.readTree(t)
        val arrow = Option(node.get("format")).exists(_.asText() == "arrow")
        val query = node.get("query")
        if (node.has("maxPoints")) Right(Route(node, arrow))
        else if (query != null && query.isTextual)
          Right(Query(query.asText(), arrow))
        else Left("a frame needs a string 'query' or a 'maxPoints' route")
      } catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          Left(e.getOriginalMessage)
      }
  }

  /** The next frame: its bytes up to the newline, less a trailing `\r`,
    * as UTF-8; `None` at end of stream. A frame over [[MaxFrameBytes]] is
    * read through to its newline and comes back as a `Left`, so the
    * connection stays in step. */
  private def readFrame(in: InputStream)
      : Option[Either[String, String]] = {
    val buf = new ByteArrayOutputStream()
    var over = false
    var b = in.read()
    if (b == -1) return None
    while (b != -1 && b != '\n') {
      if (buf.size < MaxFrameBytes) buf.write(b) else over = true
      b = in.read()
    }
    val bytes = buf.toByteArray
    val len = if (bytes.nonEmpty && bytes.last == '\r') bytes.length - 1
      else bytes.length
    Some(
      if (over) Left(s"frame exceeds $MaxFrameBytes bytes")
      else Right(new String(bytes, 0, len, UTF_8)))
  }

  /** `graft.server.QueryServer --db <dir> [--port n]` */
  def main(args: Array[String]): Unit = {
    var dbDir = "."
    var port  = 51033 // reference Flight default port
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--db"   => dbDir = args(i + 1); i += 2
        case "--port" => port = args(i + 1).toInt; i += 2
        case _        => i += 1
      }
    }
    val spark: SparkSession = graft.GraftSession.builder()
      .appName("graft-server").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val actual = new QueryServer(new Engine(spark, dbDir), port).start()
    System.err.println(s"[graft-server] listening on $actual (db=$dbDir)")
    Thread.currentThread.join()
  }
}

/** Client: ship a query to a running server, print the response
  * (reference client mode, `arrow_flight_client/mod.rs`). `--arrow`
  * requests Arrow IPC framing and prints the decoded batch as TSV. */
object QueryClient {
  def main(args: Array[String]): Unit = {
    val (hostPort, query, arrow) = args match {
      case Array(hp, q)            => (hp, q, false)
      case Array(hp, q, "--arrow") => (hp, q, true)
      case _ =>
        System.err.println("usage: QueryClient host:port \"query\" [--arrow]")
        sys.exit(2)
    }
    val Array(host, p) = hostPort.split(":")
    val sock = new Socket(host, p.toInt)
    try {
      val format = if (arrow) """, "format": "arrow"""" else ""
      sock.getOutputStream.write(
        s"""{"query": ${jsonStr(query)}$format}\n""".getBytes(UTF_8))
      val (header, bytes) =
        ArrowFraming.readFrame(new BufferedInputStream(sock.getInputStream))
      if (bytes.isEmpty) println(header)
      else {
        val (names, rows) = ArrowFraming.fromIpcStream(bytes)
        println(names.mkString("\t"))
        rows.foreach(r => println(r.map(String.valueOf).mkString("\t")))
      }
    } finally sock.close()
  }
}
