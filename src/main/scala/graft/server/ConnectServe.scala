package graft.server

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connect.service.SparkConnectService
import graft.storage.Tables

/** Spark Connect serving: the cluster-grade remote-query endpoint.
  *
  * The reference serves queries over gRPC Arrow Flight
  * (`arrow_flight_server/mod.rs:28-106`); the Spark-native equivalent with
  * the same wire properties (gRPC transport, Arrow-encoded result batches)
  * is Spark Connect, which ships in the Spark 4 distribution. Starting the
  * service on the engine's context gives any stock Spark Connect client
  * (JVM/Python/Go, `sc://host:port`) remote access to:
  *
  *   - every metrics table of a database dir, registered as global temp
  *     views (`global_temp.<metrics>`) visible to every connect session;
  *   - the engine's native expressions (`format_ns`, `cosine_sim`,
  *     `cosine_sim_i8`) in plain SQL, injected into each connect session
  *     via `spark.sql.extensions=graft.GraftExtensions`.
  *
  * This endpoint serves the SQL-superset surface. The dialect surface
  * (`select … from events where ts in …`) stays on
  * [[graft.server.QueryServer]], whose Arrow IPC framing matches the
  * reference's DoGet payload — README "Divergences" discusses both.
  */
object ConnectServe {

  /** Register the db's tables as global temp views and start the gRPC
    * endpoint on the session's context (port =
    * `spark.connect.grpc.binding.port`, default 15002). */
  def start(spark: SparkSession, dbDir: String): Unit = {
    Tables.configure(spark)
    // connect's isolated per-client sessions derive from the host session
    // via newSession(), which rebuilds SessionState from the host's
    // extensions instance — injecting here registers the native functions
    // for every connect session even when the host was built without
    // spark.sql.extensions (it is idempotent with that config: the
    // registry upserts by function name)
    new graft.GraftExtensions()(
      org.apache.spark.sql.GraftSqlBridge.sessionExtensions(spark))
    Tables.listMetrics(dbDir).foreach { m =>
      Tables.read(spark, dbDir, m).createOrReplaceGlobalTempView(m)
    }
    SparkConnectService.start(spark.sparkContext)
  }

  def stop(): Unit = SparkConnectService.stop(None, None)

  /** `runMain graft.server.ConnectServe <dbDir> [port]` — serve until
    * killed. */
  def main(args: Array[String]): Unit = {
    val db = args.headOption.getOrElse(
      sys.env.getOrElse("GRAFT_DB", "/root/testdata/sf0.001"))
    val port = args.lift(1).getOrElse("15002")
    val spark = graft.GraftSession.builder()
      .appName("graft-connect")
      .config("spark.connect.grpc.binding.port", port)
      .getOrCreate()
    start(spark, db)
    println(s"graft Spark Connect: serving $db on sc://localhost:$port")
    Thread.currentThread().join()
  }
}
