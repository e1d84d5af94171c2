package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. The reference builds one `DBContext` at
  * startup and every mode runs on it (`bin/main.rs`, `engine/context.rs`);
  * here every graft main — Bench, Verify, Cli, the servers, the plan and
  * stage tools, the fixtures — and the test base start from [[builder]],
  * so they all plan under the same confs from the first query:
  *
  *   - `local[N]` and N shuffle partitions, N = `SPARK_GRAFT_CPUS` or cores;
  *   - AQE on, session time zone UTC, UI off;
  *   - parquet `timestamp[ns]` read as epoch-nano longs (`nanosAsLong`),
  *     `timestamp[us]` read as `TimestampType` (no NTZ inference), and
  *     min/max/count answered from footers (`aggregatePushdown`);
  *   - [[GraftExtensions]], which registers the native functions and the
  *     [[graft.plans.NanoTsRewrite]] rule for this session and every
  *     `newSession()` derived from it (Connect's per-client sessions).
  *
  * Callers add their own confs on the returned builder (a master, a port,
  * a warehouse dir). Sessions that graft did not build — a library user's,
  * a benchmark's, a Connect host handed to `ConnectServe.start` — still get
  * the read-path confs from [[graft.storage.Tables.configure]].
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
}
