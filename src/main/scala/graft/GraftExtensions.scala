package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library-grade session integration: registers the engine's native
  * expressions (`format_ns`, `cosine_sim`, `cosine_sim_i8`) with every
  * session built against it, so plain `spark.sql` — not just
  * [[graft.ql.Engine.sql]] — can use them. Activate with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`); [[graft.ql.Engine.sql]]
  * registers the SAME descriptors as temp functions for sessions created
  * without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.className, null, f.name, f.usage, ""),
        f.builder))
    }
    // the serving routers as a TABLE-VALUED function: any SQL surface —
    // plain spark.sql, a stock Spark Connect client over gRPC — can ask
    // `SELECT * FROM graft_route('/store', '/raw', since, until, budget)`
    // and get the budget-routed, tier-stitched answer with grain_ns and
    // source riding the columns
    ext.injectTableFunction((new FunctionIdentifier(GraftExtensions.RouteTvf),
      GraftExtensions.routeTvfInfo, GraftExtensions.routeTvfBuilder))
    // the AQP sample tier as a TABLE-VALUED function: any SQL surface can
    // ask `SELECT * FROM graft_aqp('/sample', 'event_type', 'value')` and
    // get exact-integer Horvitz-Thompson estimates from the at-rest
    // sample instead of scanning raw
    ext.injectTableFunction((new FunctionIdentifier(GraftExtensions.AqpTvf),
      GraftExtensions.aqpTvfInfo, GraftExtensions.aqpTvfBuilder))
    // literal predicates over normalized epoch-nano ts fold back to native
    // timestamp comparisons the parquet scan can prune with; sessions built
    // without the extension get the same rule via Tables.configure
    ext.injectOptimizerRule(_ => graft.plans.NanoTsRewrite)
  }
}

object GraftExtensions {

  /** One native function: single source of truth for name, arity,
    * docstring, and construction — consumed by both the extensions
    * injection and [[graft.ql.Engine.sql]]'s temp registration, so the
    * two surfaces can never drift. */
  final case class NativeFn(name: String, arity: Int, usage: String,
      className: String, build: Seq[Expression] => Expression) {
    def builder: Seq[Expression] => Expression = exprs => {
      require(exprs.length == arity,
        s"$name requires exactly $arity argument" +
          s"${if (arity == 1) "" else "s"}, got ${exprs.length}")
      build(exprs)
    }
  }

  /** A table function's positional arguments, each a literal. */
  private final class LiteralArgs(fn: String, exprs: Seq[Expression]) {
    private def const(i: Int, what: String): Any = {
      require(exprs(i).foldable, s"$fn: $what must be a literal")
      exprs(i).eval()
    }
    def str(i: Int, what: String): String =
      Option(const(i, what)).map(String.valueOf).getOrElse("")
    def num(i: Int, what: String): Long = const(i, what) match {
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be numeric, got $other")
    }
    /** A comma-separated list, blanks dropped. */
    def list(i: Int, what: String): Seq[String] =
      str(i, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  val RouteTvf = "graft_route"

  /** `graft_route`'s usage: its positional arguments become one
    * [[graft.storage.RollupStore.RouteRequest]], served by the one budget
    * router over that request's tier list. */
  val routeTvfInfo = new ExpressionInfo(GraftExtensions.getClass.getName,
    null, RouteTvf,
    "graft_route(stores, raw, since, until, maxPoints[, where]) - serve " +
      "[since, until) epoch-nanos under a point budget from a rollup-" +
      "store layout: `stores` is one path or a comma-separated fine-to-" +
      "coarse cascade, `raw` the raw parquet path ('' for the raw-less " +
      "mirror lifecycle, which needs two-plus stores), `where` an " +
      "optional key predicate pushed into every tier scan. Emits the " +
      "routed buckets with grain_ns and source columns.", "")

  /** The TVF builder: positional literal args → a
    * [[graft.storage.RollupStore.RouteRequest]] → the routed DataFrame's
    * logical plan (the analyzer then resolves it like an expanded view).
    * [[graft.storage.RollupStore.routeRequest]] picks the router, the same
    * dispatch the TCP serving frame uses. Sketch-bearing stores need
    * distinctCol / histBoundsCents and stay on the programmatic/TCP
    * surfaces. */
  val routeTvfBuilder: Seq[Expression] =>
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = exprs => {
    require(exprs.length == 5 || exprs.length == 6,
      s"$RouteTvf(stores, raw, since, until, maxPoints[, where]) — got " +
        s"${exprs.length} arguments")
    val a = new LiteralArgs(RouteTvf, exprs)
    val req = graft.storage.RollupStore.RouteRequest(a.list(0, "stores"),
      Some(a.str(1, "raw").trim).filter(_.nonEmpty), a.num(2, "since"),
      a.num(3, "until"), a.num(4, "maxPoints").toInt,
      keyFilter = if (exprs.length == 6)
        Some(org.apache.spark.sql.functions.expr(a.str(5, "where"))) else None)
    graft.storage.RollupStore.routeRequest(
      org.apache.spark.sql.SparkSession.active, req).queryExecution.logical
  }

  /** Post-hoc TVF registration for sessions built without the extension
    * (the registry upserts, so double registration is harmless). */
  def registerRouteTvf(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.GraftSqlBridge.registerTableFunction(spark,
      RouteTvf, routeTvfInfo, routeTvfBuilder)

  val AqpTvf = "graft_aqp"

  val aqpTvfInfo = new ExpressionInfo(GraftExtensions.getClass.getName,
    null, AqpTvf,
    "graft_aqp(store, groupCols, valueCol[, since, until]) - grouped " +
      "Horvitz-Thompson estimates (n_sample, est_count, est_sum_cents) " +
      "from an at-rest SampleStore: `groupCols` is a comma-separated " +
      "column list, `since`/`until` optional [since, until) epoch-nanos " +
      "that prune whole day directories off the sample scan.", "")

  /** The AQP TVF builder: literal args → the estimate DataFrame's
    * logical plan (expanded like a view, exactly [[routeTvfBuilder]]'s
    * contract). Opens cold per query — a SQL surface has no handle
    * lifecycle; serving layers that estimate many should hold a pinned
    * [[graft.storage.SampleStore.open]] instead. */
  val aqpTvfBuilder: Seq[Expression] =>
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = exprs => {
    require(exprs.length == 3 || exprs.length == 5,
      s"$AqpTvf(store, groupCols, valueCol[, since, until]) — got " +
        s"${exprs.length} arguments")
    val a = new LiteralArgs(AqpTvf, exprs)
    val store = a.str(0, "store").trim
    require(store.nonEmpty, s"$AqpTvf: needs a store path")
    val groupCols = a.list(1, "groupCols")
    val valueCol = a.str(2, "valueCol").trim
    val (since, until) =
      if (exprs.length == 5)
        (Some(a.num(3, "since")), Some(a.num(4, "until")))
      else (None, None)
    val spark = org.apache.spark.sql.SparkSession.active
    graft.storage.SampleStore.open(spark, store)
      .estimate(groupCols, valueCol, since = since, until = until)
      .queryExecution.logical
  }

  /** Post-hoc registration twin of [[registerRouteTvf]]. */
  def registerAqpTvf(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.GraftSqlBridge.registerTableFunction(spark,
      AqpTvf, aqpTvfInfo, aqpTvfBuilder)

  val functions: Seq[NativeFn] = Seq(
    NativeFn("format_ns", 1,
      "format_ns(ts_nanos) - RFC3339 rendering with nanosecond precision (UTC)",
      classOf[graft.functions.FormatNanos].getName,
      exprs => graft.functions.FormatNanos(exprs.head, "UTC")),
    NativeFn("cosine_sim", 2,
      "cosine_sim(a, b) - cosine similarity of two array<float> embeddings",
      classOf[graft.functions.CosineSim].getName,
      exprs => graft.functions.CosineSim(exprs.head, exprs(1))),
    NativeFn("cosine_sim_i8", 2,
      "cosine_sim_i8(a, b) - cosine similarity of two int8-quantized " +
        "(array<tinyint>) embeddings, integer arithmetic",
      classOf[graft.functions.CosineSimInt8].getName,
      exprs => graft.functions.CosineSimInt8(exprs.head, exprs(1))))
}
