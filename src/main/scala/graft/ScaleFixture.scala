package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: materialize a COMPLETE scaled sf-dir (all ten tables, same
  * names/layout contract as `/root/testdata/sf*`, read from
  * `SPARK_GRAFT_SF_DIR`) so `graft.PlanSnap <out> --time` can run the
  * WHOLE headline suite at a larger scale unchanged. The fixture measures
  * the COMPOSITION (the round-13 verdict's top ask): memory pressure, AQE
  * threshold flips, broadcast spills, and store-build costs only appear
  * when the full 35-row suite runs against the larger inputs.
  *
  * Scaling design (the whole star schema; every copy is a deterministic
  * transform of the source so the fixture needs no RNG and regenerates
  * byte-identically):
  *
  *  - `events` ×K (default 10): copies shifted by 40 days (disjoint time
  *    ranges — the source spans 30), disjoint user/event id spaces. The
  *    output is written as K ts-range-partitioned, ts-sorted files: the
  *    engine's sorted-block storage invariant, which is what a 10×-bigger
  *    store would actually look like (NOT one giant unsorted file).
  *  - `documents` ×M (default 4): per-copy case-preserving caesar cipher
  *    on the text — token-length/shingle statistics, case profile, and the
  *    true-dup density are preserved inside each copy, but vocabularies
  *    across copies are disjoint, so the M× corpus carries M× the near-dup
  *    structure instead of k² cross-copy duplicates. Copy 0 is the source
  *    verbatim. `n_chars` stays consistent (translation preserves length).
  *  - `embeddings` ×M: id-shifted copies, vectors/labels untouched — the
  *    query sets (low vec_ids) stay fixed while the corpus grows, which is
  *    the scan-side shape ANN scaling claims are about.
  *  - `orders`/`lineitem`/`part` ×K: order- and part-key-shifted copies
  *    (dates UNshifted so fixed-literal TPC-H predicates keep their
  *    selectivity and grouped cardinalities — the aggregation work grows
  *    K×, which is the claim under test). `part` scales WITH the facts,
  *    as TPC-H itself scales it, with each lineitem copy referencing its
  *    own disjoint part-key range: the part co-purchase graph
  *    (`graph_triangles`) then grows K× in BOTH nodes and edges at
  *    constant density — the shape a K×-bigger catalog actually has. A
  *    first fixture cut kept `part` fixed and rotated keys per copy; that
  *    densified a fixed 20k-node graph 10×, and exact triangle counting
  *    is Θ(m^1.5) in a densifying graph — a ~30× wall measuring the
  *    FIXTURE's unrealism, not the operator (real catalogs grow with the
  *    purchase volume; density stays ~constant).
  *  - remaining dimensions (`customer supplier nation region`): copied
  *    as-is. The headline joins broadcast them; at 100 TB dims stay
  *    orders of magnitude below facts, so the composition keeps them
  *    fixed.
  *
  * Output defaults to /tmp/graft_sf10x; ~150 MB at the default factors.
  * Not part of the driver contract.
  */
object ScaleFixture {

  /** Build the scaled sf-dir. Deterministic in (src, evK, docK).
    *
    * The source timestamps are parquet `TIMESTAMP(MICROS,
    * isAdjustedToUTC=false)`. Read as `TimestampType` (what
    * `inferTimestampNTZ=false` gives, and a [[GraftSession]] sets it) they
    * would be written back `isAdjustedToUTC=true`, which DuckDB reads as
    * `TIMESTAMPTZ` — so the build reads them as `TIMESTAMP_NTZ` and writes
    * µs, whatever the caller's session has set, and restores the caller's
    * values afterwards. */
  def build(spark: SparkSession, src: String, out: String,
      evK: Int, docK: Int): Unit = {
    val confs = Seq(
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try buildTables(spark, src, out, evK, docK)
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def buildTables(spark: SparkSession, src: String, out: String,
      evK: Int, docK: Int): Unit = {
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def copies(k: Int)(f: Int => DataFrame): DataFrame =
      (0 until k).map(f).reduce(_.unionByName(_))
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      println(s"[fixture] $name: $n rows")
    }

    // ---- events ×evK: disjoint 40-day time shifts + disjoint id spaces
    val events = read("events")
    write("events", copies(evK) { i =>
      events
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 40} DAYS"))
        .withColumn("user_id", col("user_id") + lit(i * 1000000L))
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))
    }.repartitionByRange(evK, col("ts")).sortWithinPartitions("ts"))

    // ---- documents ×docK: case-preserving caesar per copy (copy 0 = src)
    val docs = read("documents")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    write("documents", copies(docK) { i =>
      val shl = lower.drop(i % 26) + lower.take(i % 26)
      val shu = shl.toUpperCase
      docs
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", translate(col("text"), lower + upper, shl + shu))
    }.repartition(docK))

    // ---- embeddings ×docK: fixed query ids, corpus grows
    val emb = read("embeddings")
    write("embeddings", copies(docK) { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
    }.repartition(docK))

    // ---- orders/lineitem/part ×evK: shifted order keys; part scales
    // with the facts (as TPC-H scales it), each copy on its own
    // disjoint part-key range — constant graph density, K× catalog
    val orders = read("orders")
    write("orders", copies(evK) { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000L))
    }.repartition(math.max(evK * 2 / 3, 1)))

    val part = read("part")
    write("part", copies(evK) { i =>
      part.withColumn("p_partkey", col("p_partkey") + lit(i * 1000000L))
    })

    val lineitem = read("lineitem")
    write("lineitem", copies(evK) { i =>
      lineitem
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i * 1000000L))
    }.repartition(evK))

    // ---- remaining dimensions: verbatim
    Seq("customer", "supplier", "nation", "region")
      .foreach(n => write(n, read(n)))

    println(s"[fixture] done: $out (events x$evK, documents x$docK)")
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft_sf10x")
    val evK = sys.env.getOrElse("SPARK_GRAFT_SCALE_EVENTS", "10").toInt
    val docK = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "4").toInt

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, src, out, evK, docK)
    spark.stop()
  }
}
