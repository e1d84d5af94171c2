package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TsOps

/** Driver-contract smoke + randomized property tests (the reference pinned
  * boundary behavior with hand-rolled matrices; these add seeded-random
  * sweeps on top — SURVEY §5 implications).
  */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("driver smoke: entry() answers with rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared oracle has a matching query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(qs)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query carries an oracle — nothing degrades to rows-only") {
    // the driver records a weaker rows-only check for oracle-less queries;
    // the repo's bar is a VALUE oracle (or pinned gate) for every entry
    val unoracled = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(unoracled.isEmpty, s"queries without oracles: $unoracled")
  }

  test("the README's Settings table names exactly the env vars src/main " +
      "reads") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val anyRead = """sys\.env|System\.getenv""".r
    val literalRead =
      """(?:sys\.env(?:\.get|\.getOrElse)?|System\.getenv)\("(\w+)"""".r
    val read = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = text(f)
        val names = literalRead.findAllMatchIn(src).map(_.group(1)).toVector
        // a name this scan cannot see is a knob the table cannot list
        assert(names.size == anyRead.findAllMatchIn(src).size,
          s"$f reads an env var by a computed name; name it literally")
        names
      }.toSet
    val settings = text(Paths.get("README.md")).split("\n## ")
      .find(_.startsWith("Settings\n"))
      .getOrElse(fail("README.md has no Settings section"))
    val listed = """(?m)^\| `(\w+)` \|""".r.findAllMatchIn(settings)
      .map(_.group(1)).toSet
    assert(listed == read, s"listed but not read: ${listed -- read}; " +
      s"read but not listed: ${read -- listed}")
  }

  test("typed Dataset facade works over a metrics table") {
    // Dataset[T] path (case-class encoders where type safety helps)
    val ds = graft.storage.Tables
      .read(spark, "/root/testdata/sf0.001", "events").as[ContractSpec.Event]
    val byType = ds.groupByKey(_.event_type)
      .mapGroups((k, it) => (k, it.map(_.value).sum))
      .collect().toMap
    assert(byType.keySet == Set("click", "error", "purchase", "signup", "view"))
  }

  private def randomCases(seed: Int, n: Int): Seq[List[Long]] = {
    val rnd = new scala.util.Random(seed)
    // dense value range → many duplicate timestamps
    Seq.fill(n)(List.fill(40)(rnd.nextLong(31L)))
  }

  test("property: range filter ≡ scala filter on random duplicate-laden ts") {
    val rnd = new scala.util.Random(1)
    for (ts <- randomCases(2, 12)) {
      val (a, b) = (rnd.nextLong(32L), rnd.nextLong(32L))
      val (since, until) = (math.min(a, b), math.max(a, b))
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "v")
      val got = TsOps.rangeFilter(df, Some(since), Some(until))
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = ts.filter(t => t >= since && t < until).sorted
      assert(got == want, s"range [$since,$until) on $ts")
    }
  }

  test("property: threshold grouped limit ≡ window impl on random data") {
    val rnd = new scala.util.Random(3)
    for (ts <- randomCases(4, 8)) {
      val n = rnd.nextInt(13)
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "v")
      def key(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(key(TsOps.groupedHead(df, n)) ==
        key(TsOps.groupedLimitWindow(df, n, head = true)), s"head $n on $ts")
      assert(key(TsOps.groupedTail(df, n)) ==
        key(TsOps.groupedLimitWindow(df, n, head = false)), s"tail $n on $ts")
    }
  }

  test("property: grouped head keeps exactly n distinct ts (or all)") {
    val rnd = new scala.util.Random(5)
    for (ts <- randomCases(6, 8)) {
      val n = 1 + rnd.nextInt(12)
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "v")
      val distinctKept = TsOps.groupedHead(df, n)
        .select("ts").distinct().count()
      assert(distinctKept == math.min(n.toLong, ts.distinct.length.toLong))
    }
  }
}

object ContractSpec {
  case class Event(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, props: String)
}
