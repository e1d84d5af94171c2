package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's own checks: the percentile and sample-count rule, a
  * deterministic generator, and a result line that parses to exactly the
  * four keys. Needs no Spark session. */
object SelfTest {
  def run(arg: String): Int = {
    val failures = ArrayBuffer.empty[String]
    var checks = 0
    def check(ok: Boolean, what: String): Unit = { checks += 1; if (!ok) failures += what }

    val xs = (1 to 100).map(_.toDouble)
    check(Stats.percentile(xs, 50) == 50 && Stats.percentile(xs, 90) == 90 &&
      Stats.percentile(xs, 99) == 99 && Stats.percentile(xs, 100) == 100, "nearest-rank percentiles")
    check(Stats.percentile(Seq(5.0), 99) == 5.0, "percentile of one sample")
    check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median")
    check(Stats.beyond(100, 90) == 10 && Stats.supports(100, 90), "p90 needs 100 samples")
    check(!Stats.supports(99, 90), "99 samples leave only 9 beyond p90")
    check(Stats.supports(1000, 99) && !Stats.supports(999, 99), "p99 needs 1000 samples")
    check(Stats.supports(50, 80) && !Stats.supports(49, 80), "p80 needs 50 samples")

    def fingerprint(seed: Long): Seq[Any] = {
      val s = Gen.series(seed, 1, 2000)
      val live = new Gen.Live(seed, 1000)
      val c = Gen.corpus(seed, 400, 0.08, 0.10)
      Seq(s.ts.toSeq, s.cents.toSeq,
        Gen.serveRequests(seed, 3, 64, "store", "raw").map(_.line),
        (0L until 2000L).map(i => (live.ts(i), live.cents(i))),
        c.texts, c.exactGroups, c.nearPairs)
    }
    check(fingerprint(7) == fingerprint(7), "same seed, same inputs")
    check(fingerprint(7) != fingerprint(8), "another seed, other inputs")
    val s = Gen.series(3, 0, 5000)
    check(s.ts.sliding(2).forall(p => p(0) < p(1)), "series ts strictly rise")
    check(s.count(Gen.ServeStart, Gen.ServeStart + Gen.ServeSpan) == 5000, "series spans its 30 days")
    val live = new Gen.Live(3, 1000)
    check((0L until 5000L).sliding(2).forall(p => live.ts(p(0)) < live.ts(p(1))), "live ts rise with seq")
    check(live.lower(live.ts(1234)) == 1234, "live lower bound")
    val c = Gen.corpus(3, 1000, 0.08, 0.10)
    check(c.texts.forall(t => t != null && t.nonEmpty), "every document generated")
    check(c.exactGroups.map(_.size).sum >= 80 && c.nearPairs.size >= 50, "planted duplicate shares")
    check(c.exactGroups.forall(g => g.map(i => Gen.shingles(c.texts(i.toInt))).distinct.size == 1),
      "exact groups share their shingles")
    val js = c.nearPairs.map { case (a, b) =>
      Gen.jaccard(Gen.shingles(c.texts(a.toInt)), Gen.shingles(c.texts(b.toInt))) }
    check(js.exists(_ >= 0.5) && js.exists(_ < 0.5), "near pairs on both sides of the threshold")

    val r = new Report
    r.attempt(3)
    r.put("p50_ms", 1.25, "ms")
    r.put("ops_per_s", 42.0, "1/s")
    val node = Load.parse(r.json)
    check(node.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"),
      "result line keys")
    check(node.get("correct").asBoolean() && node.get("attempted").asLong() == 3 &&
      node.get("metrics").get("p50_ms").get("value").asDouble() == 1.25 &&
      node.get("metrics").get("p50_ms").get("unit").asText() == "ms", "result line values")
    r.fail("x")
    check(!Load.parse(r.json).get("correct").asBoolean(), "a failure makes the run incorrect")
    check(Catalog.EndToEnd.map(_._1).distinct.size == Catalog.EndToEnd.size &&
      Catalog.PerLayer.map(_._1).distinct.size == Catalog.PerLayer.size, "metric names unique")
    println(s"""{"selftest":"$arg","checks":$checks,"failed":${failures.size},"failures":[${
      failures.map(f => "\"" + f + "\"").mkString(",")}],"end_to_end":[${
      Catalog.EndToEnd.map(m => "\"" + m._1 + "\"").mkString(",")}],"per_layer":[${
      Catalog.PerLayer.map(m => "\"" + m._1 + "\"").mkString(",")}]}""")
    if (failures.isEmpty) 0 else 1
  }
}
