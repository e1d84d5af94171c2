package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded input generators. Everything the program receives is made here,
  * and every expected answer the checks use is computed from the same
  * arrays, never read back from the program. */
object Gen {
  val SecNs = 1000000000L
  val MinNs = 60L * SecNs
  val HourNs = 60L * MinNs
  val DayNs = 24L * HourNs

  /** SplitMix64: a random-access hash, so row `i` of a stream needs no
    * stored state. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def uniform(seed: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, i), n.toLong).toInt

  private val literal = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  /** A dialect datetime literal for a whole-second instant. */
  def lit(ns: Long): String = {
    require(ns % SecNs == 0, s"literal needs whole seconds: $ns")
    literal.format(Instant.ofEpochSecond(ns / SecNs))
  }

  // --- serve_read: a few metrics over 30 days -------------------------------

  val ServeStart: Long = 1704067200L * SecNs // 2024-01-01T00:00:00Z
  val ServeSpan: Long = 30L * DayNs
  val Hosts: Array[String] = Array("web-1", "web-2", "db-1", "db-2")

  /** One metric's points in time order; values are whole cents so sums are
    * exact. */
  final class Series(val name: String, val ts: Array[Long], val cents: Array[Long]) {
    private val prefix: Array[Long] = cents.scanLeft(0L)(_ + _)
    /** First index with ts >= t. */
    def lower(t: Long): Int = {
      var lo = 0; var hi = ts.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < t) lo = m + 1 else hi = m }
      lo
    }
    def count(since: Long, until: Long): Int = lower(until) - lower(since)
    def centsSum(since: Long, until: Long): Long = prefix(lower(until)) - prefix(lower(since))
    def host(i: Int): String = Hosts((cents(i) % Hosts.length).toInt)
  }

  def series(seed: Long, idx: Int, points: Int): Series = {
    val s = seed * 31 + idx
    val step = ServeSpan / points
    val ts = Array.tabulate(points)(i =>
      ServeStart + i * step + java.lang.Math.floorMod(mix(s, 2L * i), step))
    val cents = Array.tabulate(points)(i => 100L + uniform(s, 2L * i + 1, 99900))
    new Series(s"m$idx", ts, cents)
  }

  sealed trait Req { def line: String }
  /** A dialect range query, answered as column JSON or as an Arrow frame. */
  final case class Dialect(metric: Int, since: Long, until: Long, arrow: Boolean) extends Req {
    def query: String =
      s"with format_datetime = false select * from m$metric " +
        s"where ts in ('${lit(since)}', '${lit(until)}')"
    def line: String =
      if (arrow) s"""{"query": "${query.replace("\"", "\\\"")}", "format": "arrow"}"""
      else s"""{"query": "${query.replace("\"", "\\\"")}"}"""
  }
  /** A routed point-budget request over the rolled-up metric. */
  final case class Route(since: Long, until: Long, maxPoints: Int,
      store: String, raw: String) extends Req {
    def line: String =
      s"""{"maxPoints": $maxPoints, "since": $since, "until": $until, """ +
        s""""store": "$store", "raw": "$raw"}"""
  }

  /** The request stream all connections draw from. Its composition is
    * fixed, in cycles of 20: 12 dialect reads as column JSON, 6 as Arrow,
    * 2 routes; read spans rotate through 6, 12 and 24 hours over the three
    * metrics; every route spans 7 days and is answered from the rollup
    * store, so route latency has one cost class. The seed moves only where
    * each range starts. */
  def serveRequests(seed: Long, metrics: Int, n: Int, store: String,
      raw: String): Vector[Req] = {
    val s = seed * 7 + 3
    def start(i: Int, span: Long): Long =
      ServeStart + uniform(s, i.toLong, ((ServeSpan - span) / SecNs).toInt).toLong * SecNs
    Vector.tabulate(n) { i =>
      val slot = i % 20
      if (slot < 18) {
        val span = Seq(6L, 12L, 24L)(i % 3) * HourNs
        val since = start(i, span)
        Dialect((i / 3) % metrics, since, since + span, arrow = slot >= 12)
      } else {
        val span = 7L * DayNs
        val since = start(i, span)
        Route(since, since + span, 500, store, raw)
      }
    }
  }

  // --- ingest_live: one metric written as it arrives ------------------------

  /** Row `seq` of the live stream. History rows (seq < history) cover the
    * hour before `LiveStart`; live rows follow 0.5 ms apart. ts rises with
    * seq, so every persisted set is a seq prefix. */
  final class Live(seed: Long, val history: Int) {
    val LiveStart: Long = 1709294400L * SecNs // 2024-03-01T12:00:00Z
    private val histStep = HourNs / history
    def ts(seq: Long): Long =
      if (seq < history) LiveStart - HourNs + seq * histStep
      else LiveStart + (seq - history) * 500000L + java.lang.Math.floorMod(mix(seed, seq), 400000L)
    def cents(seq: Long): Long = 100L + java.lang.Math.floorMod(mix(seed ^ 0x5DEECE66DL, seq), 99900L)
    /** First seq with ts >= t. */
    def lower(t: Long): Long = {
      var lo = 0L; var hi = 1L << 40 // far past any run, and no overflow in ts()
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < t) lo = m + 1 else hi = m }
      lo
    }
    def centsSum(from: Long, until: Long): Long = {
      var s = 0L; var i = from
      while (i < until) { s += cents(i); i += 1 }
      s
    }
  }

  // --- corpus_batch: documents with planted duplicates ---------------------

  final case class Corpus(texts: Vector[String], exactGroups: Vector[Vector[Long]],
      nearPairs: Vector[(Long, Long)])

  /** `n` documents of 25-60 words from a 20k-word vocabulary. A share of
    * them are planted duplicates: exact groups (case and spacing differ,
    * the normalised text does not) and near pairs (a copy with 1-14 words
    * replaced, so true Jaccard spans both sides of the thresholds). Ids are
    * positions in `texts`. */
  def corpus(seed: Long, n: Int, exactShare: Double, nearShare: Double): Corpus = {
    val r = new java.util.Random(seed * 1000003L + 11)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 20000) {
        val len = 3 + r.nextInt(7)
        seen += Iterator.fill(len)(('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toVector
    }
    def doc(): Vector[String] = Vector.fill(25 + r.nextInt(36))(vocab(r.nextInt(vocab.size)))
    val slots = scala.util.Random.javaRandomToRandom(r).shuffle((0 until n).toVector)
    var next = 0
    def take(): Int = { val id = slots(next); next += 1; id }
    val texts = new Array[String](n)
    val groups = Vector.newBuilder[Vector[Long]]
    // group sizes cycle 2, 3, 4 and near-pair edit counts 1..14, so every
    // seed plants the same shape
    var planted = 0
    var made = 0
    while (planted < (n * exactShare).toInt) {
      val words = doc()
      val size = 2 + made % 3
      made += 1
      val ids = Vector.fill(size)(take())
      ids.zipWithIndex.foreach { case (id, k) =>
        texts(id) = k match {
          case 0 => words.mkString(" ")
          case 1 => words.head.capitalize + " " + words.tail.mkString("  ")
          case 2 => "  " + words.mkString(" ").toUpperCase + " "
          case _ => words.mkString(" \t")
        }
      }
      groups += ids.map(_.toLong)
      planted += size
    }
    val pairs = Vector.newBuilder[(Long, Long)]
    planted = 0
    made = 0
    while (planted < (n * nearShare).toInt) {
      val words = doc()
      val edits = 1 + made % 14
      made += 1
      val copy = (0 until edits).foldLeft(words) { (w, _) =>
        w.updated(r.nextInt(w.size), vocab(r.nextInt(vocab.size)))
      }
      val a = take(); val b = take()
      texts(a) = words.mkString(" "); texts(b) = copy.mkString(" ")
      pairs += ((math.min(a, b).toLong, math.max(a, b).toLong))
      planted += 2
    }
    while (next < n) texts(take()) = doc().mkString(" ")
    Corpus(texts.toVector, groups.result(), pairs.result())
  }

  /** The benchmark's own shingler: lower-case word 3-grams over runs of
    * [a-z0-9], as a set. */
  def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
    toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = (a intersect b).size
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
