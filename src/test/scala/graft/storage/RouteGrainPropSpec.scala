package graft.storage

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Properties of [[RollupStore.routeGrain]], the one grain rule every
  * route shares, over random spans, budgets, widths and horizons —
  * ranges on both sides of epoch 0 included. It always fits the budget,
  * it equals `route`'s own former rule on every one-store route, and the
  * former cascade rule on every raw-headed cascade. Both former rules are
  * kept here as references, with overflow-checked arithmetic: where they
  * overflow, the one rule must refuse with an `IllegalArgumentException`. */
class RouteGrainPropSpec extends AnyFunSuite {

  private val S = 1000000000L
  private val Day = 86400L * S
  private val Widths = Seq(1L, 7L, S, 10 * S, 60 * S, 300 * S, 3600 * S, Day)

  private def widen(since: Long, until: Long, g: Long): (Long, Long) =
    (Math.multiplyExact(Math.floorDiv(since, g), g),
      Math.multiplyExact(Math.floorDiv(until - 1, g) + 1, g))

  /** The former `fitGrain`: jump to the widened span's ceil-grain. */
  private def oldFit(since: Long, until: Long, maxPoints: Int, g0: Long,
      roundUp: Long => Long): Long = {
    var g = g0
    var done = false
    while (!done) {
      val (lo, hi) = widen(since, until, g)
      val span = Math.subtractExact(hi, lo)
      if (span / g <= maxPoints) done = true
      else g = roundUp(Math.addExact(span, maxPoints - 1L) / maxPoints)
    }
    g
  }

  private def toMult(w: Long)(g: Long): Long =
    Math.multiplyExact(Math.addExact(g, w - 1) / w, w)

  private def target(since: Long, until: Long, maxPoints: Int): Long =
    math.max(1L, Math.addExact(Math.subtractExact(until, since),
      maxPoints - 1L) / maxPoints)

  /** The former `route` rule over one store of width `w`. */
  private def oldRoute(since: Long, until: Long, maxPoints: Int, w: Long,
      horizon: Option[Long]): Long = {
    val gRaw = oldFit(since, until, maxPoints,
      target(since, until, maxPoints), identity)
    if (gRaw >= w) oldFit(since, until, maxPoints, toMult(w)(gRaw), toMult(w))
    else if (horizon.forall(_ <= widen(since, until, gRaw)._1)) gRaw
    else oldFit(since, until, maxPoints, toMult(w)(w), toMult(w))
  }

  /** The former `fitCascadeGrain` with a raw head (floor 1). */
  private def oldCascade(since: Long, until: Long, maxPoints: Int,
      tiers: Seq[(Long, Long)]): Long = {
    def touched(g: Long): Seq[Long] = {
      val (lo, hi) = widen(since, until, g)
      tiers.zipWithIndex.collect {
        case ((w, h), i) if lo < h &&
            hi > tiers.lift(i + 1).fold(Long.MinValue)(_._2) => w
      }
    }
    var g = oldFit(since, until, maxPoints, target(since, until, maxPoints),
      identity)
    var stable = false
    while (!stable) {
      val ws = touched(g)
      if (ws.isEmpty) stable = true
      else {
        val g2 = oldFit(since, until, maxPoints,
          toMult(ws.max)(math.max(g, ws.max)), toMult(ws.max))
        if (g2 == g) stable = true else g = g2
      }
    }
    g
  }

  /** Old rule and one rule agree: the same grain, or both find none. */
  private def agree(old: => Long, one: => Long): Boolean =
    try {
      val g = old
      one == g
    } catch {
      case _: ArithmeticException =>
        try { one; false }
        catch { case _: IllegalArgumentException => true }
    }

  private val range: Gen[(Long, Long, Int)] = for {
    since <- Gen.oneOf(Gen.choose(-30 * Day, 60 * Day),
      Gen.choose(-2 * Day, 2 * Day))
    span <- Gen.oneOf(Gen.choose(1L, 1000L * S), Gen.choose(1L, 90 * Day))
    points <- Gen.oneOf(Gen.choose(1, 4), Gen.choose(1, 500),
      Gen.choose(1, 100000))
  } yield (since, since + span, points)

  /** A horizon aligned to `w`, somewhere around the range. */
  private def horizonNear(since: Long, until: Long, w: Long): Gen[Long] =
    Gen.choose(since - (until - since), until + (until - since))
      .map(h => Math.floorDiv(h, w) * w)

  /** 3,000 draws from a fixed seed, so a failure reproduces. */
  private def check(p: Prop): Unit = {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(3000).withInitialSeed(Seed(20261019L)), p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("the one grain rule fits every budget it accepts") {
    val tierList = for {
      (since, until, points) <- range
      floor <- Gen.oneOf(Widths)
      fine <- Gen.oneOf(true, false)
      n <- Gen.choose(0, 3)
      factors <- Gen.listOfN(n, Gen.oneOf(2L, 24L, 60L))
      // nested widths, as tiering writes them, none past 1000 days
      widths = factors.scanLeft(BigInt(floor))(_ * _).tail
        .takeWhile(_ <= BigInt(1000 * Day)).map(_.toLong)
      hs <- Gen.sequence[List[Long], Long](widths.map(horizonNear(since,
        until, _)))
    } yield (since, until, points, floor, fine,
      widths.zip(hs.sorted(Ordering[Long].reverse)))
    check(Prop.forAllNoShrink(tierList) {
      case (since, until, points, floor, fine, tiers) =>
        try {
          val (g, touched) = RollupStore.routeGrain(since, until, points,
            floor, fine, tiers)
          val (lo, hi) = widen(since, until, g)
          (hi - lo) / g <= points &&
            touched.forall { case (w, _) => g % w == 0 } &&
            (g % floor == 0 || (fine && g < floor && touched.isEmpty))
        } catch { case _: IllegalArgumentException => true }
    })
  }

  test("on one-store routes the one rule is the old route rule") {
    val oneStore = for {
      (since, until, points) <- range
      w <- Gen.oneOf(Widths)
      h <- Gen.option(horizonNear(since, until, w))
    } yield (since, until, points, w, h)
    check(Prop.forAllNoShrink(oneStore) { case (since, until, points, w, h) =>
      agree(oldRoute(since, until, points, w, h),
        RollupStore.routeGrain(since, until, points, w, fineBelowFloor = true,
          h.map(w -> _).toSeq)._1)
    })
  }

  test("on raw-headed cascades the one rule is the old cascade rule") {
    val cascade = for {
      (since, until, points) <- range
      w <- Gen.oneOf(Widths)
      coarse <- Gen.oneOf(24L, 60L)
      hFine <- horizonNear(since, until, w * coarse)
      back <- Gen.choose(0L, 10L)
    } yield (since, until, points,
      Seq((w, hFine), (w * coarse, hFine - back * w * coarse)))
    check(Prop.forAllNoShrink(cascade) { case (since, until, points, tiers) =>
      agree(oldCascade(since, until, points, tiers),
        RollupStore.routeGrain(since, until, points, 1L,
          fineBelowFloor = true, tiers)._1)
    })
  }

  test("a one-point budget over a range holding epoch 0 fits no grain") {
    val e = intercept[IllegalArgumentException] {
      RollupStore.routeGrain(-3600L * S, 3600L * S, 1, 60 * S,
        fineBelowFloor = true, Nil)
    }
    assert(e.getMessage.contains("no grain fits"), e.getMessage)
  }
}
