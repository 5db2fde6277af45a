package graft

import graft.impute.{CategoryInfo, ColumnLayout, NumericStats}
import graft.ml.{RbmCore, RbmWeights}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property layer (SURVEY §5.2-2): algebraic invariants of
  * the pure math, independent of any fixture data. Raw ScalaCheck
  * runner (the scalatest-plus bridge isn't in the offline cache). */
class PropertiesSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  private def hashNoise(key: Double, salt: Int): Double = {
    val x = math.sin(key * 12.9898 + salt * 78.233) * 43758.5453
    x - math.floor(x)
  }

  test("hash-noise is always in [0,1) and key-deterministic") {
    check(Prop.forAll(Gen.chooseNum(-1e9, 1e9), Gen.chooseNum(0, 10000)) {
      (key: Double, salt: Int) =>
        val u = hashNoise(key, salt)
        u >= 0.0 && u < 1.0 && u == hashNoise(key, salt)
    })
  }

  test("scale∘unscale is identity up to FP rounding") {
    val gen = for {
      mn <- Gen.chooseNum(-1e6, 1e6)
      span <- Gen.chooseNum(1e-3, 1e6)
      x <- Gen.chooseNum(0.0, 1.0)
    } yield (mn, mn + span, mn + x * span)
    check(Prop.forAll(gen) { case (mn, mx, x) =>
      val scaled = (x - mn) / (mx - mn)
      val back = scaled * (mx - mn) + mn
      math.abs(back - x) <= 1e-9 * math.max(1.0, math.abs(x))
    })
  }

  test("RBM reconstruction is always strictly inside (0,1)") {
    val gen = for {
      n <- Gen.chooseNum(1, 8)
      nv <- Gen.chooseNum(1, 6)
      nh <- Gen.chooseNum(1, 5)
      cells <- Gen.listOfN(n * nv, Gen.chooseNum(0.0, 1.0))
      wts <- Gen.listOfN(nv * nh, Gen.chooseNum(-3.0, 3.0))
    } yield (n, nv, nh, cells, wts)
    check(Prop.forAll(gen) { case (n, nv, nh, cells, wts) =>
      val w = new RbmWeights(nv, nh, wts.toArray, new Array[Double](nv), new Array[Double](nh))
      val out = new Array[Double](n * nv)
      RbmCore.reconstruct(w, cells.toArray, n, new Array[Double](n * nh), out)
      out.forall(x => x > 0.0 && x < 1.0)
    })
  }

  test("expandKnown: categorical flag covers its whole one-hot group") {
    val layout = ColumnLayout(
      Seq(NumericStats("a", 0, 1), NumericStats("b", 0, 1)),
      Seq(CategoryInfo("c", Seq("x", "y", "z")), CategoryInfo("d", Seq("p", "q"))))
    check(Prop.forAll(Gen.listOfN(4, Gen.oneOf(true, false))) { flags =>
      val expanded = graft.impute.Encoding.expandKnown(layout, flags.toIndexedSeq)
      expanded.length == layout.width &&
        expanded(0) == flags(0) && expanded(1) == flags(1) &&
        (2 to 4).forall(expanded(_) == flags(2)) &&
        (5 to 6).forall(expanded(_) == flags(3))
    })
  }

  test("session fold: any trigger split == one-shot; sessions partition events") {
    import graft.streaming.{SessionEvent, StatefulSessions}
    // deltas and cents travel as ONE list of pairs so ScalaCheck
    // shrinking can never desynchronize their lengths (independent
    // shrinks would truncate the zip but not the cents.sum invariant)
    val gen = for {
      n <- Gen.chooseNum(0, 60)
      rows <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 1000L)))
      gapMin <- Gen.chooseNum(1L, 12L)
      cap <- Gen.chooseNum(1, 7)
      cut <- Gen.chooseNum(0, math.max(n, 1))
    } yield (rows, gapMin, cap, cut)
    check(Prop.forAll(gen) { case (rows, gapMin, cap, cut) =>
      val cents = rows.map(_._2)
      val M = 60000000L
      var t = 0L
      val events = rows.zipWithIndex.map { case ((d, c), i) =>
        t += d * M
        SessionEvent(i.toLong, 1L, new java.sql.Timestamp(t / 1000), t, c)
      }
      val gapUs = gapMin * M
      val (one, oneOpen) =
        StatefulSessions.foldEvents(events.iterator, None, gapUs, cap)
      // splitting the stream at ANY point and carrying state must match
      // the one-shot fold — the exact contract the streaming wrapper
      // relies on across trigger boundaries
      val (h1, o1) = StatefulSessions.foldEvents(
        events.take(cut).iterator, None, gapUs, cap)
      val (h2, o2) = StatefulSessions.foldEvents(
        events.drop(cut).iterator, o1, gapUs, cap)
      val splitEq = (h1 ++ h2) == one && o2 == oneOpen
      // closed sessions + open tail partition the events: counts and
      // value sums add up, bounds are ordered, the cap binds
      val closedN = one.map(_.n_events).sum + oneOpen.map(_.n).getOrElse(0L)
      val closedC = one.map(s => math.round(s.session_value * 100)).sum +
        oneOpen.map(_.cents).getOrElse(0L)
      val invariants = closedN == events.length.toLong &&
        closedC == cents.sum &&
        one.forall(s => s.start_us <= s.end_us && s.n_events <= cap) &&
        one.forall(s => Set("gap", "cap").contains(s.closed_by))
      splitEq && invariants
    })
  }
}
