package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the pure half of `Bench`'s retime policy on synthetic samples:
  * what a key reports from its repetitions, and when a capture reads
  * `contended`. No Spark. */
class BenchPolicySpec extends AnyFunSuite {

  test("report: min and median of each key's samples, in key order") {
    val r = Bench.report(Seq(
      "b" -> Seq(Some(3.0), Some(1.0), Some(2.0)),
      "a" -> Seq(Some(4.0), Some(2.0))))
    assert(r.min == Seq("b" -> 1.0, "a" -> 2.0))
    assert(r.median == Seq("b" -> 2.0, "a" -> 3.0))
    assert(r.failed.isEmpty)
  }

  test("report: a failed sample is not a sample and never wins the min") {
    val r = Bench.report(Seq("k" -> Seq(Some(5.0), None, Some(7.0))))
    assert(r.min == Seq("k" -> 5.0))
    assert(r.median == Seq("k" -> 6.0))
    assert(r.failed.isEmpty)
  }

  test("report: a key with no successful sample reports no time and counts as failed") {
    val r = Bench.report(Seq(
      "ok" -> Seq(Some(1.0), Some(1.0), Some(1.0)),
      "broken" -> Seq(None, None, None)))
    assert(r.min.map(_._1) == Seq("ok"))
    assert(r.median.map(_._1) == Seq("ok"))
    assert(r.failed == Seq("broken"))
  }

  private val floors = (1 to 10).map(i => s"k$i" -> 1.0).toMap
  private def mins(inflated: Int) =
    (1 to 10).map(i => s"k$i" -> (if (i <= inflated) 1.6 else 1.0))

  test("contended: a quiet final sentinel with keys at floor is not contended") {
    assert(!Bench.contended(0.3, 0.2, 0.23, 0.12, floors, mins(1)))
    // no floors at all: only the sentinel legs can flag
    assert(!Bench.contended(0.3, 0.2, 0.23, 0.12, Map.empty, mins(10)))
  }

  test("contended: a breached final sentinel leg flags the capture") {
    assert(Bench.contended(0.6, 0.2, 0.23, 0.12, floors, mins(0)))  // cpu > max(2x, 0.5)
    assert(Bench.contended(0.3, 1.3, 0.23, 0.12, floors, mins(0)))  // io > max(6x, 1.2)
    assert(!Bench.contended(0.3, 0.7, 0.23, 0.12, floors, mins(0))) // io under 1.2 s
  }

  test("contended: >=20% of floored keys above 1.5x their floor flags the capture") {
    assert(!Bench.contended(0.3, 0.2, 0.23, 0.12, floors, mins(1)))
    assert(Bench.contended(0.3, 0.2, 0.23, 0.12, floors, mins(2)))
    // keys without a floor neither count nor dilute the share
    val extra = mins(2) ++ (1 to 40).map(i => s"x$i" -> 9.0)
    assert(Bench.contended(0.3, 0.2, 0.23, 0.12, floors, extra))
  }
}
