package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's one regression channel, as pure functions of sweep figures,
  * a reference and a solo re-measure callback, and the committed same-host
  * reference it reads.
  */
class BenchRefSpec extends AnyFunSuite {

  test("a flag needs a ratio over 1.5 AND more than 0.3 s of growth") {
    assert(Bench.flag(1.6, 1.0, 1.0).contains(1.6))
    assert(Bench.flag(1.4, 1.0, 1.0).isEmpty, "ratio 1.4")
    assert(Bench.flag(0.4, 0.2, 1.0).isEmpty, "ratio 2 but only 0.2 s slower")
    assert(Bench.flag(0.6, 0.2, 1.0).isDefined)
    assert(Bench.flag(-1.0, 1.0, 1.0).isEmpty, "a failed run is not a regression")
    assert(Bench.flag(2.0, -1.0, 1.0).isEmpty, "no reference figure")
  }

  test("the window ratio scales the expectation down, clamped at 1.0") {
    // a window at 0.5× host speed halves the ratio: 2.0 s vs 1.0 s reads 1.0
    assert(Bench.flag(2.0, 1.0, 0.5).isEmpty)
    assert(Bench.flag(4.0, 1.0, 0.5).contains(2.0))
    // a faster window never masks a regression
    assert(Bench.flag(1.6, 1.0, 2.0).contains(1.6))
    // no same-host reference (ratio −1): unnormalized
    assert(Bench.flag(1.6, 1.0, -1.0).contains(1.6))
  }

  test("a flagged query is re-measured solo, twice only when the first solo confirms") {
    val ref = Map("slow" -> 1.0, "noise" -> 1.0, "fine" -> 1.0)
    val sweep = Seq("slow" -> 3.0, "noise" -> 2.5, "fine" -> 1.1, "new" -> 9.0)
    val solos = Map("slow" -> Iterator(2.8, 2.6), "noise" -> Iterator(1.05))
    val calls = Seq.newBuilder[String]
    val (rechecked, confirmed) = Bench.regressions(sweep, ref, 1.0, { n =>
      calls += n
      solos(n).next()
    })
    assert(calls.result() == Seq("slow", "slow", "noise"), "worst first; noise once")
    assert(rechecked == Seq(Bench.Recheck("slow", 1.0, 3.0, 2.6),
      Bench.Recheck("noise", 1.0, 2.5, 1.05)))
    assert(confirmed == Seq(("slow", 1.0, 2.6, 2.6)))
  }

  test("the committed reference carries its host and only successful query times") {
    val ref = Measure.readReference().getOrElse(fail(s"${Measure.RefFile} has no host figures"))
    assert(ref.nproc > 0 && ref.calibMs > 0 && ref.cores > 0 && ref.sf.nonEmpty)
    assert(ref.queries.size == SparkEntry.allDefs.size)
    val failed = ref.queries.filter(_._2 <= 0).keys
    assert(failed.isEmpty, s"non-positive reference figures: ${failed.mkString(", ")}")
  }
}
