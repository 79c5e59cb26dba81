package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one measurement main: its arguments, its sweep loop and its
  * regression channel, as pure functions of sweep figures, a reference and
  * a re-measure callback, and the committed same-host reference it reads.
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

  test("--refresh rewrites the reference only in an ok or unrated window") {
    assert(Bench.refreshRefusal("ok", 1.02).isEmpty)
    assert(Bench.refreshRefusal("unrated", -1.0).isEmpty)
    for (ratio <- Seq(0.49, 0.7)) {
      val window = Measure.grade(ratio)
      val why = Bench.refreshRefusal(window, ratio)
      assert(why.exists(w => w.contains(window) && w.contains(Measure.RefFile)), s"$ratio: $why")
    }
  }

  test("deleting the reference re-bases it: the next --refresh runs unrated") {
    // a reference whose host loop ran 4x faster (a host-loop change, or a
    // slower host with the same core count) grades every window throttled
    val stale = Measure.Reference(Measure.nproc, 30.0, "sf0.1", 4, Map("q" -> 1.0))
    val ratio = Measure.windowRatio(Some(stale), 120.0)
    val why = Bench.refreshRefusal(Measure.grade(ratio), ratio)
    assert(why.exists(_.contains(s"delete ${Measure.RefFile}")), s"$ratio: $why")
    // with the file deleted there is no reference, so the window is unrated
    val rebased = Measure.windowRatio(None, 120.0)
    assert(Measure.grade(rebased) == "unrated")
    assert(Bench.refreshRefusal(Measure.grade(rebased), rebased).isEmpty)
  }

  test("the committed reference carries its host and only successful query times") {
    val ref = Measure.readReference().getOrElse(fail(s"${Measure.RefFile} has no host figures"))
    assert(ref.nproc > 0 && ref.calibMs > 0 && ref.cores > 0 && ref.sf.nonEmpty)
    assert(ref.queries.size == SparkEntry.allDefs.size)
    val failed = ref.queries.filter(_._2 <= 0).keys
    assert(failed.isEmpty, s"non-positive reference figures: ${failed.mkString(", ")}")
  }

  test("arguments: --refresh stands alone, --scale takes a positive integer") {
    assert(Bench.parseArgs(Nil) == Bench.Args(refresh = false, scale = None, only = Set.empty))
    assert(Bench.parseArgs(Seq("--refresh")).refresh)
    assert(Bench.parseArgs(Seq("--scale", "100", "q1", "q2")) ==
      Bench.Args(refresh = false, scale = Some(100), only = Set("q1", "q2")))
    assert(Bench.parseArgs(Seq("q1", "--scale", "10")).scale.contains(10))
    for (bad <- Seq(Seq("--refresh", "--scale", "10"), Seq("--scale", "10", "--refresh"),
        Seq("--refresh", "q1"), Seq("--scale"), Seq("--scale", "0"), Seq("--scale", "-2"),
        Seq("--scale", "ten"), Seq("--scale", "q1")))
      intercept[IllegalArgumentException](Bench.parseArgs(bad))
  }

  test("the sweep times a query's corpora back to back and judges outliers per corpus") {
    val calls = Seq.newBuilder[(String, String)]
    val secs = Map(("a", "x") -> 0.2, ("a", "y") -> 6.0, ("b", "x") -> 0.2, ("b", "y") -> 6.5,
      ("c", "x") -> 6.0, ("c", "y") -> 6.0)
    val timed = Bench.sweep(Seq("a", "b", "c"), Seq("x", "y"), fullRerun = false, { (n, d) =>
      calls += ((n, d))
      secs((n, d))
    })
    // c on x is 30x its corpus's median; every figure on y is within 5x of y's
    assert(calls.result() == Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("c", "x"),
      ("c", "y"), ("c", "x")))
    assert(timed.map(t => (t.name, t.dir, t.raw)) == Seq(("a", "x", None), ("a", "y", None),
      ("b", "x", None), ("b", "y", None), ("c", "x", Some(6.0)), ("c", "y", None)))
    val twice = Bench.sweep(Seq("a"), Seq("x", "y"), fullRerun = true, (_, _) => 1.0)
    assert(twice.forall(_.raw.contains(1.0)))
  }

  test("src/main has one measurement main, besides the correctness and plan mains") {
    SourceSweep.guard("""def main\(""".r, owner = "", Map(
      ("graft/Bench.scala", "def main(args: Array[String]): Unit = {") -> "the measurement main",
      ("graft/Verify.scala", "def main(args: Array[String]): Unit = {") -> "the oracle dump",
      ("graft/Explain.scala", "def main(args: Array[String]): Unit = {") -> "the plan audit"))
  }
}
