package graft

import org.scalatest.funsuite.AnyFunSuite

import Scale.Row
import Measure.{fixed, obj}

/** The shared measurement core without Spark: the run statistics, the
  * host loop and window grade, the JSON writer's escaping and number
  * format, and the scale sweep's bound, legs, corpus paths and
  * adjudication as pure functions of a selection, first-pass rows and a
  * re-measure callback.
  */
class MeasureSpec extends AnyFunSuite {

  test("median and best read only the successful runs") {
    assert(Measure.median(Seq(-1.0, 3.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(-1.0, -1.0)) == -1.0)
    assert(Measure.best(-1.0, 2.0, 1.5) == 1.5)
    assert(Measure.best(-1.0) == -1.0)
  }

  test("json escapes control characters and writes fixed-point figures as numbers") {
    val key = "q\t\"1\""
    val value = "a\\b\u0001\r\nc"
    val text = Measure.json(obj(key -> value, "sec" -> fixed(2.0, 3), "rate" -> fixed(95000.4, 0),
      "ratio" -> fixed(1.0005, 3), "runs" -> Seq(fixed(-1.0, 3))))
    assert(text.endsWith(""""sec":2.000,"rate":95000,"ratio":1.001,"runs":[-1.000]}"""))
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(back.path(key).asText() == value)
  }

  test("the host loop and the stream figure each discard their warm run") {
    val passes = new java.util.concurrent.atomic.AtomicInteger
    val calib = Measure.calibRuns(2, _ => passes.incrementAndGet())
    assert(calib.size == 9 && calib.forall(_ > 0))
    assert(passes.get == 2 * 10, "two threads, one warm and nine timed runs")
    var drains = 0
    val rates = Measure.eventRates(1000L) { drains += 1; if (drains == 1) sys.error("warm") }
    assert(drains == 4 && rates.size == 3 && rates.forall(_ > 0))
  }

  test("the window grade: throttled below 0.5, degraded below 0.85, unrated without a reference") {
    assert(Seq(0.3, 0.5, 0.84, 0.85, 1.2, -1.0).map(Measure.grade) ==
      Seq("throttled", "degraded", "degraded", "ok", "ok", "unrated"))
    val ref = Measure.Reference(Measure.nproc, 100.0, "sf", 4, Map.empty)
    assert(Measure.windowRatio(Some(ref), 200.0) == 0.5)
    assert(Measure.windowRatio(Some(ref.copy(nproc = Measure.nproc + 1)), 200.0) == -1.0)
    assert(Measure.windowRatio(None, 200.0) == -1.0)
  }

  private val Bound = Scale.bound(10)

  test("the bound is one rule, 1.2 per unit of data factor") {
    assert(Scale.bound(10) == 12.0)
    assert(Scale.bound(100) == 120.0)
  }

  test("the extra legs run exactly when the selection holds one of their queries") {
    val all = Scale.legs(SparkEntry.allDefs.map(_.name))
    assert(all == Scale.Legs(Scale.SkewQueries, Scale.RocksQueries, census = true))
    // the 100x spot list in the README
    val spot = Seq("dedup_index_maintenance", "dedup_index_census",
      "dedup_clusters_incremental", "join_fuzzy_blocked", "dedup_substring_spans",
      "sim_bm25_topk", "sim_prf_expansion", "dedup_paragraph_neardup",
      "sim_index_maintenance", "sim_index_census")
    assert(spot.forall(n => SparkEntry.allDefs.exists(_.name == n)))
    assert(Scale.legs(spot) == Scale.Legs(Nil, Nil, census = false))
    assert(Scale.legs(Seq("dedup_simhash", "stream_stateful_user_stats")) ==
      Scale.Legs(Seq("stream_stateful_user_stats"), Seq("stream_stateful_user_stats"), census = true))
  }

  test("a scaled corpus lives at one path per base fixture and factor") {
    assert(Scale.corpusDir("/data/sf0.01", 10) == "target/scale/sf0.01x10")
    assert(Scale.corpusDir("/data/sf0.1/", 10, skew = true) == "target/scale/sf0.1x10skew")
    val dirs = for (base <- Seq("/d/sf0.01", "/d/sf0.1"); n <- Seq(10, 100); skew <- Seq(false, true))
      yield Scale.corpusDir(base, n, skew)
    assert(dirs.distinct.size == 8)
  }

  test("an over-bound skew first pass clears when both sides are re-measured") {
    // a short base run inflates the factor: re-measuring only the skewed
    // side keeps it at 8.0 / 0.6 = 13.3, over the bound
    val first = Seq(Row("join_asof_nearest", 0.6, 8.0))
    assert(first.head.floored > Bound)
    val adj = Scale.adjudicate(first, Bound, _ => (1.0, 8.0))
    assert(adj.rows == Seq(Row("join_asof_nearest", 1.0, 8.0)))
    assert(adj.violations(Bound).isEmpty && adj.failures.isEmpty)
  }

  test("an over-bound first pass whose median-of-3 is within bound clears") {
    val first = Seq(Row("q", 1.0, 15.0), Row("other", 1.0, 2.0))
    assert(first.head.floored > Bound)
    val adj = Scale.adjudicate(first, Bound, {
      case "q" => (1.0, 5.0)
      case n => fail(s"$n re-measured")
    })
    assert(adj.rows == Seq(Row("q", 1.0, 5.0), Row("other", 1.0, 2.0)))
    assert(adj.requeried("q") == ((Seq(1.0, 1.0, 1.0), Seq(15.0, 5.0, 5.0))))
    assert(adj.violations(Bound).isEmpty)
    assert(adj.settled && adj.extra == 0)
  }

  test("an exempt query is never re-measured") {
    val exempt = Scale.BoundExempt.head
    val first = Seq(Row(exempt, 1.0, 40.0), Row("q", 1.0, 11.0))
    val calls = Seq.newBuilder[String]
    val adj = Scale.adjudicate(first, Bound, { n => calls += n; (1.0, 11.0) })
    assert(!calls.result().contains(exempt))
    assert(adj.rows.head == Row(exempt, 1.0, 40.0))
    assert(adj.violations(Bound).isEmpty)
  }

  test("the worst-settling loop stops at its cap and reports itself unsettled") {
    // every re-measure demotes its query, revealing a new unadjudicated worst
    def rows(n: Int) = (1 to n).map(i => Row(s"q$i", 1.0, 10.0 - i * 0.1))
    val demote: String => (Double, Double) = _ => (1.0, 0.2)
    val capped = Scale.adjudicate(rows(7), Bound, demote)
    assert(!capped.settled && capped.extra == Scale.WorstRequeryCap)
    assert(capped.requeried.keys.toSeq == (1 to 5).map(i => s"q$i"))
    val settled = Scale.adjudicate(rows(3), Bound, demote)
    assert(settled.settled && settled.extra == 3)
  }
}
