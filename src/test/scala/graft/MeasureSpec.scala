package graft

import org.scalatest.funsuite.AnyFunSuite

import BenchScale.Row
import Measure.{fixed, obj}

/** The shared measurement core without Spark: the run statistics, the JSON
  * writer's escaping and number format, and the scale sweeps' adjudication
  * as a pure function of first-pass rows and a re-measure callback.
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

  private val Bound = 12.0

  test("an over-bound first pass whose median-of-3 is within bound clears") {
    val first = Seq(Row("q", 1.0, 15.0), Row("other", 1.0, 2.0))
    assert(first.head.floored > Bound)
    val adj = BenchScale.adjudicate(first, Bound, {
      case "q" => (1.0, 5.0)
      case n => fail(s"$n re-measured")
    })
    assert(adj.rows == Seq(Row("q", 1.0, 5.0), Row("other", 1.0, 2.0)))
    assert(adj.requeried("q") == ((Seq(1.0, 1.0, 1.0), Seq(15.0, 5.0, 5.0))))
    assert(adj.violations(Bound).isEmpty)
    assert(adj.settled && adj.extra == 0)
  }

  test("an exempt query is never re-measured") {
    val exempt = BenchScale.BoundExempt.head
    val first = Seq(Row(exempt, 1.0, 40.0), Row("q", 1.0, 11.0))
    val calls = Seq.newBuilder[String]
    val adj = BenchScale.adjudicate(first, Bound, { n => calls += n; (1.0, 11.0) })
    assert(!calls.result().contains(exempt))
    assert(adj.rows.head == Row(exempt, 1.0, 40.0))
    assert(adj.violations(Bound).isEmpty)
  }

  test("the worst-settling loop stops at its cap and reports itself unsettled") {
    // every re-measure demotes its query, revealing a new unadjudicated worst
    def rows(n: Int) = (1 to n).map(i => Row(s"q$i", 1.0, 10.0 - i * 0.1))
    val demote: String => (Double, Double) = _ => (1.0, 0.2)
    val capped = BenchScale.adjudicate(rows(7), Bound, demote)
    assert(!capped.settled && capped.extra == BenchScale.WorstRequeryCap)
    assert(capped.requeried.keys.toSeq == (1 to 5).map(i => s"q$i"))
    val settled = BenchScale.adjudicate(rows(3), Bound, demote)
    assert(settled.settled && settled.extra == 3)
  }
}
