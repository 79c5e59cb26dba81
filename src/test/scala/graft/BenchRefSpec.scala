package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the committed bench-reference artifacts (VERDICT r14
  * "what's missing" #3): the cumulative-drift channel is only as good as
  * the origin file's coverage, so every query priced in the current
  * reference must carry an origin entry — a refresh appends first-seen
  * origins for new queries (Bench.scala, `originAppended`) and this spec
  * fails if that append is ever skipped or the origin file regresses to a
  * subset.
  */
class BenchRefSpec extends AnyFunSuite {

  private def queriesOf(path: String): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    assert(java.nio.file.Files.exists(p), s"$path missing")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    val q = root.path("queries")
    assert(q.isObject, s"$path has no queries object")
    val it = q.fields()
    val out = scala.collection.mutable.Map[String, Double]()
    while (it.hasNext) { val e = it.next(); out(e.getKey) = e.getValue.asDouble() }
    out.toMap
  }

  test("bench_ref_origin covers every query in bench_ref (drift channel not blind)") {
    val ref = queriesOf("bench_ref.json")
    val origin = queriesOf("bench_ref_origin.json")
    val blind = ref.keySet -- origin.keySet
    assert(blind.isEmpty,
      s"queries in bench_ref.json with no origin entry (cumulative drift blind): " +
        blind.toSeq.sorted.mkString(", "))
  }

  test("origin entries are positive and parseable by Bench's regex reader") {
    // Bench appends first-seen origins by splicing them into the text of
    // the queries object, found with a flat regex: a nested object or
    // non-numeric value inside it would make the splice land mid-object.
    // Pin the shape the splice assumes.
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_ref_origin.json")), "UTF-8")
    val qObj = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    val parsed = """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(qObj).size
    val jackson = queriesOf("bench_ref_origin.json")
    assert(parsed == jackson.size,
      s"regex reader sees $parsed entries, Jackson sees ${jackson.size}")
    assert(jackson.values.forall(_ > 0), "non-positive origin figure")
  }
}
