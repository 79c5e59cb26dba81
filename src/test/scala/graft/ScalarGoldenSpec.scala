package graft

import org.apache.spark.sql.functions._

/** Golden values for functions with no portable DuckDB twin — pinned here
  * so behavior changes are caught (SURVEY.md §2 scalar families remainder).
  */
class ScalarGoldenSpec extends SparkSuite {
  import org.apache.spark.sql.Row

  private def one(exprStr: String): Any =
    spark.sql(s"SELECT $exprStr").head().get(0)

  test("months_between (fractional, 31-day convention)") {
    assert(one("months_between(TIMESTAMP '1997-02-28 10:30:00', TIMESTAMP '1996-10-30 00:00:00')")
      == 3.94959677)
    assert(one("months_between(DATE '2024-03-31', DATE '2024-02-29')") == 1.0)
  }

  test("bround: ROUND_HALF_EVEN vs round's HALF_UP") {
    assert(one("CAST(bround(2.5) AS DOUBLE)") == 2.0)
    assert(one("CAST(bround(3.5) AS DOUBLE)") == 4.0)
    assert(one("CAST(round(2.5) AS DOUBLE)") == 3.0)
    assert(one("CAST(bround(2.675, 2) AS DOUBLE)") == 2.68) // decimal literal: half → even last digit
  }

  test("roundCents: the oracle's std::round(x * 100) / 100 on ties, not round(x, 2)") {
    import org.apache.spark.sql.functions.lit
    def cents(x: Double): Double =
      spark.range(1).select(operators.SharedExprs.roundCents(lit(x))).head().getDouble(0)
    // x * 100 lands below the tie (100.4999…, 28.4999…): round(x, 2)
    // rounds the decimal string "1.005" half-up, the oracle the binary value
    assert(one("round(CAST(1.005 AS DOUBLE), 2)") == 1.01)
    assert(cents(1.005) == 1.0)
    assert(cents(0.285) == 0.28)
    // …and above it (834.5000…01): both round up
    assert(cents(8.345) == 8.35)
    // exact binary ties round half away from zero, like std::round
    assert(cents(0.125) == 0.13)
    assert(cents(-0.125) == -0.13)
    assert(cents(5785924.195) == 5785924.2)
    assert(cents(1234.5) == 1234.5)
  }

  test("roundDigits(x, 4): the oracle's round(x, 4) on ties, not Spark's") {
    import org.apache.spark.sql.functions.lit
    def four(x: Double): Double =
      spark.range(1).select(operators.SharedExprs.roundDigits(lit(x), 4)).head().getDouble(0)
    // 2.00065 * 1e4 is 20006.4999…: DuckDB 1.0.0 gives 2.0006, round(x, 4) 2.0007
    assert(one("round(CAST(2.00065 AS DOUBLE), 4)") == 2.0007)
    assert(four(2.00065) == 2.0006)
    // exact binary ties after scaling round half away from zero, as in DuckDB
    assert(four(0.12345) == 0.1235)
    assert(four(-0.00125) == -0.0013)
  }

  test("json_tuple and schema_of_json") {
    val r = spark.sql(
      """SELECT json_tuple('{"a": 1, "b": "x"}', 'a', 'b')""").head()
    assert(r == Row("1", "x"))
    assert(one("""schema_of_json('{"k": 87}')""") == "STRUCT<k: BIGINT>")
  }

  test("explode over a map") {
    import spark.implicits._
    val got = spark.sql(
      "SELECT explode(map('a', 1, 'b', 2))").as[(String, Int)].collect().toSet
    assert(got == Set(("a", 1), ("b", 2)))
  }

  test("xxhash64 seed stability (dedup key contract)") {
    // minhash/LSH bucketing depends on these exact values staying stable
    assert(one("xxhash64('spark')") == -1960931134668248110L)
    assert(one("xxhash64(0, 'spark')") == one("xxhash64(0, 'spark')"))
  }

  test("approx_percentile stays within its accuracy contract") {
    import spark.implicits._
    val li = Tables.lineitem(spark, Sf)
    val Row(exact: Double, approx: Double) = li.select(
      expr("percentile(l_extendedprice, 0.5)"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").cast("double")).head()
    // rank error ≤ n/accuracy ⇒ value gap bounded by the local density;
    // assert the relative gap is small on this distribution
    assert(math.abs(exact - approx) / exact < 0.02, s"exact=$exact approx=$approx")
  }
}
