package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{expr, round, sum}

/** Cross-engine parity expressions shared by the operator modules. Each
  * Spark expression has a DuckDB twin whose value is bit-identical on the
  * fixture; a change to one side (money-pinning scale, tokenizer rule)
  * must land in BOTH twins, which is why they live in one place.
  */
object SharedExprs {
  /** SQL text, valid in both engines, for the integer micros of a per-row
    * double expression: a sum of it is exact under any aggregation order.
    */
  def microsSql(e: String): String = s"CAST(round(($e) * 1e6) AS BIGINT)"

  /** Integer-micros line revenue. */
  def revMicros: Column = expr(microsSql("l_extendedprice * (1 - l_discount)"))

  /** Cents rounding in the oracle's form, for a double derived from an
    * exact integer sum (`sum(micros) / 1e6`). DuckDB's round(DOUBLE, 2) is
    * `std::round(x * 100) / 100` on the binary value; Spark's round(x, 2)
    * rounds the shortest decimal string half-up, so the two part on ties
    * such as 1.005 (binary 1.00499…): DuckDB gives 1.0, Spark 1.01. At
    * scale 0 the decimal string is half-up exactly where std::round is, so
    * `round(x * 100) / 100` computes the oracle's value.
    */
  def roundCents(x: Column): Column = roundDigits(x, 2)

  /** Cents of the exact integer-micros sum of the per-row double `e`: the
    * oracle's [[dSumCentsSql]] in Spark.
    */
  def sumCents(e: String): Column = roundCents(sum(expr(microsSql(e))) / 1e6)

  /** [[sumCents]] as Spark SQL text. */
  def sumCentsSql(e: String): String = s"round(sum(${microsSql(e)}) / 1e6 * 100) / 100"

  /** The DuckDB twin of [[sumCents]]. */
  def dSumCentsSql(e: String): String = s"round(sum(${microsSql(e)}) / 1e6, 2)"

  /** DuckDB's round(DOUBLE, d), `std::round(x * 10^d) / 10^d`, in Spark;
    * see [[roundCents]].
    */
  def roundDigits(x: Column, d: Int): Column = {
    val scale = math.pow(10, d)
    round(x * scale) / scale
  }

  /** Whitespace tokenizer (Spark side): codegen'd split + empty-drop. */
  val toks = "array_remove(split(text, ' ', -1), '')"

  /** The DuckDB twin of [[toks]]: value-identical list filter. */
  val dToks = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** In-row run-length counting (optimization r17, guide §2.4): over a
    * SORTED array column, [[runLengthBounds]] yields the 1-based start
    * index of every distinct-value run and [[runLengthCounts]] turns those
    * boundaries into (elem, cnt BIGINT) structs — together they compute
    * exactly what explode + groupBy(row_keys, elem).count computes, but as
    * intra-row codegen'd HOF work with NO corpus-sized exchange. Used by
    * the bm25 postings build and the per-doc term/bigram/bucket counters.
    */
  def runLengthBounds(srtCol: String): String =
    s"filter(sequence(1, size($srtCol)), " +
      s"i -> i = 1 OR element_at($srtCol, i) <> element_at($srtCol, i - 1))"

  def runLengthCounts(srtCol: String, bsCol: String,
      elemName: String, cntName: String): String =
    s"transform($bsCol, (b, j) -> struct(element_at($srtCol, b) AS $elemName, " +
      s"CAST(IF(j + 2 > size($bsCol), size($srtCol) + 1, " +
      s"element_at($bsCol, j + 2)) - b AS BIGINT) AS $cntName))"
}
