package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global-order primitives: exact global row numbers and
  * running sums WITHOUT a single-partition window.
  *
  * `Window.orderBy(...)` with no partition spec moves the whole input to
  * one task — the classic "works on the fixture, dies at 100 TB" shape.
  * Both helpers here compute the IDENTICAL values with the classic
  * two-phase prefix pattern: range-repartition on the order key (range
  * partition i holds keys ≤ every key of partition i+1, so partition id
  * IS the global order of partitions), a per-partition window for the
  * local rank/cumsum, and a broadcast of the |partitions|-row exclusive
  * prefix of per-partition totals. The only unpartitioned window left is
  * the prefix over that collapsed per-partition aggregate — bounded by
  * `spark.sql.shuffle.partitions`, never by the data.
  *
  * The order columns must form a TOTAL order (add a unique tiebreaker);
  * otherwise rows equal on the key could straddle a partition boundary
  * and the local ranks would not compose into a global one. `input` is
  * the base relation `df` derives from (the [[Materialize.gated]] input).
  */
object DistributedOrder {
  private val Pid = "__do_pid"
  private val Loc = "__do_loc"
  private val Off = "__do_off"

  private def withOffsets(input: DataFrame, df: DataFrame,
      local: org.apache.spark.sql.expressions.WindowSpec => Column,
      total: Column, out: String, order: Seq[Column]): DataFrame = {
    // The ranged frame is MATERIALIZED (Materialize.gated) before either
    // consumer branch derives from it (ADVICE r11): both the row branch
    // and the offsets branch must see the SAME partition assignment, and
    // without materialization that correctness hangs on physical exchange
    // reuse — if reuse is disabled or a stage is re-planned, the two
    // branches get two RangePartitioners whose sampled boundaries can
    // differ, and rows near a boundary land in a different pid than the
    // one their offset row was computed under (wrong global ranks). Either
    // representation carries the pid as a column; below the gate the
    // checkpoint pins one RDD, and PlanSpec asserts both consumers scan
    // the same RDD id.
    val ranged = Materialize.gated(input, df.repartitionByRange(order: _*)
      .withColumn(Pid, spark_partition_id()), "dorder")
    val wp = Window.partitionBy(Pid).orderBy(order: _*)
    val localized = ranged.withColumn(Loc, local(wp))
    // exclusive prefix of per-partition totals: |shuffle partitions| rows
    val offsets = localized.groupBy(Pid).agg(total.as("__do_tot"))
      .withColumn(Off, coalesce(sum("__do_tot").over(
        Window.orderBy(Pid).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(Pid), col(Off))
    localized.join(broadcast(offsets), Pid)
      .withColumn(out, col(Off) + col(Loc))
      .drop(Pid, Loc, Off)
  }

  /** Adds `out` = the 1-based global row number under `order` (bigint). */
  def globalRowNumber(input: DataFrame, df: DataFrame, out: String,
      order: Column*): DataFrame =
    withOffsets(input, df, wp => row_number().over(wp).cast("long"),
      count(lit(1)), out, order)

  /** Adds `out` = the inclusive global running sum of `value` under
    * `order` (bigint).
    */
  def globalCumsum(input: DataFrame, df: DataFrame, value: Column, out: String,
      order: Column*): DataFrame =
    withOffsets(input, df, wp => sum(value).over(wp), sum(value), out, order)
}
