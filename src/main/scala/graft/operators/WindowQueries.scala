package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2 Part B "Window functions").
  *
  * Every window spec orders by a key made total with explicit tiebreakers
  * (orderkey / linenumber) so running frames are deterministic across both
  * engines and across shuffles. At scale each query is a single shuffle on
  * the partition key followed by a partition-local sort — no global sort in
  * the window itself.
  */
object WindowQueries extends QueryModule {

  /** Ranking family + top-k per group (row_number filter ≤ 3). */
  def rankTopOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 4))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        col("rn"), col("rnk"), col("drnk"), col("quartile"), col("pct_rank"))
      .orderBy("o_custkey", "rn")
  }

  private val rankTopOrdersSql =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
      |  CAST(rn AS INT) AS rn, CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk,
      |  CAST(quartile AS INT) AS quartile, pct_rank
      |FROM (
      |  SELECT *,
      |    row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
      |    ntile(4) OVER w AS quartile, round(percent_rank() OVER w, 4) AS pct_rank
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
      |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Analytic family: lag / lead / first / last over customer order history. */
  def lagLeadOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        round(lag("o_totalprice", 1).over(w), 2).as("prev_price"),
        round(lead("o_totalprice", 1).over(w), 2).as("next_price"),
        round(first("o_totalprice").over(wFull), 2).as("first_price"),
        round(last("o_totalprice").over(wFull), 2).as("last_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val lagLeadOrdersSql =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
      |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
      |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
      |  round(first_value(o_totalprice) OVER w2, 2) AS first_price,
      |  round(last_value(o_totalprice) OVER w2, 2) AS last_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Frames: running sum (unbounded→current) and sliding 4-row average per
    * supplier, over recent lineitems.
    */
  def runningSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
          .as("running_qty"),
        round(avg("l_extendedprice").over(w.rowsBetween(-3, 0)), 4).as("sliding_avg_price"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  private val runningSupplierVolumeSql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty,
      |  round(avg(l_extendedprice) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS sliding_avg_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2000-01-01'
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  /** RANGE frame over a time interval: 90-day trailing spend per customer.
    * Range frames include peers (equal order dates) symmetrically in both
    * engines, so the result is deterministic even with date ties.
    */
  def rangeTrailingSpend(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_w")
    s.sql(s"""SELECT o_custkey, o_orderkey,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date,
        |  ${SharedExprs.sumCentsSql("o_totalprice", trailing90d)} AS trailing_90d_spend
        |FROM orders_w""".stripMargin)
      .orderBy("o_custkey", "o_orderkey")
  }

  private val trailing90d = """ OVER (PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW)""".stripMargin

  private val rangeTrailingSpendSql =
    s"""SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  ${SharedExprs.dSumCentsSql("o_totalprice", trailing90d)} AS trailing_90d_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Same top-3-per-customer as win_rank_top_orders, but through the native
    * TopKPerGroup operator (graft.plans): one shuffle on the group key, then
    * a k-bounded heap per group instead of a full per-partition sort —
    * O(n log k) and O(groups·k) memory at any scale.
    */
  def topkNative(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    graft.plans.GroupTopK(base, 3, Seq("o_custkey"), Seq(desc("price"), asc("o_orderkey")))
      .withColumnRenamed("gtk_rank", "rn")
      .orderBy("o_custkey", "rn")
  }

  private val topkNativeSql =
    """SELECT o_custkey, o_orderkey, price, CAST(rn AS INT) AS rn
      |FROM (
      |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Distribution analytics: cume_dist and nth_value over order history. */
  def cumeNth(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(cume_dist().over(w), 4).as("cd"),
        round(nth_value(col("o_totalprice"), 2).over(wFull), 2).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val cumeNthSql =
    """SELECT o_custkey, o_orderkey,
      |  round(cume_dist() OVER w, 4) AS cd,
      |  round(nth_value(o_totalprice, 2) OVER w2, 2) AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Time-series resample + gap fill: per-user hourly activity on a DENSE
    * hour grid (missing hours materialized via a sequence explode), counts
    * zero-filled and the last observed hourly average carried forward
    * (LOCF via last(ignoreNulls) over a running frame) — the standard
    * feature-engineering resample before sequence modeling. Scale shape:
    * grid generation is per-key and explodes to (span hours) rows, the
    * join back is keyed on (user, hour), and the fill is one per-key
    * window — no global materialized calendar, no cross-key anything.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id") < 8)
      .withColumn("hour", date_trunc("hour", col("ts")))
    val perHour = ev.groupBy("user_id", "hour")
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
    val grid = ev.groupBy("user_id")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val w = Window.partitionBy("user_id").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(perHour, Seq("user_id", "hour"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("filled_value", last("avg_value", ignoreNulls = true).over(w))
      .select(col("user_id"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"), col("avg_value"), col("filled_value"))
      .orderBy("user_id", "hour")
  }

  private val gapFillSql =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hour, value
      |  FROM events WHERE user_id < 8
      |), per_hour AS (
      |  SELECT user_id, hour, CAST(count(*) AS BIGINT) AS n,
      |    round(avg(value), 4) AS avg_value
      |  FROM ev GROUP BY 1, 2
      |), bounds AS (
      |  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM ev GROUP BY 1
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM bounds)
      |SELECT g.user_id, strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
      |  coalesce(n, 0) AS n, avg_value,
      |  last_value(avg_value IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM grid g LEFT JOIN per_hour p
      |  ON g.user_id = p.user_id AND g.hour = p.hour
      |ORDER BY 1, 2""".stripMargin

  /** Ordered-funnel analysis (view → click within 12 h → purchase within
    * 12 h): the sequential-pattern query behind every conversion
    * dashboard. Stage timestamps are chained conditional windows over the
    * user partition — `min(ts WHERE type = X AND ts in (prev, prev+12h])`
    * — so each user's funnel resolves in ONE user-keyed shuffle regardless
    * of event count, with no self-joins and no per-user collect. The 12 h
    * step bound keeps the fixture's stages non-degenerate (113/30/7 at
    * sf0.01). Output: users per deepest stage
    * reached + mean hours from view to purchase for full conversions.
    */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = Tables.events(s, dir)
      .select("user_id", "event_type", "ts")
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 12 HOURS"), col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click") &&
          col("ts") <= col("t_click") + expr("INTERVAL 12 HOURS"), col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
        max("t_purchase").as("t_purchase"))
    staged
      .withColumn("stage",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"),
        round(avg((expr("unix_micros(t_purchase)") - expr("unix_micros(t_view)"))
          .cast("double") / 3600e6), 4).as("avg_hours_to_purchase"))
      .orderBy("stage")
  }

  private val funnelStagesSql =
    """WITH v AS (
      |  SELECT user_id, event_type, ts,
      |    min(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_view
      |  FROM events
      |), c AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
      |      AND ts <= t_view + INTERVAL 12 HOUR THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_click
      |  FROM v
      |), p AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
      |      AND ts <= t_click + INTERVAL 12 HOUR THEN ts END)
      |    OVER (PARTITION BY user_id) AS t_purchase
      |  FROM c
      |), u AS (
      |  SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
      |    max(t_purchase) AS t_purchase
      |  FROM p GROUP BY 1
      |), staged AS (
      |  SELECT user_id, t_view, t_purchase,
      |    CASE WHEN t_purchase IS NOT NULL THEN 3
      |         WHEN t_click IS NOT NULL THEN 2
      |         WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS stage
      |  FROM u)
      |SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
      |  round(avg(CAST(epoch_us(t_purchase) - epoch_us(t_view) AS DOUBLE) / 3600e6), 4)
      |    AS avg_hours_to_purchase
      |FROM staged GROUP BY stage ORDER BY stage""".stripMargin

  /** Batch sessionization (gaps-and-islands): a new session starts when a
    * user's inter-event gap exceeds 30 minutes — the same 30-minute rule the
    * streaming sessionization queries apply incrementally, expressed as the
    * classic batch idiom (lag → new-session flag → running sum → rollup).
    * SessionizeSpec pins batch/stream parity on the session count. Scale
    * shape: everything is windows + aggregation over ONE user-keyed
    * shuffle; session numbering is per-user, so no global coordination.
    */
  def sessionizeGaps(s: SparkSession, dir: String): DataFrame =
    sessionizeEvents(Tables.events(s, dir))

  /** Core of [[sessionizeGaps]] over any (user_id, ts, value) frame —
    * separated so PropertySpec can drive it with generated event streams
    * against a Scala fold model, not just the fixture.
    */
  private[graft] def sessionizeEvents(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("sess_seq",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .groupBy("user_id", "sess_seq")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("total_value"))
      .orderBy("user_id", "sess_seq")
  }

  private val sessionizeGapsSql =
    """WITH g AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sess_seq
      |  FROM g)
      |SELECT user_id, sess_seq,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  round(sum(value), 4) AS total_value
      |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** EWMA smoothing (α = 0.5) of per-user daily event counts — the trend
    * feature behind activity scoring. The recurrence
    * `ewma_t = α·x_t + (1−α)·ewma_{t−1}` (seeded at x_1) is re-expressed as
    * one running sum: with α = ½ every weight is a power of two, so
    * `z_i = x_i · 2^(i−1)` (and 2·x_1 for the seed) is an EXACT integer-
    * valued double, the running sum is exact regardless of summation
    * order, and the final `· 2^(−t)` is an exact scaling — the query is
    * bit-identical across engines, not merely round-close. (A general α
    * would make z grow as (1−α)^(−i); with ≤31 days/user and counts ≤10³
    * the α = ½ terms stay ≤ 2^40, far under the 2^53 exact-double bound.)
    * Scale shape: one user-keyed shuffle; both windows share it.
    */
  def ewmaDaily(s: SparkSession, dir: String): DataFrame =
    ewmaOfEvents(Tables.events(s, dir))

  /** Core of [[ewmaDaily]] over any (user_id, ts) frame — separated so
    * PropertySpec can check the recurrence on generated series.
    */
  private[graft] def ewmaOfEvents(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    events
      // same one-exchange shape as win_anomaly_zscore: hash(user_id)
      // covers the (user_id, day) agg and the per-user windows
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("t", row_number().over(w))
      .withColumn("zv",
        col("n_events").cast("double") *
          pow(lit(2d), when(col("t") === 1, 1).otherwise(col("t") - 1)))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"),
        round(sum("zv").over(w.rowsBetween(Window.unboundedPreceding, 0)) *
          pow(lit(2d), -col("t")), 6).as("ewma"))
      .orderBy("user_id", "day")
  }

  private val ewmaDailySql =
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2
      |), rn AS (
      |  SELECT user_id, day, n_events,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS t
      |  FROM d
      |), z AS (
      |  SELECT *, CAST(n_events AS DOUBLE)
      |    * pow(2, CASE WHEN t = 1 THEN 1 ELSE t - 1 END) AS zv
      |  FROM rn)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
      |  round(sum(zv) OVER (PARTITION BY user_id ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * pow(2, -t), 6) AS ewma
      |FROM z ORDER BY user_id, day""".stripMargin

  /** Trailing z-score anomaly detection — the monitoring primitive behind
    * pipeline health alerts: each (user, day) activity count scored
    * against its own trailing-7-day mean/stddev, flagged at |z| > 2. The
    * flag compares the ROUNDED z (the float-ordering rule), and the frame
    * requires ≥3 prior-window rows and a nonzero spread before scoring —
    * otherwise z is NULL and the flag false, deterministically in both
    * engines. Scale shape: one user-keyed shuffle shared by every window;
    * per-row state is the O(7) row frame.
    */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    // hash(user_id) satisfies both the (user_id, day) aggregation and the
    // per-user windows — one exchange end to end (pinned in PlanSpec)
    Tables.events(s, dir)
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("n_frame", count(lit(1)).over(w))
      .withColumn("mean7", avg(col("n_events").cast("double")).over(w))
      .withColumn("sd7", stddev_samp(col("n_events").cast("double")).over(w))
      .withColumn("z",
        when(col("n_frame") >= 3 && col("sd7") > 0,
          round((col("n_events") - col("mean7")) / col("sd7"), 4)))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("n_frame"),
        round(col("mean7"), 4).as("mean7"),
        round(col("sd7"), 4).as("sd7"),
        col("z"),
        coalesce(abs(col("z")) > 2, lit(false)).as("is_anomaly"))
      .orderBy("user_id", "day")
  }

  private val anomalyZscoreSql =
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2
      |), scored AS (
      |  SELECT user_id, day, n_events,
      |    CAST(count(*) OVER w AS BIGINT) AS n_frame,
      |    avg(CAST(n_events AS DOUBLE)) OVER w AS mean7,
      |    stddev_samp(CAST(n_events AS DOUBLE)) OVER w AS sd7
      |  FROM d
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events, n_frame,
      |  round(mean7, 4) AS mean7, round(sd7, 4) AS sd7,
      |  CASE WHEN n_frame >= 3 AND sd7 > 0
      |    THEN round((n_events - mean7) / sd7, 4) END AS z,
      |  coalesce(abs(CASE WHEN n_frame >= 3 AND sd7 > 0
      |    THEN round((n_events - mean7) / sd7, 4) END) > 2, false) AS is_anomaly
      |FROM scored ORDER BY user_id, day""".stripMargin

  /** An exact AGGREGATE as a window function: trailing 10-shipment median
    * quantity per supplier — the robust (outlier-proof) trend feature the
    * sliding mean can't give. The frame is row-bounded, so per-row state
    * is O(10) regardless of history length; one supplier-keyed shuffle.
    * The median runs over integer-valued quantities so even-frame
    * midpoints are exact dyadics — a median of 2-dp prices differs
    * between engines at the last ulp of the interpolation and flips
    * rounding boundaries.
    */
  def medianTrailing(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rowsBetween(-9, 0)
    Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(expr("percentile(l_quantity, 0.5)").over(w), 2).as("trailing_median_qty"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  private val medianTrailingSql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  round(quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 2) AS trailing_median_qty
      |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  /** Windows OVER an aggregate — the share-of-total report every BI layer
    * generates: revenue per (status, priority) cell, each cell's share of
    * its status subtotal and of the grand total, and its rank within the
    * status. One hash aggregation shrinks the data to cell cardinality
    * FIRST; the windows then run over the tiny aggregate — at 100 TB the
    * window input is the report, not the fact table. Shares are computed
    * on integer cell counts (exact) and rounded revenue ratios.
    */
  def shareOfTotal(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum("o_totalprice").as("revenue"))
    val wStatus = Window.partitionBy("o_orderstatus")
    val wAll = Window.partitionBy()
    cells
      .withColumn("status_share",
        round(col("revenue") / sum("revenue").over(wStatus), 4))
      .withColumn("grand_share",
        round(col("revenue") / sum("revenue").over(wAll), 4))
      .withColumn("rank_in_status",
        rank().over(wStatus.orderBy(col("revenue").desc)))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n_orders"),
        round(col("revenue"), 2).as("revenue"),
        col("status_share"), col("grand_share"), col("rank_in_status"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  private val shareOfTotalSql =
    """WITH cells AS (
      |  SELECT o_orderstatus, o_orderpriority,
      |    CAST(count(*) AS BIGINT) AS n_orders, sum(o_totalprice) AS revenue
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderstatus, o_orderpriority, n_orders,
      |  round(revenue, 2) AS revenue,
      |  round(revenue / sum(revenue) OVER (PARTITION BY o_orderstatus), 4)
      |    AS status_share,
      |  round(revenue / sum(revenue) OVER (), 4) AS grand_share,
      |  CAST(rank() OVER (PARTITION BY o_orderstatus ORDER BY revenue DESC)
      |    AS INT) AS rank_in_status
      |FROM cells ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** Gaps-and-islands: each customer's longest run of CONSECUTIVE active
    * months (months with ≥1 order). The classic trick — a month index
    * minus the per-customer row_number is constant within a consecutive
    * run — turns streak detection into two grouped aggregations, no
    * iterative logic. Scale shape: everything is keyed by o_custkey (one
    * shuffle, then partition-local sorts); no month-level global state,
    * so the plan is identical when customers × months is 10⁹ rows.
    */
  def streaks(s: SparkSession, dir: String): DataFrame = {
    // distinct active months per customer, as a linear month index
    // (A repartition(o_custkey)-before-distinct variant was tried in the
    // r17 optimization round and measured SLOWER: it ships every raw row
    // before the map-side partial distinct can collapse repeat months —
    // the two-exchange shape moves fewer bytes. guide §2.3.)
    val months = Tables.orders(s, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .distinct()
    val w = Window.partitionBy("o_custkey").orderBy("mi")
    val runs = months
      .withColumn("grp", col("mi") - row_number().over(w))
      .groupBy("o_custkey", "grp")
      .agg(count(lit(1)).as("run_len"), min("mi").as("start_mi"))
    runs.groupBy("o_custkey")
      .agg(
        max("run_len").cast("int").as("longest_streak"),
        sum("run_len").cast("long").as("n_active_months"),
        // start month of the (first) longest run, rendered yyyy-MM:
        // min_by with a (len desc, start asc) composite key — the
        // negative-length trick makes one min_by pick max-len/min-start
        min_by(col("start_mi"), struct((-col("run_len")).as("nl"), col("start_mi"))).as("best_start"))
      .select(col("o_custkey"), col("longest_streak"), col("n_active_months"),
        concat_ws("-",
          floor((col("best_start") - 1) / 12).cast("int"),
          lpad(((col("best_start") - 1) % 12 + 1).cast("string"), 2, "0")).as("streak_start"))
      .orderBy("o_custkey")
  }

  private val streaksSql =
    """WITH months AS (
      |  SELECT DISTINCT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi
      |  FROM orders
      |), runs AS (
      |  SELECT o_custkey, count(*) AS run_len, min(mi) AS start_mi
      |  FROM (
      |    SELECT o_custkey, mi,
      |      mi - row_number() OVER (PARTITION BY o_custkey ORDER BY mi) AS grp
      |    FROM months)
      |  GROUP BY o_custkey, grp
      |), best AS (
      |  SELECT o_custkey, run_len, start_mi,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY run_len DESC, start_mi ASC) AS rn,
      |    sum(run_len) OVER (PARTITION BY o_custkey) AS n_active
      |  FROM runs)
      |SELECT o_custkey, CAST(run_len AS INT) AS longest_streak,
      |  CAST(n_active AS BIGINT) AS n_active_months,
      |  concat(CAST(CAST(floor((start_mi - 1) / 12) AS INT) AS VARCHAR), '-',
      |         lpad(CAST((start_mi - 1) % 12 + 1 AS VARCHAR), 2, '0')) AS streak_start
      |FROM best WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences:
    * lag(event_type) within (user, time)-ordered streams, then transition
    * counts and row-normalized probabilities — the behavioral model behind
    * next-event prediction and bot detection. Scale shape: one user-keyed
    * shuffle+sort for the lag (the same exchange every per-user window in
    * this module rides), then a hash-agg onto a (|types|²)-bounded matrix
    * — the probability normalization is a window over that tiny frame,
    * not over the event log. The order key is (ts, event_id), total, so
    * lag is deterministic under same-µs ties.
    */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"))
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("transitions"))
    val wp = Window.partitionBy("prev_type")
    trans
      .withColumn("prob",
        round(col("transitions").cast("double") / sum("transitions").over(wp), 4))
      .orderBy("prev_type", "next_type")
  }

  private val markovTransitionsSql =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events
      |), tr AS (
      |  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS transitions
      |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, transitions,
      |  round(CAST(transitions AS DOUBLE)
      |    / CAST(sum(transitions) OVER (PARTITION BY prev_type) AS DOUBLE), 4) AS prob
      |FROM tr ORDER BY prev_type, next_type""".stripMargin

  /** Conversion attribution: each purchase is credited to the LAST
    * non-purchase touch strictly before it and to the FIRST touch of the
    * user's history (last-touch / first-touch, the two standard marketing
    * attribution rules), then credit totals per channel. Scale shape:
    * both assignments ride ONE user-keyed sort (running last_value over
    * an unbounded-preceding frame + first_value over the same), and the
    * rollup is a hash-agg onto a |types|-bounded frame. No self-join of
    * the event log against itself — the naive formulation — ever runs.
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val wPrev = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(s, dir)
      .withColumn("touch", when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("last_touch", last("touch", ignoreNulls = true).over(wPrev))
      .withColumn("first_touch", first("event_type").over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.filter(col("event_type") === "purchase" && col("last_touch").isNotNull)
      .groupBy(col("last_touch").as("channel"))
      .agg(count(lit(1)).as("last_touch_conversions"),
        round(sum("value"), 4).as("last_touch_value"),
        sum(when(col("first_touch") === col("last_touch"), 1L).otherwise(0L))
          .as("also_first_touch"))
      .orderBy("channel")
  }

  private val attributionSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
      |    first_value(event_type)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch
      |  FROM events)
      |SELECT last_touch AS channel,
      |  CAST(count(*) AS BIGINT) AS last_touch_conversions,
      |  round(sum(value), 4) AS last_touch_value,
      |  CAST(sum(CASE WHEN first_touch = last_touch THEN 1 ELSE 0 END) AS BIGINT)
      |    AS also_first_touch
      |FROM ev WHERE event_type = 'purchase' AND last_touch IS NOT NULL
      |GROUP BY 1 ORDER BY channel""".stripMargin

  /** Trailing 7-day correlation between daily purchase and click volumes
    * — the co-movement monitor behind "did these two metrics decouple".
    * Computed from the closed-form sums corr = (nΣxy − ΣxΣy) /
    * √(nΣx²−(Σx)²)√(nΣy²−(Σy)²) where x, y are integer daily counts: every
    * windowed sum is EXACT integer arithmetic, so both engines agree
    * bit-for-bit before the one final division (no two-pass-vs-one-pass
    * variance drift, and the zero-variance case is an explicit NULL, not
    * an engine-specific NaN). Scale shape: the event log collapses to a
    * days-bounded daily frame FIRST (one hash-agg), and only that tiny
    * frame flows through the global-order window — the unpartitioned sort
    * is over days, never events.
    */
  def rollingCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nc"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("np").over(w))
      .withColumn("sy", sum("nc").over(w))
      .withColumn("sxx", sum(col("np") * col("np")).over(w))
      .withColumn("syy", sum(col("nc") * col("nc")).over(w))
      .withColumn("sxy", sum(col("np") * col("nc")).over(w))
      .filter(col("n") === 7)
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("den",
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
      .withColumn("corr7",
        when(col("den") === 0, lit(null)).otherwise(round(col("num") / col("den"), 4)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("np"), col("nc"), col("corr7"))
      .orderBy("day")
  }

  private val rollingCorrSql =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nc
      |  FROM events GROUP BY 1
      |), sums AS (
      |  SELECT day, np, nc,
      |    count(*) OVER w AS n,
      |    sum(np) OVER w AS sx, sum(nc) OVER w AS sy,
      |    sum(np * np) OVER w AS sxx, sum(nc * nc) OVER w AS syy,
      |    sum(np * nc) OVER w AS sxy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |), v AS (
      |  SELECT day, np, nc,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS den
      |  FROM sums WHERE n = 7)
      |SELECT strftime(day, '%Y-%m-%d') AS day, np, nc,
      |  CASE WHEN den = 0 THEN NULL ELSE round(num / den, 4) END AS corr7
      |FROM v ORDER BY day""".stripMargin

  /** Period-over-period report: weekly order revenue with the prior
    * week's value, absolute and percent change, and a direction flag —
    * the standard WoW reporting block. The event log collapses to a
    * weeks-bounded frame FIRST; the lag is one window over that tiny
    * frame (the same aggregate-first discipline as the rolling
    * correlation). Weeks are keyed by ISO year+week, ordered by the
    * week's min date so year boundaries sort correctly.
    */
  def periodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.orders(s, dir)
      .groupBy(expr("CAST(extract(YEAROFWEEK FROM o_orderdate) AS INT)").as("iso_year"),
        expr("CAST(extract(WEEK FROM o_orderdate) AS INT)").as("iso_week"))
      .agg(SharedExprs.sumCents("o_totalprice").as("revenue"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy("iso_year", "iso_week")
    weekly
      .withColumn("prev_revenue", lag("revenue", 1).over(w))
      .withColumn("wow_change",
        when(col("prev_revenue").isNotNull,
          round(col("revenue") - col("prev_revenue"), 2)))
      .withColumn("wow_pct",
        when(col("prev_revenue").isNotNull,
          round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100, 2)))
      .orderBy("iso_year", "iso_week")
  }

  private val periodOverPeriodSql =
    s"""WITH weekly AS (
      |  SELECT CAST(extract(ISOYEAR FROM o_orderdate) AS INT) AS iso_year,
      |    CAST(extract(WEEK FROM o_orderdate) AS INT) AS iso_week,
      |    ${SharedExprs.dSumCentsSql("o_totalprice")} AS revenue,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1, 2)
      |SELECT iso_year, iso_week, revenue, n_orders,
      |  lag(revenue) OVER w AS prev_revenue,
      |  CASE WHEN lag(revenue) OVER w IS NOT NULL
      |    THEN round(revenue - lag(revenue) OVER w, 2) END AS wow_change,
      |  CASE WHEN lag(revenue) OVER w IS NOT NULL
      |    THEN round((revenue - lag(revenue) OVER w) / lag(revenue) OVER w * 100, 2)
      |  END AS wow_pct
      |FROM weekly
      |WINDOW w AS (ORDER BY iso_year, iso_week)
      |ORDER BY iso_year, iso_week""".stripMargin

  /** Maximum drawdown per user over the event value series — the classic
    * peak-to-trough risk metric (largest drop from a running peak),
    * gaps-and-islands' financial cousin. One user-keyed sort carries both
    * the running peak and the drawdown; no accumulation arithmetic (max
    * and subtraction only), so doubles are engine-exact. The (ts,
    * event_id) tiebreak makes the running peak's frame total-ordered.
    */
  def drawdown(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("peak", max("value").over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(max(col("peak") - col("value")), 4).as("max_drawdown"))
      .orderBy("user_id")
  }

  private val drawdownSql =
    """WITH seq AS (
      |  SELECT user_id, value,
      |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  round(max(peak - value), 4) AS max_drawdown
      |FROM seq GROUP BY user_id ORDER BY user_id""".stripMargin

  /** CUSUM mean-shift changepoint over daily revenue: the day where the
    * cumulative deviation from the global mean is largest in magnitude —
    * the standard offline changepoint estimate for a single level shift.
    * Determinism is engineered, not hoped for: daily revenue collapses to
    * integer CENTS first, and the deviation is kept in the exactly-integer
    * form n·runsum − t·total (CUSUM_t scaled by n), so both engines
    * compare identical integers and the single division happens once at
    * output. Scale shape: aggregate-first — the order log collapses to a
    * days-bounded frame before the one global-order window (at extreme
    * totals the integer form would move to decimal; the plan is
    * unchanged).
    */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(expr("CAST(round(sum(o_totalprice) * 100) AS BIGINT)").as("rc"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val tot = daily.agg(sum("rc").as("total"), count(lit(1)).as("n"))
    daily
      .withColumn("t", row_number().over(Window.orderBy("day")))
      .withColumn("runsum", sum("rc").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("dev", col("n") * col("runsum") - col("t") * col("total"))
      .orderBy(abs(col("dev")).desc, col("day"))
      .limit(1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("change_day"),
        round(col("dev").cast("double") / (col("n") * 100.0), 2).as("cusum"),
        col("n").as("n_days"))
  }

  private val cusumChangepointSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rc
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(rc) AS BIGINT) AS total, count(*) AS n FROM daily
      |), dev AS (
      |  SELECT day,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    sum(rc) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum
      |  FROM daily)
      |SELECT strftime(day, '%Y-%m-%d') AS change_day,
      |  round(CAST(n * runsum - t * total AS DOUBLE) / (n * 100.0), 2) AS cusum,
      |  CAST(n AS BIGINT) AS n_days
      |FROM dev CROSS JOIN tot
      |ORDER BY abs(n * runsum - t * total) DESC, day LIMIT 1""".stripMargin

  /** Robust anomaly detection on daily revenue via median absolute
    * deviation — the outlier-immune complement of [[anomalyZscore]] (one
    * extreme day corrupts a mean/stddev gate but moves the median not at
    * all). Determinism is exact-integer end to end: daily revenue pins to
    * cents, and both the median and the MAD are DISCRETE order statistics
    * (element ceil(n/2) of the sorted frame — percentile_disc semantics,
    * which DuckDB's quantile_disc matches at q=0.5), so both engines
    * compare identical integers; the only doubles are one multiply for
    * the threshold and one divide for the reported score. Scale shape:
    * aggregate-first — the order log collapses to a days-bounded frame
    * (one keyed shuffle), and the two sorted-array order statistics run
    * over that bounded frame, never over raw orders.
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(expr("CAST(round(sum(o_totalprice) * 100) AS BIGINT)").as("rc"))
    val med = daily.agg(
      expr("element_at(sort_array(collect_list(rc)), CAST(ceil(count(*) / 2.0) AS INT))")
        .as("med"))
    val mad = daily.crossJoin(broadcast(med)).agg(
      expr("element_at(sort_array(collect_list(abs(rc - med))), CAST(ceil(count(*) / 2.0) AS INT))")
        .as("mad"),
      first("med").as("med"))
    daily.crossJoin(broadcast(mad))
      .filter(abs(col("rc") - col("med")).cast("double") > lit(4.4478) * col("mad"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("rc") / 100.0, 2).as("revenue"),
        round((col("rc") - col("med")).cast("double") / (lit(1.4826) * col("mad")), 2)
          .as("robust_z"))
      .orderBy("day")
  }

  private val anomalyMadSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rc
      |  FROM orders GROUP BY 1
      |), med AS (
      |  SELECT quantile_disc(rc, 0.5) AS med FROM daily
      |), mads AS (
      |  SELECT quantile_disc(abs(rc - med), 0.5) AS mad, any_value(med) AS med
      |  FROM daily CROSS JOIN med)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  round(rc / 100.0, 2) AS revenue,
      |  round(CAST(rc - med AS DOUBLE) / (1.4826 * mad), 2) AS robust_z
      |FROM daily CROSS JOIN mads
      |WHERE CAST(abs(rc - med) AS DOUBLE) > 4.4478 * mad
      |ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // SAX symbolization (Symbolic Aggregate approXimation) of 1995 daily
  // revenue: z-normalize the series, PAA-average into calendar-month
  // segments, quantize each segment against the N(0,1) quartile
  // breakpoints {−0.6745, 0, 0.6745} into a 4-letter alphabet — the
  // representation under time-series indexing/motif mining that turns a
  // numeric series into a short string. Scale shape: one corpus-sized
  // daily hash-agg, then everything walks the calendar-bounded month
  // frame. Determinism: daily revenue pins to exact per-row-rounded
  // cents, μ/σ and each PAA mean derive from exact integer (n, Σ, Σ²)
  // sums, breakpoints are shared literals, and the CASE comparisons see
  // identical doubles on both engines.
  // ------------------------------------------------------------------
  def saxSymbols(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .filter(year(col("o_orderdate").cast("date")) === 1995)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rc"))
    val tot = daily.agg(count(lit(1)).as("n"), sum("rc").as("ssum"),
      sum(expr("CAST(rc AS DECIMAL(38,0)) * CAST(rc AS DECIMAL(38,0))")).as("ssq"))
    daily
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_days"), sum("rc").as("sm"))
      .crossJoin(broadcast(tot))
      .withColumn("mu", expr("CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("sd", expr(
        "sqrt((CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE)" +
          " - CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"))
      .withColumn("paa_z", expr(
        "(CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE) - mu) / sd"))
      .select(col("month"), col("n_days"), round(col("paa_z"), 4).as("paa_z"),
        expr("CASE WHEN paa_z < -0.6745 THEN 'a' WHEN paa_z < 0.0 THEN 'b'" +
          " WHEN paa_z < 0.6745 THEN 'c' ELSE 'd' END").as("symbol"))
      .orderBy("month")
  }

  private val saxSymbolsSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rc
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rc) AS BIGINT) AS ssum,
      |    sum(CAST(rc AS HUGEINT) * CAST(rc AS HUGEINT)) AS ssq
      |  FROM daily),
      |months AS (
      |  SELECT strftime(day, '%Y-%m') AS month,
      |    CAST(count(*) AS BIGINT) AS n_days, CAST(sum(rc) AS BIGINT) AS sm
      |  FROM daily GROUP BY 1),
      |z AS (
      |  SELECT month, n_days,
      |    (CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE)
      |      - CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE)
      |        - CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS paa_z
      |  FROM months CROSS JOIN tot)
      |SELECT month, n_days, round(paa_z, 4) AS paa_z,
      |  CASE WHEN paa_z < -0.6745 THEN 'a' WHEN paa_z < 0.0 THEN 'b'
      |    WHEN paa_z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
      |FROM z ORDER BY month""".stripMargin

  // ------------------------------------------------------------------
  // Motif discovery (matrix-profile shape): the 5 most similar
  // non-overlapping 7-observation windows of 1995 daily revenue under
  // z-normalized Euclidean distance — "which two weeks behaved most
  // alike?", the primitive under matrix-profile motif/discord mining.
  // The exact-pair formulation is calendar-bounded: windows scale with
  // the time span (≤359 for a year), so the pair join is ~65 k rows
  // REGARDLESS of corpus size — the same frame-not-corpus invariant as
  // the statistics suite. Determinism: the z-normalized deviation has
  // the exact integer form zᵢ = (7xᵢ − S)/√(7Σx² − S²); each pair
  // distance folds those in index order through one shared double
  // chain, then quantizes to 1e-6 before the (d6, day_a, day_b) rank.
  // Zero-variance windows are filtered by the exact integer predicate.
  // ------------------------------------------------------------------
  def motifPairs(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .filter(year(col("o_orderdate").cast("date")) === 1995)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rc"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    val wins = daily
      .withColumn("t", row_number().over(Window.orderBy("day")))
      .withColumn("arr", collect_list("rc").over(w))
      .withColumn("sw", sum("rc").over(w))
      .withColumn("ssw", sum(expr("CAST(rc AS DECIMAL(38,0)) * CAST(rc AS DECIMAL(38,0))")).over(w))
      .filter(col("t") >= 7)
      .withColumn("r2", expr("CAST(7 * ssw - CAST(sw AS DECIMAL(38,0)) * CAST(sw AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
      .filter(col("r2") > 0)
      .withColumn("ra", expr("sqrt(CAST(r2 AS DOUBLE))"))
      .select(col("day"), col("t"), col("arr"), col("sw"), col("ra"))
    val a = wins.select(col("day").as("day_a"), col("t").as("ta"),
      col("arr").as("aa"), col("sw").as("sa"), col("ra").as("raa"))
    val b = wins.select(col("day").as("day_b"), col("t").as("tb"),
      col("arr").as("ab"), col("sw").as("sb"), col("ra").as("rab"))
    // non-overlap by ROW distance, not calendar distance: the windows are
    // 7-ROW trailing frames, so two windows share observations exactly when
    // their row indices are < 7 apart — a calendar gap of 7 days would let
    // them share rows whenever the daily series has holes
    a.join(b, expr("tb - ta >= 7"))
      .withColumn("dist", expr(
        "aggregate(zip_with(aa, ab, (x, y) ->" +
          " (CAST(7 * x - sa AS DOUBLE) / raa - CAST(7 * y - sb AS DOUBLE) / rab)" +
          " * (CAST(7 * x - sa AS DOUBLE) / raa - CAST(7 * y - sb AS DOUBLE) / rab))," +
          " 0D, (acc, v) -> acc + v)"))
      .withColumn("d6", expr("CAST(round(dist * 1e6) AS BIGINT)"))
      .orderBy(col("d6"), col("day_a"), col("day_b"))
      .limit(5)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("d6"), col("day_a"), col("day_b"))))
      .select(col("rank"),
        date_format(col("day_a"), "yyyy-MM-dd").as("day_a"),
        date_format(col("day_b"), "yyyy-MM-dd").as("day_b"),
        round(expr("CAST(d6 AS DOUBLE) / 1e6"), 4).as("z_distance"))
  }

  private val motifPairsSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rc
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1),
      |wins0 AS (
      |  SELECT day,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    list(rc) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr,
      |    CAST(sum(rc) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sw,
      |    sum(CAST(rc AS HUGEINT) * CAST(rc AS HUGEINT))
      |      OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ssw
      |  FROM daily),
      |wins AS (
      |  SELECT day, t, arr, sw,
      |    sqrt(CAST(7 * ssw - CAST(sw AS HUGEINT) * CAST(sw AS HUGEINT) AS DOUBLE)) AS ra
      |  FROM wins0
      |  WHERE t >= 7 AND 7 * ssw - CAST(sw AS HUGEINT) * CAST(sw AS HUGEINT) > 0),
      |pairs AS (
      |  SELECT a.day AS day_a, b.day AS day_b,
      |    list_sum(list_transform(list_zip(a.arr, b.arr), p ->
      |      (CAST(7 * p[1] - a.sw AS DOUBLE) / a.ra - CAST(7 * p[2] - b.sw AS DOUBLE) / b.ra)
      |      * (CAST(7 * p[1] - a.sw AS DOUBLE) / a.ra - CAST(7 * p[2] - b.sw AS DOUBLE) / b.ra)))
      |      AS dist
      |  FROM wins a JOIN wins b ON b.t - a.t >= 7),
      |q AS (
      |  SELECT day_a, day_b, CAST(round(dist * 1e6) AS BIGINT) AS d6
      |  FROM pairs),
      |top AS (
      |  SELECT day_a, day_b, d6,
      |    CAST(row_number() OVER (ORDER BY d6, day_a, day_b) AS INTEGER) AS rank
      |  FROM q)
      |SELECT rank, strftime(day_a, '%Y-%m-%d') AS day_a,
      |  strftime(day_b, '%Y-%m-%d') AS day_b,
      |  round(CAST(d6 AS DOUBLE) / 1e6, 4) AS z_distance
      |FROM top WHERE rank <= 5 ORDER BY rank""".stripMargin

  /** ntile quartile segmentation: customers ranked by exact lifetime
    * spend (cents) and cut into 4 equal-count tiles — the standard
    * customer-value banding (ntile hands earlier tiles the remainder
    * rows, identically in Spark and DuckDB). Per-tile census over exact
    * integers. Ties in spend break on the customer key, so the tile
    * assignment is fully deterministic. Scale shape: one customer-keyed
    * aggregate collapses orders to the customer frame; the global ntile
    * sorts that collapsed frame (customers, not orders) — at true scale
    * the same cut is computed from quantile boundaries instead of one
    * sort, which `misc_histogram_equi_depth` already demonstrates; this
    * row pins the window-function SEMANTICS.
    */
  def ntileQuartiles(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    spend
      .withColumn("tile", ntile(4).over(
        Window.orderBy(col("cents").desc, col("o_custkey").asc)))
      .groupBy("tile")
      .agg(count(lit(1)).as("n_customers"),
        round(min("cents") / 100.0, 2).as("min_spend"),
        round(max("cents") / 100.0, 2).as("max_spend"),
        round(sum("cents") / 100.0, 2).as("tile_spend"))
      .orderBy("tile")
  }

  private val ntileQuartilesSql =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1
      |), tiled AS (
      |  SELECT cents,
      |    CAST(ntile(4) OVER (ORDER BY cents DESC, o_custkey ASC) AS INT) AS tile
      |  FROM spend)
      |SELECT tile, CAST(count(*) AS BIGINT) AS n_customers,
      |  round(min(cents) / 100.0, 2) AS min_spend,
      |  round(max(cents) / 100.0, 2) AS max_spend,
      |  round(sum(cents) / 100.0, 2) AS tile_spend
      |FROM tiled GROUP BY 1 ORDER BY 1""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("win_ntile_quartiles", ntileQuartiles, Some(ntileQuartilesSql)),
    QueryDef("win_sax_symbols", saxSymbols, Some(saxSymbolsSql)),
    QueryDef("win_motif_pairs", motifPairs, Some(motifPairsSql)),
    QueryDef("win_drawdown", drawdown, Some(drawdownSql)),
    QueryDef("win_anomaly_mad", anomalyMad, Some(anomalyMadSql)),
    QueryDef("win_cusum_changepoint", cusumChangepoint, Some(cusumChangepointSql)),
    QueryDef("win_period_over_period", periodOverPeriod, Some(periodOverPeriodSql)),
    QueryDef("win_rolling_corr", rollingCorr, Some(rollingCorrSql)),
    QueryDef("win_markov_transitions", markovTransitions, Some(markovTransitionsSql)),
    QueryDef("win_attribution", attribution, Some(attributionSql)),
    QueryDef("win_share_of_total", shareOfTotal, Some(shareOfTotalSql)),
    QueryDef("win_median_trailing", medianTrailing, Some(medianTrailingSql)),
    QueryDef("win_anomaly_zscore", anomalyZscore, Some(anomalyZscoreSql)),
    QueryDef("win_sessionize_gaps", sessionizeGaps, Some(sessionizeGapsSql)),
    QueryDef("win_ewma_daily", ewmaDaily, Some(ewmaDailySql)),
    QueryDef("win_gap_fill_locf", gapFill, Some(gapFillSql)),
    QueryDef("win_funnel_stages", funnelStages, Some(funnelStagesSql)),
    QueryDef("win_cume_nth", cumeNth, Some(cumeNthSql)),
    QueryDef("win_topk_native", topkNative, Some(topkNativeSql)),
    QueryDef("win_rank_top_orders", rankTopOrders, Some(rankTopOrdersSql)),
    QueryDef("win_lag_lead_orders", lagLeadOrders, Some(lagLeadOrdersSql)),
    QueryDef("win_running_supplier_volume", runningSupplierVolume, Some(runningSupplierVolumeSql)),
    QueryDef("win_range_trailing_spend", rangeTrailingSpend, Some(rangeTrailingSpendSql)),
    QueryDef("win_streaks", streaks, Some(streaksSql))
  )
}
