package graft.operators

import graft.{plans, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2 Part B "Joins").
  *
  * Scale discipline: dimension tables (`region`, `nation`, `supplier`,
  * `part`) are broadcast explicitly — at 100 TB the facts shuffle on their
  * join keys once and every dim join is map-side. `customer` is NOT
  * broadcast (it grows with SF); customer⋈orders is a shuffled join on the
  * key both sides already aggregate on. Non-equi joins are always anchored
  * on an equi key so they plan as hash joins with a residual range filter,
  * never as a cartesian product.
  */
object JoinQueries extends QueryModule {

  /** TPC-H Q5 shape: 6-way star join, revenue by nation within one region.
    * lineitem⋈orders⋈customer shuffle on their keys; supplier/nation/region
    * broadcast.
    */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  private val revenueByNationSql =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Left outer join keeping customers with zero orders (count = 0). */
  def ordersPerCustomer(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spend"))
      .orderBy("c_custkey")

  private val ordersPerCustomerSql =
    """SELECT c_custkey, c_mktsegment, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
      |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin

  /** Right outer join (same relation, opposite build side). */
  def rightJoinSegments(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"), "right")
      .groupBy("c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy("c_mktsegment")

  private val rightJoinSegmentsSql =
    """SELECT c_mktsegment, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
      |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
      |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Full outer join: parts ever shipped vs. large parts; classify matches. */
  def fullOuterParts(s: SparkSession, dir: String): DataFrame = {
    val shipped = Tables.lineitem(s, dir).select(col("l_partkey")).distinct()
    val large = Tables.part(s, dir).filter(col("p_size") > 25).select(col("p_partkey"))
    shipped.join(large, col("l_partkey") === col("p_partkey"), "full")
      .select(
        when(col("l_partkey").isNotNull && col("p_partkey").isNotNull, "both")
          .when(col("l_partkey").isNotNull, "shipped_only")
          .otherwise("large_only").as("side"))
      .groupBy("side").agg(count(lit(1)).as("n"))
      .orderBy("side")
  }

  private val fullOuterPartsSql =
    """SELECT side, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NOT NULL THEN 'both'
      |              WHEN l_partkey IS NOT NULL THEN 'shipped_only'
      |              ELSE 'large_only' END AS side
      |  FROM (SELECT DISTINCT l_partkey FROM lineitem) s
      |  FULL JOIN (SELECT p_partkey FROM part WHERE p_size > 25) l
      |    ON l_partkey = p_partkey
      |) GROUP BY side ORDER BY side""".stripMargin

  /** Left-semi join = EXISTS: customers having at least one urgent order. */
  def semiJoinUrgent(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")

  private val semiJoinUrgentSql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
      |FROM customer c WHERE EXISTS (
      |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Left-anti join = NOT EXISTS: customers with no orders in 1995.
    * Bounded to one order year so the declared vector pins real rows — the
    * fixture gives every customer at least one order overall, so the
    * unfiltered anti-join hashed nothing but emptiness (VERDICT r13 #2).
    */
  def antiJoinNoOrders(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  private val antiJoinNoOrdersSql =
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-01-01')
      |ORDER BY c_custkey""".stripMargin

  /** Cross join of the two tiny dims (125·SF rows — bounded). */
  def crossNationRegion(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).crossJoin(Tables.region(s, dir))
      .select(col("n_name"), col("r_name"),
        (col("n_regionkey") === col("r_regionkey")).as("home"))
      .orderBy("n_name", "r_name")

  private val crossNationRegionSql =
    """SELECT n_name, r_name, (n_regionkey = r_regionkey) AS home
      |FROM nation CROSS JOIN region ORDER BY n_name, r_name""".stripMargin

  /** Equi + range join: ships within 90 days of order date. Plans as a hash
    * join on the order key with the range as a residual filter — no nested
    * loop, scales linearly.
    */
  def rangeJoinShipLag(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    li.join(o,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_quick_ships"),
        round(avg(datediff(col("l_shipdate"), col("o_orderdate"))), 4).as("avg_lag_days"))
      .orderBy("o_orderpriority")
  }

  private val rangeJoinShipLagSql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_quick_ships,
      |  round(avg(CAST(datediff('day', o_orderdate, l_shipdate) AS DOUBLE)), 4) AS avg_lag_days
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  AND l_shipdate >= o_orderdate
      |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Pure theta (band) join: suppliers × one customer segment on an acctbal
    * band. Broadcast nested-loop with the tiny supplier side broadcast.
    */
  def thetaBandAcctbal(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val sup = Tables.supplier(s, dir)
    c.join(broadcast(sup),
        col("c_acctbal") >= col("s_acctbal") - 100 && col("c_acctbal") <= col("s_acctbal") + 100)
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_near_customers"))
      .orderBy("s_suppkey")
  }

  private val thetaBandAcctbalSql =
    """SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_near_customers
      |FROM customer JOIN supplier
      |  ON c_acctbal >= s_acctbal - 100 AND c_acctbal <= s_acctbal + 100
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin

  /** Binned band join: the SAME band-join result as [[thetaBandAcctbal]],
    * rewritten as an EQUI join on interval bins — the 100 TB path. A pure
    * theta join can only plan as (broadcast-)nested-loop, O(|L|·|R|) and
    * impossible once neither side broadcasts; binning with width = band
    * width maps each probe row to one bin and each ±100 interval to at most
    * 2 bins (exploded, deduped), so the join is hash-partitionable on the
    * bin key and the band becomes a residual filter — O(|L|+|R|+matches)
    * with a plain shuffle. PlanSpec asserts no nested-loop/cartesian
    * operator survives; the oracle is the plain band join (parity, like the
    * salted-join query).
    */
  def binnedBandAcctbal(s: SparkSession, dir: String): DataFrame = {
    val W = 200 // bin width = full band width (±100)
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .withColumn("bin", floor(col("c_acctbal") / W))
    val sup = Tables.supplier(s, dir)
      .withColumn("bin", explode(array_distinct(array(
        floor((col("s_acctbal") - 100) / W), floor((col("s_acctbal") + 100) / W)))))
    c.join(sup, "bin")
      .filter(col("c_acctbal") >= col("s_acctbal") - 100 &&
        col("c_acctbal") <= col("s_acctbal") + 100)
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_near_customers"))
      .orderBy("s_suppkey")
  }

  /** The SAME plain theta band join as [[thetaBandAcctbal]] — but with the
    * [[graft.plans.RewriteBandJoin]] optimizer rule enabled, so the
    * nested-loop shape is rewritten into the binned equi join
    * AUTOMATICALLY (what [[binnedBandAcctbal]] spells out by hand). The
    * result is materialized eagerly ([[Materialize.gated]]) while the conf
    * is set, then the flag is restored — the rule stays scoped to this query
    * and the declared theta query keeps demonstrating the nested-loop
    * surface. PlanSpec pins that the rewritten plan carries no
    * nested-loop/cartesian operator.
    */
  def bandAutoRewrite(s: SparkSession, dir: String): DataFrame = {
    val prev = s.conf.getOption(plans.RewriteBandJoin.ConfKey)
    s.conf.set(plans.RewriteBandJoin.ConfKey, "true")
    try {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val sup = Tables.supplier(s, dir) // no broadcast hint: the rule, not the hint
      // optimize + execute NOW, under the flag
      Materialize.gated(c, c.join(sup,
          col("c_acctbal") >= col("s_acctbal") - 100 &&
            col("c_acctbal") <= col("s_acctbal") + 100)
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n_near_customers"))
        .orderBy("s_suppkey"), "band-auto")
    } finally prev match {
      case Some(v) => s.conf.set(plans.RewriteBandJoin.ConfKey, v)
      case None => s.conf.unset(plans.RewriteBandJoin.ConfKey)
    }
  }

  /** As-of join (composed): for each event, the latest order date of the
    * matching customer at-or-before the event time. No native Spark as-of
    * join — and the naive equi-join + range + max-aggregate materializes
    * |events| × |orders-per-user| intermediate rows. Instead: fold each
    * user's order dates into one sorted micros array (one shuffle, bounded
    * by per-key order count), join events to that single row per user, and
    * resolve each probe with a TRUE binary search (`sorted_floor`, a
    * codegen'd Catalyst expression — O(log K) per probe, not the O(K)
    * `filter` HOF scan). Probe side never expands, and a hot key (one
    * customer owning 10% of orders) costs M·log K, not M·K in one task.
    */
  def asofLastOrder(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"))).as("dates_us"))
    e.join(od, col("user_id") === col("o_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        date_format(
          expr("timestamp_micros(sorted_floor(dates_us, unix_micros(ts)))"),
          "yyyy-MM-dd").as("last_order_date"))
      .orderBy("event_id")
  }

  private val asofLastOrderSql =
    """SELECT event_id, user_id,
      |  strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date
      |FROM events LEFT JOIN orders
      |  ON user_id = o_custkey AND o_orderdate <= ts
      |GROUP BY event_id, user_id ORDER BY event_id""".stripMargin

  /** As-of join, forward and NEAREST directions (completing the family —
    * [[asofLastOrder]] is the backward form): per event, the next order
    * date strictly after the event and the nearest of the two candidates
    * (ties to the earlier). Same scale shape as backward: the per-key
    * sorted micros array is built once (grouped dim), the probe never
    * expands, and BOTH direction lookups are O(log K) binary searches
    * (`sorted_floor` / `sorted_ceil_strict`) — hot-key-safe.
    */
  def asofNearestOrder(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"))).as("dates_us"))
    e.join(od, col("user_id") === col("o_custkey"), "left")
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("bwd_us", expr("sorted_floor(dates_us, us)"))
      .withColumn("fwd_us", expr("sorted_ceil_strict(dates_us, us)"))
      .withColumn("nearest_us", expr(
        """CASE WHEN bwd_us IS NULL THEN fwd_us WHEN fwd_us IS NULL THEN bwd_us
          |  WHEN us - bwd_us <= fwd_us - us THEN bwd_us
          |  ELSE fwd_us END""".stripMargin))
      .select(col("event_id"), col("user_id"),
        date_format(expr("timestamp_micros(fwd_us)"), "yyyy-MM-dd")
          .as("next_order_date"),
        date_format(expr("timestamp_micros(nearest_us)"), "yyyy-MM-dd")
          .as("nearest_order_date"))
      .orderBy("event_id")
  }

  private val asofNearestOrderSql =
    """WITH agg AS (
      |  SELECT event_id, user_id, ts,
      |    max(CASE WHEN o_orderdate <= ts THEN o_orderdate END) AS bwd,
      |    min(CASE WHEN o_orderdate > ts THEN o_orderdate END) AS fwd
      |  FROM events LEFT JOIN orders ON user_id = o_custkey
      |  GROUP BY event_id, user_id, ts)
      |SELECT event_id, user_id,
      |  strftime(fwd, '%Y-%m-%d') AS next_order_date,
      |  strftime(CASE WHEN bwd IS NULL THEN fwd WHEN fwd IS NULL THEN bwd
      |    WHEN epoch_us(ts) - epoch_us(CAST(bwd AS TIMESTAMP))
      |      <= epoch_us(CAST(fwd AS TIMESTAMP)) - epoch_us(ts) THEN bwd
      |    ELSE fwd END, '%Y-%m-%d') AS nearest_order_date
      |FROM agg ORDER BY event_id""".stripMargin

  /** Self join: pairs of orders by the same customer placed within 30 days. */
  def selfJoinOrderPairs(s: SparkSession, dir: String): DataFrame = {
    val o1 = Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"), col("o_orderkey").as("k1"),
      col("o_orderdate").as("d1"), col("o_orderstatus").as("st1"))
    val o2 = Tables.orders(s, dir).select(
      col("o_custkey").as("custkey2"), col("o_orderkey").as("k2"),
      col("o_orderdate").as("d2"), col("o_orderstatus").as("st2"))
    o1.join(o2,
        col("custkey") === col("custkey2") && col("d1") < col("d2") &&
          col("d2") <= col("d1") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("st1"), col("st2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("st1", "st2")
  }

  private val selfJoinOrderPairsSql =
    """SELECT a.o_orderstatus AS st1, b.o_orderstatus AS st2,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM orders a JOIN orders b
      |  ON a.o_custkey = b.o_custkey AND a.o_orderdate < b.o_orderdate
      |  AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
      |GROUP BY st1, st2 ORDER BY st1, st2""".stripMargin

  /** Interval-overlap join via bin blocking — the generic scalable plan
    * when NEITHER side has an equi key (valid-time joins, promo-window
    * attribution, ad-impression sessionning). Each interval explodes to
    * the 30-day bins it touches (both interval families are shorter than
    * one bin, so the fan-out is ≤ 2 rows/interval — bounded); bins
    * equi-join; a residual predicate keeps true overlaps and a DISTINCT
    * collapses pairs that met in two bins. Same family as the
    * [[graft.plans.RewriteBandJoin]] rewrite, for [start,end) × [start,
    * end) instead of point × band. The oracle states the plain theta-join
    * semantics; the binned plan must reproduce it exactly.
    *
    * Promo windows are derived deterministically: 60 windows of 14 days
    * every 30 days from epoch-day 8760; order service intervals are
    * [o_orderdate, +1..7 days) keyed off the order key.
    */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val windows = s.range(0, 60).toDF("window_id")
      .select(col("window_id"),
        (lit(8760L) + col("window_id") * 30).as("w_start"),
        (lit(8760L) + col("window_id") * 30 + 14).as("w_end"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        expr("unix_timestamp(o_orderdate) div 86400").as("o_start"))
      .withColumn("o_end", col("o_start") + col("o_orderkey") % 7 + 1)
    val wBinned = windows.withColumn("bin",
      explode(sequence(expr("w_start div 30"), expr("(w_end - 1) div 30"))))
    val oBinned = o.withColumn("bin",
      explode(sequence(expr("o_start div 30"), expr("(o_end - 1) div 30"))))
    oBinned.join(wBinned, Seq("bin"))
      .where(col("o_start") < col("w_end") && col("w_start") < col("o_end"))
      .select("window_id", "o_orderkey", "o_totalprice").distinct()
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("window_id")
  }

  private val intervalOverlapSql =
    """WITH windows AS (
      |  SELECT k AS window_id, 8760 + k*30 AS w_start, 8760 + k*30 + 14 AS w_end
      |  FROM (SELECT unnest(range(0, 60)) AS k)),
      |o AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS o_start,
      |    CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) + o_orderkey % 7 + 1 AS o_end
      |  FROM orders)
      |SELECT window_id, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total_price
      |FROM windows w JOIN o ON o.o_start < w.w_end AND w.w_start < o.o_end
      |GROUP BY window_id ORDER BY window_id""".stripMargin

  /** Bloom-prefilter semi join — the runtime-filter pattern built
    * explicitly with Spark's OWN runtime-filter expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, surfaced as
    * `bloom_agg` / `bloom_might_contain` by GraftFunctions): the
    * selective build side (urgent orders of machinery customers) is
    * summarized into a ~240 KB Bloom sketch by a DISTRIBUTED aggregate
    * (partial sketches merged, never a driver-side build), the probe is
    * a scalar subquery so the sketch inlines as a constant into a
    * codegen'd filter on the lineitem scan — no UDF, no broadcast
    * variable lifecycle — and a normal semi join then removes the false
    * positives, so the result is EXACT and the oracle is the plain semi
    * join. Scale shape: at 100 TB this is the difference between
    * shuffling the full fact table and shuffling the ~selectivity
    * fraction that survives the filter — exactly the plan Spark's
    * `spark.sql.optimizer.runtime.bloomFilter` injection produces, made
    * first-class (VERDICT r15 "what's wrong" #3: this was the last UDF
    * in a query hot path).
    */
  private[graft] def bloomPrefilterPlan(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "MACHINERY")
        .select("c_custkey")), col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
      .createOrReplaceTempView("graft_bloom_urgent")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_bloom_lineitem")
    // 200k items is a capacity hint, not a correctness bound; the bit
    // count is the library's own optimum for fpp 0.01 at that capacity —
    // fpp only affects how much the prefilter lets through (the semi
    // join verifies exactly either way)
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(200000L, 0.01)
    s.sql(
      s"""SELECT l_returnflag, count(1) AS n_items,
         |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         |FROM graft_bloom_lineitem
         |WHERE bloom_might_contain(
         |    (SELECT bloom_agg(o_orderkey, 200000L, ${numBits}L)
         |     FROM graft_bloom_urgent),
         |    l_orderkey)  -- drops ~(1-sel) of the scan pre-shuffle
         |  AND l_orderkey IN (SELECT o_orderkey FROM graft_bloom_urgent)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  def bloomPrefilterJoin(s: SparkSession, dir: String): DataFrame =
    bloomPrefilterPlan(s, dir)

  private val bloomPrefilterJoinSql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'MACHINERY' AND o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Point-in-time (temporal) join — every order joined to the SCD2
    * status-history row valid on its order date: the standard "dimension
    * as of transaction time" lookup that every warehouse with slowly
    * changing dimensions runs. Both sides shuffle once on the entity key;
    * the interval predicate is a residual on the hash join, never a
    * cartesian — per key the history is tiny (versions ≪ facts), so the
    * residual scan is bounded. Consumes the same history
    * [[graft.operators.MiscQueries.scd2History]] declares.
    */
  def pointInTimeJoin(s: SparkSession, dir: String): DataFrame = {
    val hist = MiscQueries.scd2Frame(s, dir) // custkey, version, status, from/to dates
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("o_day"),
        col("o_totalprice"))
      .join(hist, col("o_custkey") === col("custkey") &&
        col("o_day") >= col("valid_from") &&
        (col("valid_to").isNull || col("o_day") <= col("valid_to")))
      .groupBy(col("status").as("status_asof"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("version")).as("version_mass"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("status_asof")
  }

  private val pointInTimeJoinSql =
    """WITH daily AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS day,
      |    arg_max(o_orderstatus, o_orderkey) AS status
      |  FROM orders GROUP BY 1, 2
      |), marked AS (
      |  SELECT custkey, day, status, lag(status) OVER w AS prev_status
      |  FROM daily WINDOW w AS (PARTITION BY custkey ORDER BY day)
      |), changes AS (
      |  SELECT custkey, day, status FROM marked
      |  WHERE prev_status IS NULL OR prev_status <> status
      |), hist AS (
      |  SELECT custkey, status,
      |    CAST(row_number() OVER w AS INT) AS version,
      |    day AS valid_from,
      |    lead(day) OVER w - INTERVAL 1 DAY AS valid_to
      |  FROM changes WINDOW w AS (PARTITION BY custkey ORDER BY day))
      |SELECT status AS status_asof, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(version) AS BIGINT) AS version_mass,
      |  round(sum(o_totalprice), 2) AS total_price
      |FROM orders o JOIN hist h
      |  ON o.o_custkey = h.custkey
      | AND CAST(o.o_orderdate AS DATE) >= h.valid_from
      | AND (h.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) <= h.valid_to)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Null-safe equi join (`<=>` / IS NOT DISTINCT FROM as the JOIN key):
    * NULL keys match each other instead of silently dropping — the
    * semantics CDC/merge pipelines need when the business key is
    * nullable. Catalyst treats EqualNullSafe as a proper equi-join key,
    * so this plans as a hash join (pinned in PlanSpec), NOT the nested
    * loop a theta predicate would get. Nullable keys are derived
    * deterministically with nullif.
    */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(expr("nullif(o_custkey % 50, 7)").as("bucket_o"),
        col("o_totalprice"))
    val c = Tables.customer(s, dir)
      .select(expr("nullif(c_custkey % 50, 7)").as("bucket_c"),
        col("c_acctbal"))
      .groupBy("bucket_c").agg(count(lit(1)).as("n_cust"))
    o.join(c, col("bucket_o") <=> col("bucket_c"))
      .groupBy(col("bucket_o").as("bucket"))
      .agg(count(lit(1)).as("n_orders"), max("n_cust").as("n_cust"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy(col("bucket").asc_nulls_first)
  }

  private val nullSafeJoinSql =
    """WITH o AS (
      |  SELECT nullif(o_custkey % 50, 7) AS bucket_o, o_totalprice FROM orders),
      |c AS (
      |  SELECT nullif(c_custkey % 50, 7) AS bucket_c,
      |    CAST(count(*) AS BIGINT) AS n_cust
      |  FROM customer GROUP BY 1)
      |SELECT bucket_o AS bucket, CAST(count(*) AS BIGINT) AS n_orders,
      |  max(n_cust) AS n_cust, round(sum(o_totalprice), 2) AS total_price
      |FROM o JOIN c ON bucket_o IS NOT DISTINCT FROM bucket_c
      |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** Time-bounded sequential-pattern mining: support counts of "A then B
    * within one hour" over per-user event streams — the 2-sequence case
    * of classic sequence mining, and unlike the Markov matrix it counts
    * ALL in-window successors, not just the adjacent one. The hour band
    * is IN the equi-join key, not just a residual: each probe row
    * explodes to its own hour bucket and the next (any successor within
    * (ts, ts+1h] lands in exactly one of the two, so no pair is matched
    * twice and none is missed), and the build side carries its bucket.
    * The shuffle therefore hashes on (user, hour-bucket) and per-task
    * pair enumeration is bounded by in-window density — a hot user with
    * 10^6 events spread over a year costs per-hour work, not a 10^12-pair
    * quadratic blow-up in one task. The exact `ts_b in (ts, ts+1h]`
    * residual then prunes cross-bucket near-misses; strict ts ordering
    * makes same-microsecond pairs excluded on both engines rather than
    * order-ambiguous.
    */
  def eventSequences(s: SparkSession, dir: String): DataFrame = {
    // Hot-bucket sub-salting (the r9→r10 carried skew watch, acted on at
    // 8.42×). Adjudication first: the skew corpus's 8.4× wall growth is
    // NOT task serialization — its hottest (user, hour) bucket holds 180
    // rows while its genuine pair OUTPUT is 1463× the base corpus's
    // (13.5M vs 9.2k pairs; measured r10), so the factor is quadratic
    // output volume spread across ~700 buckets, which parallelizes fine.
    // The guard below covers the case that WOULD serialize: one bucket
    // dense enough that its single join-key group — which AQE cannot
    // split — dominates a task. Buckets above SaltCap get their build
    // rows sub-bucketed by event id (salt = id % Salts) while the probe
    // side replicates only for those buckets — the quadratic work
    // parallelizes ×Salts and cold buckets pay nothing beyond one
    // broadcast-left probe of the (tiny) hot-bucket list. Output is
    // unchanged: each genuine pair matches on exactly one salt.
    val SaltCap = 1000
    val Salts = 8
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val hot = e.groupBy(col("user_id").as("hu"),
        expr("floor(unix_micros(ts) / 3600000000)").as("hh"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > SaltCap)
      .select("hu", "hh")
    val a = e.withColumn("hr", explode(array(
        expr("floor(unix_micros(ts) / 3600000000)"),
        expr("floor(unix_micros(ts) / 3600000000) + 1"))))
      .join(broadcast(hot),
        col("user_id") === col("hu") && col("hr") === col("hh"), "left")
      .withColumn("salt", explode(when(col("hu").isNotNull,
        expr(s"sequence(0, ${Salts - 1})")).otherwise(array(lit(0)))))
      .drop("hu", "hh")
    val b = e.select(col("event_id").as("id_b"), col("user_id").as("user_b"),
        col("event_type").as("type_b"), col("ts").as("ts_b"))
      .withColumn("hr_b", expr("floor(unix_micros(ts_b) / 3600000000)"))
      .join(broadcast(hot),
        col("user_b") === col("hu") && col("hr_b") === col("hh"), "left")
      .withColumn("salt_b", when(col("hu").isNotNull,
        pmod(col("id_b"), lit(Salts)).cast("int")).otherwise(lit(0)))
      .drop("hu", "hh")
    a.join(b, col("user_id") === col("user_b") && col("hr") === col("hr_b")
        && col("salt") === col("salt_b")
        && col("ts_b") > col("ts")
        && col("ts_b") <= col("ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("support"), countDistinct("user_id").as("n_users"))
      .orderBy("type_a", "type_b")
  }

  private val eventSequencesSql =
    """SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  CAST(count(*) AS BIGINT) AS support,
      |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin

  /** As-of join with a match tolerance — the fourth standard as-of
    * direction (backward/forward/nearest exist above): the backward match
    * only counts when it falls within 30 days of the probe, otherwise the
    * row keeps a NULL (pandas `merge_asof(tolerance=...)` semantics; the
    * guard every feature-freshness join needs so a stale dimension row is
    * not silently used). Same scale shape as the rest of the family:
    * grouped sorted-micros dim + O(log K) binary-search probe
    * (`sorted_floor`), non-expanding probe side.
    */
  def asofTolerance(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val od = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"))).as("dates_us"))
    e.join(od, col("user_id") === col("o_custkey"), "left")
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("bwd_us", expr("sorted_floor(dates_us, us)"))
      .withColumn("asof_30d_us", expr(
        "CASE WHEN us - bwd_us <= 2592000000000 THEN bwd_us END"))
      .select(col("event_id"), col("user_id"),
        date_format(expr("timestamp_micros(bwd_us)"), "yyyy-MM-dd")
          .as("last_order_date"),
        date_format(expr("timestamp_micros(asof_30d_us)"), "yyyy-MM-dd")
          .as("asof_within_30d"))
      .orderBy("event_id")
  }

  private val asofToleranceSql =
    """WITH agg AS (
      |  SELECT event_id, user_id, ts,
      |    max(CASE WHEN o_orderdate <= ts THEN o_orderdate END) AS bwd
      |  FROM events LEFT JOIN orders ON user_id = o_custkey
      |  GROUP BY event_id, user_id, ts)
      |SELECT event_id, user_id,
      |  strftime(bwd, '%Y-%m-%d') AS last_order_date,
      |  strftime(CASE WHEN bwd IS NOT NULL AND epoch_us(ts)
      |      - epoch_us(CAST(bwd AS TIMESTAMP)) <= 2592000000000
      |    THEN bwd END, '%Y-%m-%d') AS asof_within_30d
      |FROM agg ORDER BY event_id""".stripMargin

  /** Blocked fuzzy self-match (record linkage): candidate customer pairs
    * come ONLY from equi-joinable blocks — same nation, same name length,
    * same hundreds digit — and WITHIN a block candidates are
    * sorted-neighborhood (each record probes the next 8 ranks of the
    * name-sorted order), so fan-out is LINEAR in block size: a block that
    * grows 10× (e.g. the scale corpus replicates names verbatim) grows
    * candidates 10×, not 100× — the in-block clique form is quadratic in
    * duplicate density and dies at 100 TB. The edit-distance verify
    * (codegen'd `levenshtein`, no UDF) runs per candidate; the rank probe
    * is an equi join (the `dedup_sorted_neighborhood` shape). Recall is
    * the block + window design's contract — production linkage rotates
    * block keys across passes to cover the misses; each pass is this same
    * keyed plan.
    */
  def fuzzyBlocked(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk").orderBy(col("c_name"), col("c_custkey"))
    val ranked = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .withColumn("blk", concat(col("c_nationkey").cast("string"), lit("|"),
        length(col("c_name")).cast("string"), lit("|"),
        substring(col("c_name"), 16, 1)))
      .withColumn("rn", row_number().over(w))
    val probes = ranked.select(col("blk"), col("c_custkey").as("key_a"),
        col("c_name").as("name_a"), col("c_nationkey").as("nation"),
        explode(expr("sequence(rn + 1, rn + 8)")).as("rn_b"))
    probes.join(ranked.select(col("blk"), col("rn").as("rn_b"),
        col("c_custkey").as("key_b"), col("c_name").as("name_b")),
        Seq("blk", "rn_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= 2)
      .select(col("nation"),
        least(col("key_a"), col("key_b")).as("id_a"),
        greatest(col("key_a"), col("key_b")).as("id_b"), col("lev"))
      .orderBy("id_a", "id_b")
  }

  private val fuzzyBlockedSql =
    """WITH ranked AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CAST(c_nationkey AS VARCHAR) || '|' || CAST(length(c_name) AS VARCHAR)
      |      || '|' || substr(c_name, 16, 1) AS blk,
      |    row_number() OVER (PARTITION BY CAST(c_nationkey AS VARCHAR) || '|'
      |      || CAST(length(c_name) AS VARCHAR) || '|' || substr(c_name, 16, 1)
      |      ORDER BY c_name, c_custkey) AS rn
      |  FROM customer
      |), probes AS (
      |  SELECT blk, c_custkey AS key_a, c_name AS name_a,
      |    c_nationkey AS nation, unnest(range(rn + 1, rn + 9)) AS rn_b
      |  FROM ranked)
      |SELECT p.nation,
      |  least(p.key_a, r.c_custkey) AS id_a,
      |  greatest(p.key_a, r.c_custkey) AS id_b,
      |  CAST(levenshtein(p.name_a, r.c_name) AS INT) AS lev
      |FROM probes p JOIN ranked r ON p.blk = r.blk AND p.rn_b = r.rn
      |WHERE levenshtein(p.name_a, r.c_name) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** TPC-H Q3 shape (shipping-priority top-10): segment-filtered customers
    * ⋈ date-bounded orders ⋈ date-bounded lineitems, revenue per order,
    * global top 10. Scale shape: both fact filters reach the parquet scan
    * (pushed), the two fact joins shuffle on their natural keys, and the
    * final top-10 is a TakeOrdered (no global sort materialization). The
    * segment-filtered customer side is |C|/5 — it GROWS with SF, so no
    * broadcast hint; AQE may convert at runtime when it happens to fit.
    */
  def q03ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-06-01").cast("timestamp")
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(SharedExprs.roundCents(sum(SharedExprs.revMicros) / 1e6).as("revenue"))
      .orderBy(desc("revenue"), col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue"))
  }

  private val q03ShippingPrioritySql =
    """SELECT l_orderkey,
      |  strftime(orders.o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)) / 1e6, 2)
      |    AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND orders.o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, orders.o_orderdate
      |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q9 shape (product-type profit by nation and year): lineitem ⋈
    * part (type filter) ⋈ supplier ⋈ nation ⋈ orders, profit aggregated
    * per (nation, order year). The fixture has no partsupp table, so
    * supply cost is modeled as 80% of the part's retail price — the join
    * topology and aggregation are Q9's. Scale shape: the two big joins
    * (orders, part) shuffle on their keys; supplier/nation broadcast
    * (true dims); one combining hash-agg over a (nations × years) grid.
    * Profit subtracts two near-equal quantities, so the per-row value is
    * pinned to integer MICROS before summing (double hash-agg order would
    * otherwise flip the cents rounding between engines — catastrophic
    * cancellation amplifies ulp noise the plain revenue sums never see).
    */
  def q09ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir).filter(col("p_type") === "PROMO")
      .select("p_partkey", "p_retailprice")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("profit_micros",
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)")
          - expr("CAST(round(p_retailprice * 0.8 * l_quantity * 1e6) AS BIGINT)"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      // truncate-to-cent in INTEGER space (abs first so Spark's DIV-trunc
      // and DuckDB's //-floor agree on the non-negative operand, sign
      // restored after): round(sum/1e6, 2) split the engines whenever the
      // exact micros sum sat on a …5000 cent boundary — Spark HALF_UPs the
      // shortest decimal repr, DuckDB rounds the binary double
      // (CHECK_LOCAL_SF01's sf0.1 catch)
      .agg(expr("""CAST(CASE WHEN sum(profit_micros) < 0
          |  THEN -((-sum(profit_micros)) DIV 10000)
          |  ELSE sum(profit_micros) DIV 10000 END AS DOUBLE) / 100.0"""
          .stripMargin).as("profit"))
      .orderBy(col("nation"), desc("o_year"))
  }

  private val q09ProductProfitSql =
    """SELECT n_name AS nation,
      |  CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(CASE WHEN sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)
      |      - CAST(round(p_retailprice * 0.8 * l_quantity * 1e6) AS BIGINT)) < 0
      |    THEN -((-sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)
      |      - CAST(round(p_retailprice * 0.8 * l_quantity * 1e6) AS BIGINT))) // 10000)
      |    ELSE sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)
      |      - CAST(round(p_retailprice * 0.8 * l_quantity * 1e6) AS BIGINT)) // 10000
      |    END AS DOUBLE) / 100.0 AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_type = 'PROMO'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY nation, o_year DESC""".stripMargin

  /** Latest-snapshot dimension join — the complement of
    * [[pointInTimeJoin]]: every order joined to the CURRENT version of the
    * customer's SCD2 status row (max version per key), the "report against
    * today's dimension" join every warehouse also runs. The dedup is an
    * arg-max aggregate per key (map-side combinable), never a
    * window-filter over the history; both sides then shuffle once on the
    * entity key.
    */
  def dimSnapshotLatest(s: SparkSession, dir: String): DataFrame = {
    val hist = MiscQueries.scd2Frame(s, dir)
    val latest = hist.groupBy("custkey")
      .agg(max_by(col("status"), col("version")).as("cur_status"),
        max("version").as("n_versions"))
    Tables.orders(s, dir)
      .join(latest, col("o_custkey") === col("custkey"))
      .groupBy(col("cur_status"))
      .agg(count(lit(1)).as("n_orders"),
        sum("n_versions").as("version_mass"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("cur_status")
  }

  private val dimSnapshotLatestSql =
    """WITH daily AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS day,
      |    arg_max(o_orderstatus, o_orderkey) AS status
      |  FROM orders GROUP BY 1, 2
      |), marked AS (
      |  SELECT custkey, day, status, lag(status) OVER w AS prev_status
      |  FROM daily WINDOW w AS (PARTITION BY custkey ORDER BY day)
      |), changes AS (
      |  SELECT custkey, day, status FROM marked
      |  WHERE prev_status IS NULL OR prev_status <> status
      |), hist AS (
      |  SELECT custkey, status,
      |    CAST(row_number() OVER w AS INT) AS version
      |  FROM changes WINDOW w AS (PARTITION BY custkey ORDER BY day)
      |), latest AS (
      |  SELECT custkey, arg_max(status, version) AS cur_status,
      |    max(version) AS n_versions
      |  FROM hist GROUP BY custkey)
      |SELECT cur_status, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(n_versions) AS BIGINT) AS version_mass,
      |  round(sum(o_totalprice), 2) AS total_price
      |FROM orders JOIN latest ON o_custkey = custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q5 shape (local supplier volume): revenue kept inside one
    * region — customer and supplier must share a nation — per nation for
    * one order year. The defining feature is the SECOND equi-condition on
    * the supplier join (`c_nationkey = s_nationkey`): it rides the same
    * shuffle as the key join, so "local" costs nothing extra. Scale
    * shape: the date filter is pushed to the orders scan, the two fact
    * joins shuffle on their natural keys, supplier/nation/region are true
    * broadcast dims, and the final agg is a |nations|-sized grid.
    */
  def q05LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val n = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(SharedExprs.roundCents(sum(SharedExprs.revMicros) / 1e6).as("revenue"))
      .orderBy(desc("revenue"), col("nation"))
  }

  private val q05LocalSupplierSql =
    """SELECT n_name AS nation,
      |  round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)) / 1e6, 2)
      |    AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, nation""".stripMargin

  /** TPC-H Q8 shape (national market share): of the revenue that AMERICA
    * region customers generate, what fraction is supplied by NATION_6,
    * per order year. The share is a conditional aggregate over ONE join
    * tree (no second pass over the facts): numerator and denominator come
    * out of the same hash-agg via `sum(CASE …)`. Both sums are pinned to
    * integer micros first — the share divides two large near-proportional
    * sums, where double agg-order noise would flip the 4th decimal.
    */
  def q08MarketShare(s: SparkSession, dir: String): DataFrame = {
    val custN = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name") === "AMERICA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val c = Tables.customer(s, dir)
      .join(broadcast(custN), col("c_nationkey") === col("cn_key"))
      .select("c_custkey")
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val supN = Tables.nation(s, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(supN), col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .withColumn("rev_micros",
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)"))
      .groupBy("o_year")
      .agg(
        round(sum(when(col("supp_nation") === "NATION_6", col("rev_micros"))
          .otherwise(lit(0L))).cast("double")
          / sum("rev_micros"), 4).as("mkt_share"),
        round(sum("rev_micros") / 1e6, 2).as("total_revenue"))
      .orderBy("o_year")
  }

  private val q08MarketShareSql =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  round(CAST(sum(CASE WHEN sn.n_name = 'NATION_6' THEN rev_micros ELSE 0 END)
      |    AS DOUBLE) / sum(rev_micros), 4) AS mkt_share,
      |  round(sum(rev_micros) / 1e6, 2) AS total_revenue
      |FROM (SELECT l_orderkey, l_suppkey,
      |        CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)
      |          AS rev_micros
      |      FROM lineitem) li
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE r_name = 'AMERICA'
      |GROUP BY year(o_orderdate) ORDER BY o_year""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): how many
    * customers placed exactly k orders, including k = 0 — the LEFT join
    * is load-bearing (inner would silently drop the zero bucket). Scale
    * shape: one customer-keyed shuffle for the per-customer count, then a
    * second agg over a frame bounded by max orders-per-customer (tiny),
    * both map-side combinable. The priority filter lives in the JOIN
    * condition, not WHERE — on a LEFT join those are different queries.
    */
  def q13CustomerDistribution(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    Tables.customer(s, dir).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  private val q13CustomerDistributionSql =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("join_null_safe", nullSafeJoin, Some(nullSafeJoinSql)),
    QueryDef("join_bloom_prefilter", bloomPrefilterJoin, Some(bloomPrefilterJoinSql)),
    QueryDef("join_point_in_time", pointInTimeJoin, Some(pointInTimeJoinSql)),
    QueryDef("join_interval_overlap", intervalOverlap, Some(intervalOverlapSql)),
    QueryDef("join_revenue_by_nation", revenueByNation, Some(revenueByNationSql)),
    QueryDef("join_left_orders_per_customer", ordersPerCustomer, Some(ordersPerCustomerSql)),
    QueryDef("join_right_segments", rightJoinSegments, Some(rightJoinSegmentsSql)),
    QueryDef("join_full_outer_parts", fullOuterParts, Some(fullOuterPartsSql)),
    QueryDef("join_semi_urgent", semiJoinUrgent, Some(semiJoinUrgentSql)),
    QueryDef("join_anti_no_orders", antiJoinNoOrders, Some(antiJoinNoOrdersSql)),
    QueryDef("join_cross_nation_region", crossNationRegion, Some(crossNationRegionSql)),
    QueryDef("join_range_ship_lag", rangeJoinShipLag, Some(rangeJoinShipLagSql)),
    QueryDef("join_theta_band_acctbal", thetaBandAcctbal, Some(thetaBandAcctbalSql)),
    // binned rewrite must reproduce the band join exactly (parity oracle)
    QueryDef("join_binned_band_acctbal", binnedBandAcctbal, Some(thetaBandAcctbalSql)),
    QueryDef("join_band_auto_rewrite", bandAutoRewrite, Some(thetaBandAcctbalSql)),
    QueryDef("join_asof_last_order", asofLastOrder, Some(asofLastOrderSql)),
    QueryDef("join_asof_nearest", asofNearestOrder, Some(asofNearestOrderSql)),
    QueryDef("join_self_order_pairs", selfJoinOrderPairs, Some(selfJoinOrderPairsSql)),
    QueryDef("join_fuzzy_blocked", fuzzyBlocked, Some(fuzzyBlockedSql)),
    QueryDef("join_asof_tolerance", asofTolerance, Some(asofToleranceSql)),
    QueryDef("join_event_sequences", eventSequences, Some(eventSequencesSql)),
    QueryDef("q03_shipping_priority", q03ShippingPriority, Some(q03ShippingPrioritySql)),
    QueryDef("q09_product_profit", q09ProductProfit, Some(q09ProductProfitSql)),
    QueryDef("join_dim_snapshot_latest", dimSnapshotLatest, Some(dimSnapshotLatestSql)),
    QueryDef("q05_local_supplier", q05LocalSupplier, Some(q05LocalSupplierSql)),
    QueryDef("q08_market_share", q08MarketShare, Some(q08MarketShareSql)),
    QueryDef("q13_customer_distribution", q13CustomerDistribution,
      Some(q13CustomerDistributionSql))
  )
}
