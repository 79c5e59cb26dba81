package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2 Part B "Aggregation").
  *
  * All outputs are canonical: group keys ordered, doubles rounded, counts as
  * longs. At scale each of these is a single hash-aggregate with map-side
  * partial aggregation (Catalyst emits partial+final automatically); no
  * query collects to the driver.
  */
object AggQueries extends QueryModule {

  /** TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg → sort.
    * Reference anchor: the engine surface mandated by BASELINE.json; shape
    * chosen to exercise partial/final agg over the largest fixture table.
    * Every sum and average is over integer micros (`pricingMicros`), so
    * the last rounded digit does not depend on the order of addition;
    * the oracle sums the same micros.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    def total(c: String) = sum(expr(pricingMicros(c))) / 1e6
    def mean(c: String) = SharedExprs.roundDigits(total(c) / count(expr(pricingMicros(c))), 4)
    Tables
      .lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        SharedExprs.roundCents(total("qty")).as("sum_qty"),
        SharedExprs.roundCents(total("price")).as("sum_base_price"),
        SharedExprs.roundCents(total("disc_price")).as("sum_disc_price"),
        SharedExprs.roundCents(total("charge")).as("sum_charge"),
        mean("qty").as("avg_qty"),
        mean("price").as("avg_price"),
        mean("disc").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Q1's per-row doubles as integer-micros SQL, the same text in both engines. */
  private val pricingMicros = Map(
    "qty" -> "l_quantity",
    "price" -> "l_extendedprice",
    "disc_price" -> "l_extendedprice * (1 - l_discount)",
    "charge" -> "l_extendedprice * (1 - l_discount) * (1 + l_tax)",
    "disc" -> "l_discount").map { case (c, e) => c -> SharedExprs.microsSql(e) }

  private val pricingSummarySql = {
    def total(c: String) = s"round(sum(${pricingMicros(c)}) / 1e6, 2)"
    def mean(c: String) = s"round(sum(${pricingMicros(c)}) / 1e6 / count(${pricingMicros(c)}), 4)"
    s"""SELECT l_returnflag, l_linestatus,
      |  ${total("qty")} AS sum_qty,
      |  ${total("price")} AS sum_base_price,
      |  ${total("disc_price")} AS sum_disc_price,
      |  ${total("charge")} AS sum_charge,
      |  ${mean("qty")} AS avg_qty,
      |  ${mean("price")} AS avg_price,
      |  ${mean("disc")} AS avg_disc,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** count(DISTINCT …) and sum(DISTINCT …) — planned as expand + two-phase
    * aggregate by Catalyst; scales via partial distinct on the mappers.
    */
  def distinctCounts(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_suppliers"),
        round(sum_distinct(col("l_quantity")), 2).as("sum_distinct_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val distinctCountsSql =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_suppliers,
      |  round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP with grouping_id — hierarchical totals in one pass (Expand). */
  def rollupOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), SharedExprs.sumCents("o_totalprice").as("total"),
        grouping_id().as("gid"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  private val rollupOrdersSql =
    s"""SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  ${SharedExprs.dSumCentsSql("o_totalprice")} AS total,
      |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** CUBE over the lineitem flag pair. */
  def cubeFlags(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(avg("l_discount"), 4).as("avg_disc"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val cubeFlagsSql =
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      |  round(avg(l_discount), 4) AS avg_disc
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** GROUPING SETS (explicit set list, SQL form). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
    s.sql("""SELECT l_returnflag, l_linestatus,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  private val groupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** collect_list sorted for determinism (sampled keys to bound output). */
  def collectLinenumbers(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 100 === 0)
      .groupBy("l_orderkey")
      .agg(
        array_join(sort_array(collect_list(col("l_linenumber"))), ",").as("linenumbers"),
        array_join(sort_array(collect_set(col("l_returnflag"))), ",").as("flags"))
      .orderBy("l_orderkey")

  private val collectLinenumbersSql =
    """SELECT l_orderkey,
      |  array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers,
      |  array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags
      |FROM lineitem WHERE l_orderkey % 100 = 0
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Exact percentiles / median per group (interpolating, Spark
    * `percentile` ≙ DuckDB `quantile_cont`).
    */
  def percentilesByFlag(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("median(l_quantity)"), 4).as("median_qty"),
        // one percentile call for all three price quantiles: separate
        // calls would each keep and sort their own per-group value buffer
        expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("p"))
      .select(
        col("l_returnflag"),
        col("median_qty"),
        round(element_at(col("p"), 1), 4).as("p50_price"),
        round(element_at(col("p"), 2), 4).as("p90_price"),
        round(element_at(col("p"), 3), 4).as("p99_price"))
      .orderBy("l_returnflag")

  private val percentilesByFlagSql =
    """SELECT l_returnflag,
      |  round(median(l_quantity), 4) AS median_qty,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Bounded-memory approximate percentiles via the t-digest Aggregator
    * ([[graft.functions.TDigestQuantile]]) — the 100 TB replacement for
    * exact `percentile`, whose per-group state is O(n). The digest's raw
    * estimate depends on partition merge order, so the oracle-facing output
    * is the *accuracy contract*: exact percentiles (deterministic) plus a
    * boolean per quantile asserting the t-digest estimate landed within
    * 2% relative error — if digest accuracy regresses, the flag flips and
    * the hash compare fails. The 2% tolerance carries ≥20× margin over the
    * worst merge-order-dependent error measured on these fixtures (≤1e-3
    * relative at sf0.01/sf0.1, ~600k-row groups, smooth o_totalprice), so
    * an unlucky partition ordering cannot flip it nondeterministically.
    * Rank-error bounds are pinned in TDigestSpec.
    */
  def tdigestQuantiles(s: SparkSession, dir: String): DataFrame = {
    val td = udaf(new graft.functions.TDigestQuantile(Seq(0.5, 0.9), 100.0),
      org.apache.spark.sql.Encoders.scalaDouble)
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(
        // one percentile call for both quantiles: a second call would
        // sort each group's value multiset twice
        expr("percentile(o_totalprice, array(0.5, 0.9))").as("x"),
        td(col("o_totalprice")).as("td"))
      .select(
        col("o_orderstatus"),
        element_at(col("x"), 1).as("x50"),
        element_at(col("x"), 2).as("x90"),
        col("td"))
      .select(
        col("o_orderstatus"),
        round(col("x50"), 2).as("exact_p50"),
        round(col("x90"), 2).as("exact_p90"),
        (abs(element_at(col("td"), 1) - col("x50")) / col("x50") < 0.02).as("p50_within_2pct"),
        (abs(element_at(col("td"), 2) - col("x90")) / col("x90") < 0.02).as("p90_within_2pct"))
      .orderBy("o_orderstatus")
  }

  private val tdigestQuantilesSql =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS exact_p90,
      |  true AS p50_within_2pct, true AS p90_within_2pct
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Built-in `approx_percentile` (Greenwald-Khanna sketch) under the same
    * accuracy-contract oracle shape as [[tdigestQuantiles]]: the checkable
    * output is the exact interpolated quantiles plus one boolean per
    * quantile asserting the sketch estimate lies between the exact
    * (q−0.01) and (q+0.01) quantiles — a RANK-error assertion, which is
    * the guarantee GK actually makes. At accuracy=1000 the sketch's bound
    * is 1/1000 rank error, so the 0.01 window carries 10× margin against
    * partition-merge-order variation. One aggregation pass computes both
    * the sketch and the exact probe array per group.
    */
  def approxPercentileBounds(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val eps = 0.01
    val probes = qs.flatMap(q => Seq(q - eps, q, q + eps))
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr(s"percentile(l_extendedprice, array(${probes.mkString(", ")}))").as("x"),
        expr(s"approx_percentile(l_extendedprice, array(${qs.mkString(", ")}), 1000)").as("apx"))
      .select(col("l_returnflag") +:
        qs.zipWithIndex.flatMap { case (q, i) =>
          val pct = (q * 100).toInt
          Seq(
            round(element_at(col("x"), i * 3 + 2), 2).as(s"p$pct"),
            (element_at(col("apx"), i + 1) >= element_at(col("x"), i * 3 + 1) &&
              element_at(col("apx"), i + 1) <= element_at(col("x"), i * 3 + 3))
              .as(s"p${pct}_in_rank_window"))
        }: _*)
      .orderBy("l_returnflag")
  }

  private val approxPercentileBoundsSql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 2) AS p25, true AS p25_in_rank_window,
      |  round(quantile_cont(l_extendedprice, 0.50), 2) AS p50, true AS p50_in_rank_window,
      |  round(quantile_cont(l_extendedprice, 0.75), 2) AS p75, true AS p75_in_rank_window,
      |  round(quantile_cont(l_extendedprice, 0.95), 2) AS p95, true AS p95_in_rank_window
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Statistical aggregates: stddev / variance / corr / covar. */
  def statsByFlag(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(stddev_pop(col("l_quantity")), 4).as("sdp_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("covar_qty_disc"))
      .orderBy("l_returnflag")

  private val statsByFlagSql =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(stddev_pop(l_quantity), 4) AS sdp_qty,
      |  round(var_samp(l_quantity), 4) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Deterministic MODE per group: most frequent value with an explicit
    * tie-break (count DESC, value ASC) — the built-in `mode()` leaves ties
    * engine-defined, which can never hash-match another engine. Two-level:
    * map-side-combined counts, then a tiny per-group ranking window over
    * |distinct values| rows, not |rows|.
    */
  def modePerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("rk", row_number().over(Window.partitionBy("l_returnflag")
        .orderBy(col("n").desc, col("l_quantity").asc)))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_quantity"),
        col("n").as("mode_count"))
      .orderBy("l_returnflag")
  }

  private val modePerGroupSql =
    """WITH counts AS (
      |  SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY n DESC, l_quantity ASC) AS rk
      |  FROM counts)
      |SELECT l_returnflag, l_quantity AS mode_quantity, n AS mode_count
      |FROM ranked WHERE rk = 1 ORDER BY l_returnflag""".stripMargin

  /** min/max/first-order aggregates incl. min_by/max_by (argmin/argmax). */
  def minMaxBy(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"),
        min("o_orderkey").as("min_key"),
        expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").as("key_of_max_price"),
        expr("min_by(o_orderkey, struct(o_totalprice, -o_orderkey))").as("key_of_min_price"))
      .orderBy("o_orderstatus")

  private val minMaxBySql =
    """WITH ext AS (
      |  SELECT o_orderstatus, max(o_totalprice) AS mx, min(o_totalprice) AS mn
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o.o_orderstatus,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price,
      |  min(o_orderkey) AS min_key,
      |  max(CASE WHEN o_totalprice = mx THEN o_orderkey END) AS key_of_max_price,
      |  max(CASE WHEN o_totalprice = mn THEN o_orderkey END) AS key_of_min_price
      |FROM orders o JOIN ext e ON o.o_orderstatus = e.o_orderstatus
      |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin

  /** HyperLogLog approximate distinct — no hash oracle (approximate);
    * correctness asserted by error-bound property test instead
    * (AggSpec."approx_count_distinct within rsd").
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")

  /** Count-Min sketch heavy hitters — the bounded-memory frequency
    * estimator a 100 TB token stream runs instead of an exact vocabulary
    * count (4 rows × 1024 buckets = 4 KB of state regardless of corpus
    * size). The hash family is the portable md5 device (salted per row),
    * so the sketch is bit-identical in both engines and — unlike HLL —
    * fully oracle-checkable. Cells are built from the term-count table
    * (hash work is vocab-sized, not corpus-sized; at 100 TB the counts
    * table is itself the first map-side-combined aggregation). The output
    * pins the CMS contract: estimate ≥ truth for every probed heavy
    * hitter, with the overestimate visible as est − truth.
    */
  def countMinHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = "array_remove(split(text, ' ', -1), '')"
    val counts = Tables.documents(s, dir)
      .select(explode(expr(toks)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("true_count"))
    val hashed = counts
      .select(col("term"), col("true_count"), explode(expr("sequence(0, 3)")).as("r"))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(concat('cms', CAST(r AS STRING), ':', term) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 1024"))
    val cells = hashed.groupBy("r", "bucket").agg(sum("true_count").as("cell"))
    val top = counts.orderBy(desc("true_count"), asc("term")).limit(20)
    top.join(hashed.select("term", "r", "bucket"), "term")
      .join(broadcast(cells), Seq("r", "bucket"))
      .groupBy("term", "true_count")
      .agg(min("cell").as("cms_estimate"))
      .withColumn("overestimate", col("cms_estimate") - col("true_count"))
      .withColumn("bound_holds", col("cms_estimate") >= col("true_count"))
      .orderBy("term")
  }

  private val countMinHeavyHittersSql =
    """WITH t AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents
      |), counts AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS true_count FROM t GROUP BY 1
      |), hashed AS (
      |  SELECT term, true_count, r,
      |    CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':' || term), 1, 8)) AS BIGINT) % 1024 AS bucket
      |  FROM counts, unnest(range(0, 4)) AS u(r)
      |), cells AS (
      |  SELECT r, bucket, CAST(sum(true_count) AS BIGINT) AS cell
      |  FROM hashed GROUP BY 1, 2
      |), top AS (
      |  SELECT term, true_count FROM counts ORDER BY true_count DESC, term LIMIT 20)
      |SELECT top.term AS term, top.true_count AS true_count, min(cell) AS cms_estimate,
      |  min(cell) - top.true_count AS overestimate,
      |  min(cell) >= top.true_count AS bound_holds
      |FROM top
      |JOIN hashed ON top.term = hashed.term
      |JOIN cells USING (r, bucket)
      |GROUP BY top.term, top.true_count
      |ORDER BY 1""".stripMargin

  /** Cohort retention — the activation/retention table every product and
    * data-quality dashboard runs: users grouped by first-active day, each
    * later active day binned by offset from it. Integer counts plus one
    * rounded ratio, so the compare is exact. Scale shape: one distinct
    * (user, day) shuffle, a user-keyed min, then a (cohort, offset) count
    * — the cohort-size frame is day-cardinality and joins broadcast.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      // hash(user_id) satisfies the (user_id, day) distinct, the cohort
      // min, AND the act⋈cohort join — the only other exchange left is
      // the (cohort_day, offset) aggregation
      .repartition(col("user_id"))
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    act.join(cohort, "user_id")
      .withColumn("offset_days", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy("cohort_day", "offset_days")
      .agg(countDistinct("user_id").as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days"), col("n_active"), col("cohort_size"),
        round(col("n_active") / col("cohort_size").cast("double"), 4).as("retention"))
      .orderBy("cohort_day", "offset_days")
  }

  private val retentionCohortsSql =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1
      |), sizes AS (
      |  SELECT cohort_day, count(*) AS cohort_size FROM cohort GROUP BY 1
      |), ret AS (
      |  SELECT c.cohort_day, a.day - c.cohort_day AS offset_days,
      |    count(DISTINCT a.user_id) AS n_active
      |  FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2)
      |SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_day,
      |  CAST(offset_days AS BIGINT) AS offset_days,
      |  CAST(n_active AS BIGINT) AS n_active,
      |  CAST(cohort_size AS BIGINT) AS cohort_size,
      |  round(n_active / CAST(cohort_size AS DOUBLE), 4) AS retention
      |FROM ret r JOIN sizes s USING (cohort_day)
      |ORDER BY cohort_day, offset_days""".stripMargin

  /** One-pass column profiler — the data-quality snapshot (row/null/
    * distinct counts, min/max/mean per column) every ingestion run
    * publishes before a dataset goes live. The base stats (counts, min/
    * max/mean) come from ONE map-side-combining pass, unpivoted to a tidy
    * row per column; the exact distinct counts come from six independent
    * column-pruned scans, each a plain two-level distinct aggregation —
    * the no-Expand shape [[dataProfileApprox]]'s contract branches proved
    * out (optimization r17: the previous multi-count(DISTINCT) form
    * planned through Expand, multiplying every row ×(columns+1) before
    * the shuffle — measurably slower than six pruned scans even at bench
    * scale, and the documented scale-killer at 100 TB).
    */
  def dataProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_suppkey", "l_orderkey")
    val li = Tables.lineitem(s, dir)
    val aggs = count(lit(1)).as("n") +: cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(col(c)).as(s"nn$i"),
        round(min(col(c)).cast("double"), 4).as(s"mn$i"),
        round(max(col(c)).cast("double"), 4).as(s"mx$i"),
        round(avg(col(c).cast("double")), 4).as(s"av$i"))
    }
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      s"'$c', n - nn$i, mn$i, mx$i, av$i"
    }.mkString(", ")
    val prof = li.agg(aggs.head, aggs.tail: _*)
      .select(col("n").as("n_rows"), expr(
        s"stack(${cols.size}, $stacked) AS (col, n_nulls, min_v, max_v, mean_v)"))
    val exact = cols.map(c =>
        li.select(col(c).as("v"))
          .agg(countDistinct(col("v")).as("n_distinct"))
          .select(lit(c).as("col"), col("n_distinct")))
      .reduce(_ unionAll _)
    prof.join(broadcast(exact), "col")
      .select(col("col"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        col("min_v"), col("max_v"), col("mean_v"))
      .orderBy("col")
  }

  /** The 100 TB form of [[dataProfile]]: distinct counts come from
    * `approx_count_distinct` (HLL++, rsd 0.02), so the whole profile is
    * ONE map-side-combining pass with NO Expand — the exact form multiplies
    * every row ×(columns+1) before the shuffle, which is the documented
    * scale-killer this variant replaces. Declared under the same
    * accuracy-contract oracle shape as [[approxPercentileBounds]]: the
    * checkable output is the exact distinct count plus a boolean per
    * column asserting the sketch lies within 10% (5× the configured rsd).
    * The exact counts feed ONLY the contract columns and come from six
    * independent column-pruned scans, each a plain two-level distinct
    * aggregation (no Expand anywhere in the plan — PlanSpec pins it);
    * at 100 TB the contract branches are dropped and the one-pass profile
    * is the whole query.
    */
  def dataProfileApprox(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_suppkey", "l_orderkey")
    val li = Tables.lineitem(s, dir)
    val aggs = count(lit(1)).as("n") +: cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(col(c)).as(s"nn$i"),
        approx_count_distinct(col(c), 0.02).as(s"ad$i"),
        round(min(col(c)).cast("double"), 4).as(s"mn$i"),
        round(max(col(c)).cast("double"), 4).as(s"mx$i"),
        round(avg(col(c).cast("double")), 4).as(s"av$i"))
    }
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      s"'$c', n - nn$i, ad$i, mn$i, mx$i, av$i"
    }.mkString(", ")
    val prof = li.agg(aggs.head, aggs.tail: _*)
      .select(col("n").as("n_rows"), expr(
        s"stack(${cols.size}, $stacked) AS (col, n_nulls, approx_nd, min_v, max_v, mean_v)"))
    val exact = cols.map(c =>
        li.select(col(c).as("v"))
          .agg(countDistinct(col("v")).as("n_distinct"))
          .select(lit(c).as("col"), col("n_distinct")))
      .reduce(_ unionAll _)
    prof.join(broadcast(exact), "col")
      .select(col("col"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        (abs(col("approx_nd") - col("n_distinct")) <=
          greatest(ceil(col("n_distinct") * 0.10), lit(2L))).as("nd_within_10pct"),
        col("min_v"), col("max_v"), col("mean_v"))
      .orderBy("col")
  }

  private val dataProfileApproxSql = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_suppkey", "l_orderkey")
    val inner = cols.zipWithIndex.map { case (c, i) =>
      s"""count($c) AS nn$i, count(DISTINCT $c) AS nd$i,
         |    round(CAST(min($c) AS DOUBLE), 4) AS mn$i,
         |    round(CAST(max($c) AS DOUBLE), 4) AS mx$i,
         |    round(avg(CAST($c AS DOUBLE)), 4) AS av$i""".stripMargin
    }.mkString(",\n    ")
    val branches = cols.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS col, CAST(n AS BIGINT) AS n_rows,
         |  CAST(n - nn$i AS BIGINT) AS n_nulls, CAST(nd$i AS BIGINT) AS n_distinct,
         |  true AS nd_within_10pct,
         |  mn$i AS min_v, mx$i AS max_v, av$i AS mean_v FROM a""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH a AS (
       |  SELECT count(*) AS n,
       |    $inner
       |  FROM lineitem)
       |$branches
       |ORDER BY col""".stripMargin
  }

  private val dataProfileSql = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_suppkey", "l_orderkey")
    val inner = cols.zipWithIndex.map { case (c, i) =>
      s"""count($c) AS nn$i, count(DISTINCT $c) AS nd$i,
         |    round(CAST(min($c) AS DOUBLE), 4) AS mn$i,
         |    round(CAST(max($c) AS DOUBLE), 4) AS mx$i,
         |    round(avg(CAST($c AS DOUBLE)), 4) AS av$i""".stripMargin
    }.mkString(",\n    ")
    val branches = cols.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS col, CAST(n AS BIGINT) AS n_rows,
         |  CAST(n - nn$i AS BIGINT) AS n_nulls, CAST(nd$i AS BIGINT) AS n_distinct,
         |  mn$i AS min_v, mx$i AS max_v, av$i AS mean_v FROM a""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH a AS (
       |  SELECT count(*) AS n,
       |    $inner
       |  FROM lineitem)
       |$branches
       |ORDER BY col""".stripMargin
  }

  /** Pairwise Pearson correlation matrix over lineitem's numeric measures
    * — the feature-stats pass run before any modeling on tabular data. All
    * six pairs come out of ONE aggregation pass (each corr is an
    * independent partial-aggregable state), unpivoted to tidy rows with
    * stack(). Scale shape: a single map-side-combining scan; no joins.
    */
  def corrMatrix(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 4).as("c1"),
        round(corr("l_quantity", "l_discount"), 4).as("c2"),
        round(corr("l_quantity", "l_tax"), 4).as("c3"),
        round(corr("l_extendedprice", "l_discount"), 4).as("c4"),
        round(corr("l_extendedprice", "l_tax"), 4).as("c5"),
        round(corr("l_discount", "l_tax"), 4).as("c6"))
      .select(expr(
        """stack(6,
          |  'l_quantity', 'l_extendedprice', c1,
          |  'l_quantity', 'l_discount', c2,
          |  'l_quantity', 'l_tax', c3,
          |  'l_extendedprice', 'l_discount', c4,
          |  'l_extendedprice', 'l_tax', c5,
          |  'l_discount', 'l_tax', c6) AS (var_a, var_b, r)""".stripMargin))
      .orderBy("var_a", "var_b")

  private val corrMatrixSql =
    """WITH a AS (
      |  SELECT
      |    round(corr(l_quantity, l_extendedprice), 4) AS c1,
      |    round(corr(l_quantity, l_discount), 4) AS c2,
      |    round(corr(l_quantity, l_tax), 4) AS c3,
      |    round(corr(l_extendedprice, l_discount), 4) AS c4,
      |    round(corr(l_extendedprice, l_tax), 4) AS c5,
      |    round(corr(l_discount, l_tax), 4) AS c6
      |  FROM lineitem)
      |SELECT 'l_quantity' AS var_a, 'l_extendedprice' AS var_b, c1 AS r FROM a
      |UNION ALL SELECT 'l_quantity', 'l_discount', c2 FROM a
      |UNION ALL SELECT 'l_quantity', 'l_tax', c3 FROM a
      |UNION ALL SELECT 'l_extendedprice', 'l_discount', c4 FROM a
      |UNION ALL SELECT 'l_extendedprice', 'l_tax', c5 FROM a
      |UNION ALL SELECT 'l_discount', 'l_tax', c6 FROM a
      |ORDER BY var_a, var_b""".stripMargin

  /** Linear-regression aggregate family (`regr_*`, SQL:2003): per-group
    * OLS fit of net revenue share on discount — slope, intercept, fit
    * quality, and the first moments the fit is built from. Like corr, each
    * regr_* is an independent partial-aggregable state (sums of x, y, xy,
    * x², y²), so the whole family is one map-side-combining scan with no
    * joins — the same single-pass shape at 100 TB. Slope/intercept are
    * rounded to 4 decimals: both engines accumulate in doubles and the
    * values are O(1), so summation-order drift (≲1e-12 relative at 600 k
    * rows) sits far below the rounding granularity.
    */
  def regression(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("regr_count(l_extendedprice, l_discount)").as("n"),
        round(expr("regr_slope(l_extendedprice, l_discount)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_discount)"), 4).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_discount)"), 4).as("r2"),
        round(expr("regr_avgx(l_extendedprice, l_discount)"), 4).as("avg_x"),
        round(expr("regr_avgy(l_extendedprice, l_discount)"), 4).as("avg_y"))
      .orderBy("l_returnflag")

  private val regressionSql =
    """SELECT l_returnflag,
      |  CAST(regr_count(l_extendedprice, l_discount) AS BIGINT) AS n,
      |  round(regr_slope(l_extendedprice, l_discount), 4) AS slope,
      |  round(regr_intercept(l_extendedprice, l_discount), 4) AS intercept,
      |  round(regr_r2(l_extendedprice, l_discount), 4) AS r2,
      |  round(regr_avgx(l_extendedprice, l_discount), 4) AS avg_x,
      |  round(regr_avgy(l_extendedprice, l_discount), 4) AS avg_y
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** `listagg ... WITHIN GROUP (ORDER BY ...)` (SQL:2016, Spark 4.0+) —
    * ordered string concatenation per group, the report-facing sibling of
    * the sorted collect_list query. The WITHIN GROUP order makes the
    * result deterministic; per-group state is the concatenated string, so
    * (like exact collect_list) it is for bounded groups — the grouping
    * here is supplier per nation, dimension-sized by construction.
    */
  def listaggSuppliers(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT n_name,
        |  CAST(count(*) AS BIGINT) AS n_suppliers,
        |  listagg(s_name, '|') WITHIN GROUP (ORDER BY s_name) AS supplier_roster
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  private val listaggSuppliersSql =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  string_agg(s_name, '|' ORDER BY s_name) AS supplier_roster
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Boolean aggregate family: `bool_and`/`bool_or` and their ANSI
    * spellings `every`/`any` — the data-quality assertion aggregates
    * ("does EVERY row in this partition satisfy the invariant?"). Plain
    * one-pass hash aggregation with map-side partials like any other agg.
    */
  def boolAggs(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT o_orderstatus,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  every(o_totalprice < 600000) AS every_under_600k,
        |  any(o_orderkey % 7 = 0) AS any_mod7
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val boolAggsSql =
    """SELECT o_orderstatus,
      |  bool_and(o_totalprice > 1000) AS all_over_1k,
      |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
      |  bool_and(o_totalprice < 600000) AS every_under_600k,
      |  bool_or(o_orderkey % 7 = 0) AS any_mod7
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Bitmap-bucketed EXACT distinct counting (Spark 3.5 bitmap
    * aggregates): keys bucket into 32k-bit bitmaps, bitmaps OR-merge
    * associatively, and the final distinct count is a sum of per-bucket
    * popcounts. Unlike raw `count(DISTINCT)` the partial state is
    * pre-aggregatable and rollup-able — the warehouse pattern for
    * incremental distinct counts over partitioned fact history (compute
    * per-partition bitmaps once, OR them for any ad-hoc slice) — and
    * unlike HLL it is exact. The oracle is the plain distinct count.
    */
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT o_orderstatus,
        |  CAST(sum(bitmap_count(per_bucket)) AS BIGINT) AS n_distinct_custkeys
        |FROM (
        |  SELECT o_orderstatus, bitmap_bucket_number(o_custkey) AS bkt,
        |    bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS per_bucket
        |  FROM orders GROUP BY 1, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  private val bitmapDistinctSql =
    """SELECT o_orderstatus,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_custkeys
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Apache DataSketches HLL (Spark 3.5 `hll_sketch_agg`) under the same
    * accuracy-contract oracle as the t-digest / GK queries: the checkable
    * columns are the exact distinct counts; one boolean per group asserts
    * the sketch estimate lies within 5% relative error (≳3× margin over
    * the lgK=12 sketch's 1.6% RSE on these cardinalities). Unlike
    * `approx_count_distinct`'s opaque HLL++, the sketch here is a
    * FIRST-CLASS value: `hll_union_agg` merges per-partition sketches,
    * which is the cross-slice distinct-count architecture at 100 TB.
    */
  def hllSketch(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT o_orderstatus,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_d,
        |  abs(hll_sketch_estimate(hll_sketch_agg(o_custkey)) -
        |      count(DISTINCT o_custkey)) / count(DISTINCT o_custkey)
        |    < 0.05 AS within_5pct
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  private val hllSketchSql =
    """SELECT o_orderstatus,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_d,
      |  true AS within_5pct
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Sketch-partial rollup across a PERSISTED boundary — the incremental
  // architecture a 100 TB distinct-count/quantile deployment actually
  // runs: per-(nation, year) sketch partials are WRITTEN to a pre-agg
  // table once (in production: once per ingest slice), and the
  // query-time merge reads ONLY that table — `hll_union_agg` over
  // ~25×7 sketches, a t-digest merge over ~3×7 digests — never the
  // base scan. [[hllSketch]]/[[tdigestQuantiles]] demonstrate the merge
  // algebra inside one plan; these two exercise it across the storage
  // boundary, which is what makes maintenance incremental (a new slice
  // appends one partial row; history is never rescanned). PlanSpec pins
  // that the estimate subtree scans the partials table only. The
  // oracle-checkable columns are exact (distinct counts / interpolated
  // percentiles from the base, which the output also needs for the
  // accuracy contract); the booleans assert the merged estimates land
  // inside the same tolerance contracts as the single-plan queries.
  // ------------------------------------------------------------------
  private def ordersFile(dir: String): Seq[String] = Seq(s"$dir/orders.parquet")

  /** The persisted HLL partials table: one lgK=12 sketch per (nation,
    * order year). Built once per fixture and memoized — it models a
    * MAINTAINED pre-agg table (built by ingest, read by every consumer),
    * so the build is corpus staging, not any single query's work (same
    * policy as the graph edge list and dedup labels; Bench pre-stages
    * it for the same reason).
    */
  private[graft] def hllPartials(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Derived.get(s, "agg.hllPartials", ordersFile(dir)) {
      val out = graft.Scratch.dir("graft-hll-partials")
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nationkey"),
          year(col("o_orderdate")).as("yr"))
        .agg(expr("hll_sketch_agg(o_custkey)").as("custkey_hll"))
        .write.mode("overwrite").parquet(out)
      out
    }
    graft.Tables.loadPath(s, path)
  }

  /** The merge side alone — per-nation estimate from partials only.
    * Separate method so PlanSpec can pin its scan set: exactly one file
    * scan, and it is the partials table, not orders.
    */
  private[graft] def hllMergedEstimate(s: SparkSession, dir: String): DataFrame =
    hllPartials(s, dir)
      .groupBy("nationkey")
      .agg(expr("hll_sketch_estimate(hll_union_agg(custkey_hll))").as("est"))

  def hllPartialMerge(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(countDistinct("o_custkey").as("exact_d"))
    exact.join(hllMergedEstimate(s, dir), col("c_nationkey") === col("nationkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("exact_d"),
        (abs(col("est").cast("double") - col("exact_d").cast("double"))
          / col("exact_d").cast("double") < 0.05).as("within_5pct"))
      .orderBy("n_name")
  }

  private val hllPartialMergeSql =
    """SELECT n_name, CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_d,
      |  true AS within_5pct
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The persisted t-digest partials table: one compression-100 digest
    * per (order status, year), the quantile twin of [[hllPartials]].
    */
  private[graft] def tdPartials(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Derived.get(s, "agg.tdPartials", ordersFile(dir)) {
      val out = graft.Scratch.dir("graft-td-partials")
      val build = udaf(new graft.functions.TDigestBuild(100.0),
        org.apache.spark.sql.Encoders.scalaDouble)
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
        .agg(build(col("o_totalprice")).as("price_td"))
        .write.mode("overwrite").parquet(out)
      out
    }
    graft.Tables.loadPath(s, path)
  }

  /** The digest-merge side alone (PlanSpec scan-set pin). */
  private[graft] def tdMergedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val mq = udaf(new graft.functions.TDigestMergeQuantile(Seq(0.5, 0.9), 100.0),
      org.apache.spark.sql.Encoders.product[graft.functions.TDigestState])
    // case-class input encoders flatten to one argument per field
    tdPartials(s, dir)
      .groupBy("o_orderstatus")
      .agg(mq(col("price_td.means"), col("price_td.weights"),
        col("price_td.pending"), col("price_td.nPending")).as("td"))
  }

  def tdigestPartialMerge(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, array(0.5, 0.9))").as("x"))
    exact.join(tdMergedQuantiles(s, dir), Seq("o_orderstatus"))
      .select(col("o_orderstatus"),
        round(element_at(col("x"), 1), 2).as("exact_p50"),
        round(element_at(col("x"), 2), 2).as("exact_p90"),
        (abs(element_at(col("td"), 1) - element_at(col("x"), 1))
          / element_at(col("x"), 1) < 0.02).as("p50_within_2pct"),
        (abs(element_at(col("td"), 2) - element_at(col("x"), 2))
          / element_at(col("x"), 2) < 0.02).as("p90_within_2pct"))
      .orderBy("o_orderstatus")
  }

  private val tdigestPartialMergeSql =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS exact_p90,
      |  true AS p50_within_2pct, true AS p90_within_2pct
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Kaplan–Meier survival estimator over user lifetimes — the standard
    * right-censored "how long do users stay active" curve (lifetime =
    * whole hours between a user's first and last event; users still
    * active in the last 24 h of the window are CENSORED, not dead —
    * dropping them, or counting them as deaths, both bias the curve;
    * hour granularity because the fixture's event window is only 30 days
    * and every user spans most of it, so day buckets degenerate). At each
    * death time tᵢ: S(tᵢ) = Π(1 − dⱼ/nⱼ) over j ≤ i, with the at-risk
    * count nⱼ derived from one exact-integer running sum (total minus
    * everyone already gone); lifetimes are exact integer µs divisions,
    * never boundary-counting datediffs (the two engines disagree on
    * those). Scale shape: one user-keyed shuffle collapses the event log
    * to per-user lifetimes; everything after runs on the hours-bounded
    * distinct-lifetime frame, so the two global windows are tiny. The
    * product is exp(Σ ln(·)) with the identical expression on both
    * engines (the repo's established ln-parity discipline).
    */
  def survivalKm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val per = ev.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val cut = ev.agg((max(col("ts")) - expr("INTERVAL 24 HOURS")).as("cutoff"))
    val life = per.crossJoin(broadcast(cut))
      .select(
        expr("(unix_micros(last_ts) - unix_micros(first_ts)) div 3600000000")
          .as("t"),
        (col("last_ts") > col("cutoff")).as("censored"))
    val byT = life.groupBy("t")
      .agg(count(when(!col("censored"), 1)).as("d"),
        count(when(col("censored"), 1)).as("c"))
    val tot = life.agg(count(lit(1)).as("total"))
    val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("total") - sum(col("d") + col("c")).over(wCum) + col("d") + col("c"))
      .filter(col("d") > 0)
      .withColumn("survival",
        round(exp(sum(log(expr("CAST(n_risk - d AS DOUBLE) / n_risk"))).over(wCum)), 4))
      .select(col("t").cast("int").as("t_hours"), col("n_risk"),
        col("d").as("n_deaths"), col("survival"))
      .orderBy("t_hours")
  }

  private val survivalKmSql =
    """WITH per AS (
      |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      |  FROM events GROUP BY user_id
      |), cut AS (
      |  SELECT max(ts) - INTERVAL 24 HOUR AS cutoff FROM events
      |), life AS (
      |  SELECT (epoch_us(last_ts) - epoch_us(first_ts)) // 3600000000 AS t,
      |    (last_ts > cutoff) AS censored
      |  FROM per CROSS JOIN cut
      |), byt AS (
      |  SELECT t, CAST(count(CASE WHEN NOT censored THEN 1 END) AS BIGINT) AS d,
      |    CAST(count(CASE WHEN censored THEN 1 END) AS BIGINT) AS c
      |  FROM life GROUP BY t
      |), tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM life),
      |risk AS (
      |  SELECT t, d, c,
      |    CAST(total - sum(d + c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + d + c
      |      AS BIGINT) AS n_risk
      |  FROM byt CROSS JOIN tot)
      |SELECT CAST(t AS INT) AS t_hours, n_risk, d AS n_deaths,
      |  round(exp(sum(ln(CAST(n_risk - d AS DOUBLE) / n_risk)) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) AS survival
      |FROM risk WHERE d > 0 ORDER BY t_hours""".stripMargin

  /** Ordered-set aggregates (`WITHIN GROUP`): `percentile_disc` picks an
    * ACTUAL data value (no interpolation — exact on any type, no float
    * boundary risk), `percentile_cont` interpolates; both declared side
    * by side on 2-dp prices where disc is trivially hash-exact and cont
    * rounds. Same single-sort-per-group execution as the percentile
    * query; the t-digest/GK queries remain the bounded-memory path.
    */
  def percentileDisc(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT o_orderstatus,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_disc,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)
        |    AS median_cont
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val percentileDiscSql =
    """SELECT o_orderstatus,
      |  quantile_disc(o_totalprice, 0.5) AS median_disc,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS median_cont
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Gini coefficient of customer spend per market segment — the standard
    * inequality measure for "is this segment's revenue concentrated in a
    * few whales". Uses the rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    * over ascending-sorted spend, which is tie-order-invariant (equal x
    * contribute the same Σ i·xᵢ under any permutation of their ranks).
    * Scale shape: one custkey-keyed agg, a broadcast dim join, then one
    * per-segment sort for ranks and a hash-agg — the same single-exchange
    * shape as every per-key window in the window module.
    */
  def giniSpend(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir).groupBy("o_custkey")
      .agg(sum("o_totalprice").as("spend"))
    val cust = broadcast(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("spend").asc, col("o_custkey").asc)
    spend.join(cust, col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        SharedExprs.sumCents("spend").as("total_spend"),
        round(lit(2.0) * sum(col("rk") * col("spend"))
            / (count(lit(1)) * sum("spend"))
          - (count(lit(1)) + 1).cast("double") / count(lit(1)), 4).as("gini"))
      .orderBy("c_mktsegment")
  }

  private val giniSpendSql =
    s"""WITH spend AS (
      |  SELECT o_custkey, sum(o_totalprice) AS spend
      |  FROM orders GROUP BY 1
      |), ranked AS (
      |  SELECT c_mktsegment, spend,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY spend ASC, o_custkey ASC) AS rk
      |  FROM spend JOIN customer ON o_custkey = c_custkey)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
      |  ${SharedExprs.dSumCentsSql("spend")} AS total_spend,
      |  round(2.0 * sum(rk * spend) / (count(*) * sum(spend))
      |    - CAST(count(*) + 1 AS DOUBLE) / count(*), 4) AS gini
      |FROM ranked GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** Welch's two-sample t-test: does the `value` distribution differ
    * between purchase and click events? Means, sample variances, the
    * t statistic and Welch–Satterthwaite degrees of freedom, all from ONE
    * conditional-aggregation pass (no per-group subqueries, no second
    * scan). At scale this is a single map-side-combinable hash-agg over
    * the event log collapsing to one row.
    */
  def welchTtest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("x", when(col("event_type") === "purchase", col("value")))
      .withColumn("y", when(col("event_type") === "click", col("value")))
    ev.agg(
        count(col("x")).as("n1"), avg(col("x")).as("m1"), var_samp(col("x")).as("v1"),
        count(col("y")).as("n2"), avg(col("y")).as("m2"), var_samp(col("y")).as("v2"))
      .select(
        col("n1"), round(col("m1"), 4).as("mean_purchase"),
        col("n2"), round(col("m2"), 4).as("mean_click"),
        round((col("m1") - col("m2"))
          / sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 4).as("t_stat"),
        round(pow(col("v1") / col("n1") + col("v2") / col("n2"), 2)
          / (pow(col("v1") / col("n1"), 2) / (col("n1") - 1)
            + pow(col("v2") / col("n2"), 2) / (col("n2") - 1)), 2).as("welch_df"))
  }

  private val welchTtestSql =
    """WITH stats AS (
      |  SELECT
      |    count(x) AS n1, avg(x) AS m1, var_samp(x) AS v1,
      |    count(y) AS n2, avg(y) AS m2, var_samp(y) AS v2
      |  FROM (
      |    SELECT CASE WHEN event_type = 'purchase' THEN value END AS x,
      |           CASE WHEN event_type = 'click' THEN value END AS y
      |    FROM events WHERE event_type IN ('purchase', 'click')))
      |SELECT n1, round(m1, 4) AS mean_purchase,
      |  n2, round(m2, 4) AS mean_click,
      |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
      |  round(pow(v1 / n1 + v2 / n2, 2)
      |    / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 2) AS welch_df
      |FROM stats""".stripMargin

  /** Shannon entropy of each user's event-type mix — the behavioral-
    * diversity feature (H = ln n − Σ c·ln c / n over per-type counts, so
    * the ln work is per-DISTINCT-type, bounded by the type alphabet).
    * Two map-side-combinable hash-aggs: (user, type) counts, then the
    * per-user fold.
    */
  def eventEntropy(s: SparkSession, dir: String): DataFrame = {
    val tc = Tables.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    tc.groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
        round(log(sum("c").cast("double"))
          - sum(col("c").cast("double") * log(col("c").cast("double"))) / sum("c"),
          4).as("entropy"))
      .orderBy("user_id")
  }

  private val eventEntropySql =
    """WITH tc AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  round(ln(CAST(sum(c) AS DOUBLE))
      |    - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 4) AS entropy
      |FROM tc GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Pearson chi-square independence test over the (source × lang)
    * contingency table — "is language mix independent of source", the
    * statistical gate behind stratification decisions. The full grid is
    * materialized (absent cells contribute their expected mass, which a
    * cells-only sum would silently drop) and every total is an integer
    * count, so both engines agree exactly until the final χ² division.
    * Scale shape: one corpus scan collapses to a (sources × langs)
    * contingency grid; all arithmetic after that is grid-sized.
    */
  def chiSquare(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy("source").agg(sum("o").as("rt"))
    val colT = cells.groupBy("lang").agg(sum("o").as("ct"))
    val tot = cells.agg(sum("o").cast("double").as("n"))
    val dims = cells.agg(countDistinct("source").as("r"), countDistinct("lang").as("c"))
    val grid = cells.select("source").distinct()
      .crossJoin(cells.select("lang").distinct())
    grid.join(cells, Seq("source", "lang"), "left")
      .na.fill(0, Seq("o"))
      .join(broadcast(rowT), "source")
      .join(broadcast(colT), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rt") * col("ct") / col("n"))
      .agg(count(lit(1)).as("n_cells"),
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 4).as("chi2"))
      .crossJoin(broadcast(dims))
      .select(col("n_cells"), col("chi2"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"))
  }

  private val chiSquareSql =
    """WITH cells AS (
      |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
      |), rt AS (SELECT source, sum(o) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT lang, sum(o) AS ct FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM cells),
      |dims AS (
      |  SELECT count(DISTINCT source) AS r, count(DISTINCT lang) AS c FROM cells),
      |grid AS (
      |  SELECT s.source, l.lang
      |  FROM (SELECT DISTINCT source FROM cells) s
      |  CROSS JOIN (SELECT DISTINCT lang FROM cells) l),
      |vals AS (
      |  SELECT coalesce(cells.o, 0) AS o,
      |    CAST(rt.rt AS DOUBLE) * ct.ct / tot.n AS e
      |  FROM grid
      |  LEFT JOIN cells ON grid.source = cells.source AND grid.lang = cells.lang
      |  JOIN rt ON grid.source = rt.source
      |  JOIN ct ON grid.lang = ct.lang
      |  CROSS JOIN tot)
      |SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |  round(sum(pow(o - e, 2) / e), 4) AS chi2,
      |  CAST((dims.r - 1) * (dims.c - 1) AS BIGINT) AS dof
      |FROM vals CROSS JOIN dims GROUP BY dims.r, dims.c""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic: D = max |F₁(x) − F₂(x)|
    * between the purchase and click value distributions, with the α=0.05
    * decision at the asymptotic critical value 1.358·√((n₁+n₂)/(n₁n₂)).
    * The ECDFs come from exact integer running counts over the DISTINCT
    * values (ties collapse first, so the ECDF is evaluated after each
    * jump — the correct tie handling), and every division is a single
    * exact-int quotient, so both engines agree bit-for-bit before the one
    * rounding. Scale shape: `value` is QUANTIZED to a fixed 1/64 grid
    * (`floor(value·64)` — exact IEEE754 on both engines) BEFORE the
    * global-order window, the standard streaming-KS treatment: for a
    * continuous metric the distinct-value collapse alone barely reduces
    * cardinality, so without the grid the single-partition sort is
    * event-log-sized. The grid bounds the frame at the value range × 64
    * cells and bounds D's error by the grid width; the oracle applies the
    * identical grid, so parity is exact.
    */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
    val vals = ev.groupBy(expr("CAST(floor(value * 64) AS BIGINT)").as("qv")).agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c1"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c2"))
    val tot = ev.agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n1"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n2"))
    val w = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, 0)
    vals
      .withColumn("r1", sum("c1").over(w))
      .withColumn("r2", sum("c2").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("d", abs(col("r1").cast("double") / col("n1")
        - col("r2").cast("double") / col("n2")))
      .agg(max("n1").as("n1"), max("n2").as("n2"), round(max("d"), 4).as("ks_d"))
      .withColumn("reject_05", col("ks_d") > lit(1.358)
        * sqrt((col("n1") + col("n2")).cast("double") / (col("n1") * col("n2"))))
  }

  private val ksTestSql =
    """WITH ev AS (
      |  SELECT value, event_type FROM events
      |  WHERE event_type IN ('purchase', 'click')
      |), vals AS (
      |  SELECT CAST(floor(value * 64) AS BIGINT) AS qv,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
      |  FROM ev GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM ev
      |), ecdf AS (
      |  SELECT
      |    sum(c1) OVER (ORDER BY qv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1,
      |    sum(c2) OVER (ORDER BY qv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
      |  FROM vals
      |), agg AS (
      |  SELECT max(n1) AS n1, max(n2) AS n2,
      |    round(max(abs(CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2)), 4) AS ks_d
      |  FROM ecdf CROSS JOIN tot)
      |SELECT n1, n2, ks_d,
      |  ks_d > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)) AS reject_05
      |FROM agg""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum): are purchase values
    * stochastically larger than click values? U₁ = R₁ − n₁(n₁+1)/2 from
    * AVERAGE ranks over the pooled sample — computed tie-correctly from
    * the collapsed distinct-value frame: a value run spanning ranks
    * [r+1, r+c] contributes average rank r + (c+1)/2 to each member, so
    * every quantity is an exact rational with denominator 2 and both
    * engines agree bit-for-bit. The z approximation uses the tie-corrected
    * variance. Completes the nonparametric family next to Welch (means)
    * and KS (distributions). Same scale shape as the KS test: quantize to
    * the fixed 1/64 grid first (ranks become grid-cell ranks — the tie
    * structure both engines share exactly), one global window over that
    * grid-bounded frame, never the raw event-log-sized distinct set.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
    val vals = ev.groupBy(expr("CAST(floor(value * 64) AS BIGINT)").as("qv")).agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c1"),
      count(lit(1)).as("c"))
    val w = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, -1)
    val tot = ev.agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n1"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n2"))
    vals
      .withColumn("r_before", coalesce(sum("c").over(w), lit(0L)))
      // average rank of this value's run × its sample-1 members; kept as
      // 2×rank integers so the fold is exact
      .withColumn("two_r1", col("c1") * (lit(2) * col("r_before") + col("c") + 1))
      .crossJoin(broadcast(tot))
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        (sum("two_r1") / 2.0).as("r1"),
        sum(col("c") * col("c") * col("c") - col("c")).as("tie_term"))
      .withColumn("u1", col("r1") - col("n1") * (col("n1") + 1) / 2.0)
      .withColumn("mu", col("n1") * col("n2") / 2.0)
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("sigma", sqrt(
        (col("n1") * col("n2")).cast("double") / 12.0
          * ((col("n") + 1).cast("double")
            - col("tie_term").cast("double") / (col("n") * (col("n") - 1)))))
      .select(col("n1"), col("n2"), round(col("u1"), 1).as("u1"),
        round((col("u1") - col("mu")) / col("sigma"), 4).as("z"))
  }

  private val mannWhitneySql =
    """WITH ev AS (
      |  SELECT value, event_type FROM events
      |  WHERE event_type IN ('purchase', 'click')
      |), vals AS (
      |  SELECT CAST(floor(value * 64) AS BIGINT) AS qv,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
      |    count(*) AS c
      |  FROM ev GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM ev
      |), ranked AS (
      |  SELECT c1, c,
      |    coalesce(sum(c) OVER (ORDER BY qv
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r_before
      |  FROM vals
      |), agg AS (
      |  SELECT max(n1) AS n1, max(n2) AS n2,
      |    sum(c1 * (2 * r_before + c + 1)) / 2.0 AS r1,
      |    sum(c * c * c - c) AS tie_term
      |  FROM ranked CROSS JOIN tot
      |), st AS (
      |  SELECT n1, n2, r1 - n1 * (n1 + 1) / 2.0 AS u1,
      |    n1 * n2 / 2.0 AS mu, n1 + n2 AS n, tie_term
      |  FROM agg)
      |SELECT n1, n2, round(u1, 1) AS u1,
      |  round((u1 - mu) / sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
      |    * (CAST(n + 1 AS DOUBLE)
      |      - CAST(tie_term AS DOUBLE) / (n * (n - 1)))), 4) AS z
      |FROM st""".stripMargin

  /** Benford first-digit audit over order totals — the classic synthetic-
    * data / fraud screen: observed first-significant-digit shares vs the
    * Benford expectation log10(1+1/d). The digit is extracted through an
    * integer-string path (floor → BIGINT → first char), never floating
    * log10-of-value, so both engines bucket identically; shares are
    * exact-int divisions. One scan → 9-row grid; all post-agg arithmetic
    * is grid-sized.
    */
  def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir).withColumn("digit", expr(
      "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)"))
    val tot = d.agg(count(lit(1)).as("n"))
    d.groupBy("digit").agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_orders"),
        round(col("n_orders") / col("n"), 4).as("share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 4).as("benford"),
        round(col("n_orders") / col("n")
          - log10(lit(1.0) + lit(1.0) / col("digit")), 4).as("excess"))
      .orderBy("digit")
  }

  private val benfordDigitsSql =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders
      |), tot AS (SELECT count(*) AS n FROM d)
      |SELECT digit, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(count(*) / CAST(n AS DOUBLE), 4) AS share,
      |  round(log10(1.0 + 1.0 / digit), 4) AS benford,
      |  round(count(*) / CAST(n AS DOUBLE) - log10(1.0 + 1.0 / digit), 4) AS excess
      |FROM d CROSS JOIN tot GROUP BY digit, n ORDER BY digit""".stripMargin

  /** Isotonic regression of 1995 daily revenue on time — the monotone
    * least-squares fit (the calibration primitive behind isotonic
    * probability calibration and monotone trend extraction), computed by
    * the exact MINIMAX characterization of the PAVA solution:
    * fit_i = max_{j≤i} min_{k≥i} mean(y_j..y_k). Sequential
    * pool-adjacent-violators doesn't distribute; the minimax form does:
    * interval means come from exact integer prefix sums (one O(n²) pair
    * frame over the DAYS-bounded series, ~67k rows for a year — never
    * row-level data), the inner min is one per-j running min over k
    * descending, the outer max one per-i running max over j ascending —
    * two partitioned windows on the pair frame. Determinism: every mean
    * is (S_k − S_{j−1})/(k−j+1) over exact cents, and min/max only ever
    * SELECT among identical doubles. The fit is non-decreasing by
    * construction (InvariantSpec pins it, plus the pool-mean property).
    */
  def isotonicFit(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .filter(year(col("o_orderdate").cast("date")) === 1995)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(expr("CAST(round(sum(o_totalprice) * 100) AS BIGINT)").as("rc"))
    val wIdx = Window.orderBy("day")
    val idxd = daily
      .withColumn("idx", row_number().over(wIdx).cast("long"))
      .withColumn("s", sum("rc").over(
        wIdx.rowsBetween(Window.unboundedPreceding, 0)))
    val js = idxd.select(col("idx").as("j"), (col("s") - col("rc")).as("s_before"))
    val ks = idxd.select(col("idx").as("k"), col("s").as("s_k"))
    val pairs = js.join(ks, col("k") >= col("j"))
      .select(col("j"), col("k"),
        ((col("s_k") - col("s_before")).cast("double") /
          (col("k") - col("j") + 1).cast("double")).as("m"))
    val innerMin = pairs
      .withColumn("rm", min("m").over(
        Window.partitionBy("j").orderBy(col("k").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("j"), col("k").as("i"), col("rm"))
    val fit = innerMin
      .withColumn("fit", max("rm").over(
        Window.partitionBy("i").orderBy(col("j").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("j") === col("i"))
      .select(col("i").as("idx"), col("fit"))
    idxd.join(fit, "idx")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("rc") / 100.0, 2).as("revenue"),
        round(col("fit") / 100.0, 2).as("iso_fit"))
      .orderBy("day")
  }

  private val isotonicFitSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rc
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1
      |), idxd AS (
      |  SELECT day, rc,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
      |    CAST(sum(rc) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
      |  FROM daily
      |), pairs AS (
      |  SELECT j.idx AS j, k.idx AS k,
      |    CAST(k.s - (j.s - j.rc) AS DOUBLE) / CAST(k.idx - j.idx + 1 AS DOUBLE) AS m
      |  FROM idxd j JOIN idxd k ON k.idx >= j.idx
      |), inner_min AS (
      |  SELECT j, k AS i,
      |    min(m) OVER (PARTITION BY j ORDER BY k DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
      |  FROM pairs
      |), fit AS (
      |  SELECT i, rm,
      |    max(rm) OVER (PARTITION BY i ORDER BY j ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f,
      |    j
      |  FROM inner_min)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  round(rc / 100.0, 2) AS revenue,
      |  round(f / 100.0, 2) AS iso_fit
      |FROM idxd JOIN (SELECT i AS idx, f FROM fit WHERE j = i) USING (idx)
      |ORDER BY day""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("agg_isotonic_fit", isotonicFit, Some(isotonicFitSql)),
    QueryDef("agg_benford_digits", benfordDigits, Some(benfordDigitsSql)),
    QueryDef("agg_mann_whitney", mannWhitney, Some(mannWhitneySql)),
    QueryDef("agg_ks_test", ksTest, Some(ksTestSql)),
    QueryDef("agg_chi_square", chiSquare, Some(chiSquareSql)),
    QueryDef("agg_event_entropy", eventEntropy, Some(eventEntropySql)),
    QueryDef("agg_gini_spend", giniSpend, Some(giniSpendSql)),
    QueryDef("agg_welch_ttest", welchTtest, Some(welchTtestSql)),
    QueryDef("agg_percentile_disc", percentileDisc, Some(percentileDiscSql)),
    QueryDef("agg_survival_km", survivalKm, Some(survivalKmSql)),
    QueryDef("agg_bitmap_distinct", bitmapDistinct, Some(bitmapDistinctSql)),
    QueryDef("agg_hll_sketch", hllSketch, Some(hllSketchSql)),
    QueryDef("agg_hll_partial_merge", hllPartialMerge, Some(hllPartialMergeSql)),
    QueryDef("agg_tdigest_partial_merge", tdigestPartialMerge, Some(tdigestPartialMergeSql)),
    QueryDef("agg_bool_aggs", boolAggs, Some(boolAggsSql)),
    QueryDef("agg_listagg_roster", listaggSuppliers, Some(listaggSuppliersSql)),
    QueryDef("agg_regression", regression, Some(regressionSql)),
    QueryDef("agg_retention_cohorts", retentionCohorts, Some(retentionCohortsSql)),
    QueryDef("agg_data_profile", dataProfile, Some(dataProfileSql)),
    QueryDef("agg_data_profile_approx", dataProfileApprox, Some(dataProfileApproxSql)),
    QueryDef("agg_corr_matrix", corrMatrix, Some(corrMatrixSql)),
    QueryDef("agg_countmin_heavy_hitters", countMinHeavyHitters, Some(countMinHeavyHittersSql)),
    QueryDef("q01_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    QueryDef("agg_distinct_counts", distinctCounts, Some(distinctCountsSql)),
    QueryDef("agg_rollup_orders", rollupOrders, Some(rollupOrdersSql)),
    QueryDef("agg_cube_flags", cubeFlags, Some(cubeFlagsSql)),
    QueryDef("agg_grouping_sets", groupingSets, Some(groupingSetsSql)),
    QueryDef("agg_collect_linenumbers", collectLinenumbers, Some(collectLinenumbersSql)),
    QueryDef("agg_percentiles_by_flag", percentilesByFlag, Some(percentilesByFlagSql)),
    QueryDef("agg_approx_percentile", approxPercentileBounds, Some(approxPercentileBoundsSql)),
    QueryDef("agg_tdigest_quantiles", tdigestQuantiles, Some(tdigestQuantilesSql)),
    QueryDef("agg_stats_by_flag", statsByFlag, Some(statsByFlagSql)),
    QueryDef("agg_min_max_by", minMaxBy, Some(minMaxBySql)),
    QueryDef("agg_mode_per_group", modePerGroup, Some(modePerGroupSql)),
    QueryDef("agg_approx_distinct", approxDistinct, None)
  )
}
