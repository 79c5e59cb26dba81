package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / time-series analytics beyond the TPC-H shapes: rank
  * correlation, k-sample ANOVA, interval union, OHLC downsampling, PMI
  * collocations and an epoch-capped mixture plan.
  *
  * Determinism discipline (same as TpchQueries): money is pinned to
  * integer cents before any aggregation; rank statistics use doubled
  * average ranks so tie handling is exact integer arithmetic; the only
  * doubles are final scalar expressions computed with the identical
  * operation tree in Spark and DuckDB, then rounded.
  *
  * Scale discipline: every window is partitioned by a grouping key that
  * grows with the data (nation, customer, event_type×bucket) — there is no
  * unpartitioned global sort in this module. Group-count frames (5
  * priorities, 25 nations, ~600 bars) are the only single-partition
  * reductions.
  */
object AnalyticsQueries extends QueryModule {

  /** Daily order revenue in exact integer cents: (day, x). */
  private def dailyCents(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))

  // ------------------------------------------------------------------
  // Spearman rank correlation, per nation, between a customer's account
  // balance and their lifetime spend. Average ranks for ties are kept as
  // exact integers by doubling (2·avg_rank = 2·min_rank + ties − 1); the
  // Pearson formula over the doubled ranks runs in exact BIGINT sums and
  // only the final normalization is floating point. Both rank windows are
  // partitioned by nation — no global sort.
  // ------------------------------------------------------------------
  def spearmanCorr(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_c"))
    val cust = Tables.customer(s, dir)
      .withColumn("bal_c", expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
      .select("c_custkey", "c_nationkey", "bal_c")
    val n = broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name"))
    val base = spend.join(cust, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "c_custkey", "bal_c", "spend_c")
    val rx = rank().over(Window.partitionBy("n_name").orderBy("bal_c")) * 2 +
      count(lit(1)).over(Window.partitionBy("n_name", "bal_c")) - 3
    val ry = rank().over(Window.partitionBy("n_name").orderBy("spend_c")) * 2 +
      count(lit(1)).over(Window.partitionBy("n_name", "spend_c")) - 3
    // rank products go through DECIMAL(19,0)² → DECIMAL(38,0) sums (4n³
    // with doubled ranks overflows BIGINT once a partition holds ~1.3M
    // rows — the same guard anovaF/hhi/autocorr use); the normalized
    // formula then runs in doubles computed identically on both engines.
    def sq(a: String, b: String) =
      sum(expr(s"CAST($a AS DECIMAL(19,0)) * CAST($b AS DECIMAL(19,0))"))
        .cast("double")
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    base
      .withColumn("rx", rx.cast("long")).withColumn("ry", ry.cast("long"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum("rx").as("sx"), sum("ry").as("sy"),
        sq("rx", "ry").as("sxy"), sq("rx", "rx").as("sxx"),
        sq("ry", "ry").as("syy"))
      .select(col("n_name"), col("n_customers"),
        round((d(col("n_customers")) * col("sxy") - d(col("sx")) * d(col("sy"))) /
          sqrt((d(col("n_customers")) * col("sxx") - d(col("sx")) * d(col("sx"))) *
            (d(col("n_customers")) * col("syy") - d(col("sy")) * d(col("sy")))),
          6).as("rho"))
      .orderBy("n_name")
  }

  // rank()*2 + ties − 3 == 2·avg_rank − 2: a constant shift (invariant for
  // the correlation) that keeps every tie-averaged rank an exact integer.
  private val spearmanCorrSql =
    """WITH base AS (
      |  SELECT n_name, c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c, spend_c
      |  FROM (SELECT o_custkey,
      |          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |            AS spend_c
      |        FROM orders GROUP BY 1) sp
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |ranked AS (
      |  SELECT n_name,
      |    CAST(rank() OVER (PARTITION BY n_name ORDER BY bal_c) * 2
      |      + count(*) OVER (PARTITION BY n_name, bal_c) - 3 AS BIGINT) AS rx,
      |    CAST(rank() OVER (PARTITION BY n_name ORDER BY spend_c) * 2
      |      + count(*) OVER (PARTITION BY n_name, spend_c) - 3 AS BIGINT) AS ry
      |  FROM base)
      |SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
      |  round((CAST(count(*) AS DOUBLE)
      |      * CAST(sum(CAST(rx AS HUGEINT) * ry) AS DOUBLE)
      |      - CAST(sum(rx) AS DOUBLE) * CAST(sum(ry) AS DOUBLE))
      |    / sqrt((CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(rx AS HUGEINT) * rx) AS DOUBLE)
      |        - CAST(sum(rx) AS DOUBLE) * CAST(sum(rx) AS DOUBLE))
      |      * (CAST(count(*) AS DOUBLE)
      |        * CAST(sum(CAST(ry AS HUGEINT) * ry) AS DOUBLE)
      |        - CAST(sum(ry) AS DOUBLE) * CAST(sum(ry) AS DOUBLE))),
      |    6) AS rho
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // One-way ANOVA F across the five order priorities on order value.
  // Group sums and sums-of-squares are exact (cents in BIGINT, squares in
  // DECIMAL(38,0) / HUGEINT); the between/within decomposition happens in
  // doubles over the 5-row group-stat frame where ordering noise is ~1
  // ulp of 1e19 against an F rounded at 4 dp.
  // ------------------------------------------------------------------
  def anovaF(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(s, dir)
      .withColumn("x", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_g"), sum("x").as("s_g"),
        sum(expr("CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))"))
          .as("ss_g"))
    g.agg(count(lit(1)).as("k"), sum("n_g").as("n"),
        sum("s_g").as("t"),
        sum(col("ss_g")).cast("double").as("ss_all"),
        sum(col("s_g").cast("double") * col("s_g").cast("double")
          / col("n_g").cast("double")).as("a"))
      .select(col("k"), col("n"),
        round(((col("a") - col("t").cast("double") * col("t").cast("double")
            / col("n").cast("double")) / (col("k") - 1).cast("double")) /
          ((col("ss_all") - col("a")) / (col("n") - col("k")).cast("double")),
          4).as("f_stat"))
  }

  private val anovaFSql =
    """WITH g AS (
      |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_g,
      |    CAST(sum(x) AS BIGINT) AS s_g,
      |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ss_g
      |  FROM (SELECT o_orderpriority,
      |          CAST(round(o_totalprice * 100) AS BIGINT) AS x
      |        FROM orders) t
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
      |    CAST(sum(s_g) AS BIGINT) AS t, CAST(sum(ss_g) AS DOUBLE) AS ss_all,
      |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
      |      / CAST(n_g AS DOUBLE)) AS a
      |  FROM g)
      |SELECT k, n,
      |  round(((a - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(k - 1 AS DOUBLE)) /
      |    ((ss_all - a) / CAST(n - k AS DOUBLE)), 4) AS f_stat
      |FROM tot""".stripMargin

  // ------------------------------------------------------------------
  // Interval union (merge overlapping intervals): each order opens a
  // 30-day activity window; per customer, overlapping windows merge into
  // islands via the classic running-max-of-end scan — a window partitioned
  // by customer, never global. Output is the distribution of merged-island
  // counts with exact day totals.
  // ------------------------------------------------------------------
  def intervalMerge(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").as("start"),
      (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("end"))
    val wPrev = Window.partitionBy("o_custkey")
      .orderBy(col("start"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("o_custkey")
      .orderBy(col("start"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = iv
      .withColumn("prev_end", max("end").over(wPrev))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("start") >= col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("new_island").over(wRun))
      .groupBy("o_custkey", "island")
      .agg(min("start").as("is_start"), max("end").as("is_end"))
    val perCust = islands.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_islands"),
        sum(datediff(col("is_end"), col("is_start")).cast("long"))
          .as("covered_days"))
    perCust.groupBy("n_islands")
      .agg(count(lit(1)).as("n_customers"),
        sum("covered_days").as("total_covered_days"))
      .orderBy("n_islands")
  }

  private val intervalMergeSql =
    """WITH iv AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate AS st,
      |    o_orderdate + INTERVAL 30 DAY AS en
      |  FROM orders),
      |flagged AS (
      |  SELECT o_custkey, st, en,
      |    CASE WHEN max(en) OVER (PARTITION BY o_custkey
      |        ORDER BY st, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR st >= max(en) OVER (PARTITION BY o_custkey
      |        ORDER BY st, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS new_island,
      |    o_orderkey
      |  FROM iv),
      |islands AS (
      |  SELECT o_custkey,
      |    sum(new_island) OVER (PARTITION BY o_custkey
      |      ORDER BY st, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
      |    st, en
      |  FROM flagged),
      |merged AS (
      |  SELECT o_custkey, island, min(st) AS is_start, max(en) AS is_end
      |  FROM islands GROUP BY 1, 2),
      |per_cust AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_islands,
      |    CAST(sum(date_diff('day', is_start, is_end)) AS BIGINT)
      |      AS covered_days
      |  FROM merged GROUP BY 1)
      |SELECT n_islands, CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(covered_days) AS BIGINT) AS total_covered_days
      |FROM per_cust GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // OHLC bars: downsample the event stream into 6-hour bars per event
  // type — open/close via row_number at the bar edges (ts, event_id is a
  // total order), high/low/count as plain aggregates. The window is
  // partitioned per (type, bar): at 100 TB each bar's events hash to one
  // reducer and bars parallelize freely.
  // ------------------------------------------------------------------
  def ohlcBars(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("bar", expr("unix_micros(ts) div 21600000000"))
    val w = Window.partitionBy("event_type", "bar")
    val asc = w.orderBy(col("ts"), col("event_id"))
    val desc0 = w.orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc0))
      .groupBy("event_type", "bar")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max("value").as("high"), min("value").as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"))
      .select(col("event_type"),
        date_format(expr("timestamp_micros(bar * 21600000000)"),
          "yyyy-MM-dd HH:mm:ss").as("bar_start"),
        col("n_events"), col("open"), col("high"), col("low"), col("close"))
      .orderBy("event_type", "bar_start")
  }

  private val ohlcBarsSql =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 21600000000 AS bar, ts, event_id,
      |    value
      |  FROM events),
      |rn AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, bar
      |      ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, bar
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM e)
      |SELECT event_type,
      |  strftime(make_timestamp(bar * 21600000000), '%Y-%m-%d %H:%M:%S')
      |    AS bar_start,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  max(value) AS high, min(value) AS low,
      |  max(CASE WHEN rn_d = 1 THEN value END) AS close
      |FROM rn GROUP BY event_type, bar
      |ORDER BY event_type, bar_start""".stripMargin

  // ------------------------------------------------------------------
  // PMI collocations: top-20 bigrams by pointwise mutual information with
  // a min-count gate. Margins roll up FROM the bigram counts (one corpus
  // explode, three consumers); the PMI log runs over an exact integer
  // rational so both engines see identical doubles.
  // ------------------------------------------------------------------
  private val toks = SharedExprs.toks
  private val dToks = SharedExprs.dToks

  def pmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(expr(toks).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))"""
          .stripMargin)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val m1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val m2 = c12.groupBy("w2").agg(sum("c12").as("c2"))
    val tot = c12.agg(sum("c12").as("n"))
    c12.filter(col("c12") >= 5)
      .join(m1, "w1").join(m2, "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi",
        round(log(col("n").cast("double") * col("c12").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))), 6))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(20)
      .select("w1", "w2", "c12", "pmi")
  }

  private val pmiCollocationsSql =
    s"""WITH tk AS (
       |  SELECT $dToks AS tk FROM documents
       |), bg AS (
       |  SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
       |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
       |        FROM tk WHERE len(tk) >= 2)
       |), c AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
       |), m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1
       |), m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c GROUP BY 1
       |), tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM c)
       |SELECT w1, w2, c12,
       |  round(ln(CAST(n AS DOUBLE) * CAST(c12 AS DOUBLE)
       |    / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
       |FROM c JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
       |WHERE c12 >= 5
       |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // Epoch-capped mixture plan: the upsampling complement of
  // curation_mixture_plan (which only downsamples). Each source is pulled
  // toward an equal token share, but repeats are capped at 4 epochs —
  // the standard guard against overfitting rare sources in LLM data
  // mixtures. All planning arithmetic is exact integers; only the final
  // epoch ratio is a rounded double.
  // ------------------------------------------------------------------
  def epochPlan(s: SparkSession, dir: String): DataFrame = {
    // corpus totals via a window over the |sources|-row aggregate frame —
    // a scalar-aggregate consumer would re-tokenize the whole corpus
    val wAll = Window.partitionBy()
    val perSrc = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr(s"size($toks)").cast("long")).as("src_tokens"))
      .withColumn("total_tokens", sum("src_tokens").over(wAll))
      .withColumn("n_sources", count(lit(1)).over(wAll))
    perSrc
      .withColumn("target_tokens", expr("total_tokens div n_sources"))
      .withColumn("planned_tokens",
        least(col("src_tokens") * 4, greatest(col("target_tokens"), col("src_tokens"))))
      .withColumn("epochs",
        round(col("planned_tokens").cast("double") /
          col("src_tokens").cast("double"), 4))
      .withColumn("upsampled", (col("planned_tokens") > col("src_tokens")).cast("boolean"))
      .select("source", "n_docs", "src_tokens", "target_tokens",
        "planned_tokens", "epochs", "upsampled")
      .orderBy("source")
  }

  private val epochPlanSql =
    s"""WITH per_src AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len($dToks)) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
       |    CAST(count(*) AS BIGINT) AS n_sources
       |  FROM per_src)
       |SELECT source, n_docs, src_tokens,
       |  total_tokens // n_sources AS target_tokens,
       |  least(src_tokens * 4,
       |    greatest(total_tokens // n_sources, src_tokens)) AS planned_tokens,
       |  round(CAST(least(src_tokens * 4,
       |      greatest(total_tokens // n_sources, src_tokens)) AS DOUBLE)
       |    / CAST(src_tokens AS DOUBLE), 4) AS epochs,
       |  least(src_tokens * 4,
       |    greatest(total_tokens // n_sources, src_tokens)) > src_tokens
       |    AS upsampled
       |FROM per_src CROSS JOIN tot
       |ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // Poisson-bootstrap confidence interval for the mean order value — the
  // scalable bootstrap (Poisson(1) resample weights instead of true
  // multinomial resampling) that works in one pass over a sharded corpus.
  // Weights are DETERMINISTIC: integer-mixed uniform bytes inverted
  // through the Poisson(1) CDF, identically on both engines.
  // Each resample mean is an exact-integer ratio; the interval bounds are
  // explicit order statistics over the sorted 64-element resample frame
  // (never an engine-specific quantile interpolation).
  // Scale shape: the ×B fan-out feeds a map-side-combinable hash agg with
  // exactly B groups — no shuffle grows with the data.
  // ------------------------------------------------------------------
  // Poisson(1) inverse CDF on an 8-bit uniform: floor(256·CDF(k)) cut
  // points — u8 < 94 → 0 copies, < 188 → 1, < 235 → 2, < 251 → 3,
  // < 255 → 4, else 5. Quantizing the uniform to a byte shifts each
  // weight probability by < 0.4 % — irrelevant to the CI — and makes
  // weight assignment pure integer compares.
  //
  // The uniform byte is the TOP byte of a Knuth multiplicative mix of
  // (orderkey, resample) — exact BIGINT arithmetic on both engines, no
  // per-row string/md5 work (an earlier md5-per-(row, resample) cut was
  // 9.6 s at sf0.1; this is ~16× cheaper per row and statistically
  // indistinguishable for resampling weights; the md5 path stays the
  // pattern for sampling ops that need stronger uniformity, e.g.
  // curation_importance_sample).
  private val poissonByteCuts = Seq(94, 188, 235, 251, 255)
  // o_orderkey is reduced mod 2³¹ BEFORE the multiply so the product stays
  // within BIGINT at any scale factor: 2³¹·2654435761 ≈ 5.7e18 < 2⁶³−1,
  // whereas the raw key overflows (ANSI error on both engines) once
  // orderkeys pass ~3.5e9 (SF ≳ 500). Note mod 2³², not 2³¹, would NOT be
  // enough (2³²·2654435761 ≈ 1.1e19 overflows). Keys below 2³¹ — every
  // fixture — mix to byte-identical values, so this is a pure widening of
  // the valid key domain, not a resample change.
  private val mixU8 =
    "(((o_orderkey % 2147483648) * 2654435761 + b * 2246822519) % 4294967296) div 16777216"
  private val mixU8Duck =
    "(((o_orderkey % 2147483648) * 2654435761 + b * 2246822519) % 4294967296) // 16777216"

  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val caseW = poissonByteCuts.zipWithIndex
      .map { case (c, k) => s"WHEN u8 < $c THEN ${k}L" }
      .mkString("CASE ", " ", " ELSE 5L END")
    val means = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
      .withColumn("b", explode(expr("sequence(1, 64)")))
      .withColumn("u8", expr(mixU8))
      .withColumn("w", expr(caseW))
      .groupBy("b")
      .agg((sum(col("w") * col("x")).cast("double") /
        sum("w").cast("double")).as("mean_b"))
    means.agg(count(lit(1)).as("n_resamples"),
        sort_array(collect_list("mean_b")).as("ms"))
      .select(col("n_resamples"),
        round(element_at(col("ms"), 2) / 100.0, 4).as("ci_lo"),
        round(element_at(col("ms"), 63) / 100.0, 4).as("ci_hi"))
  }

  private val bootstrapCiSql = {
    val caseW = poissonByteCuts.zipWithIndex
      .map { case (c, k) => s"WHEN u8 < $c THEN $k" }
      .mkString("CASE ", " ", " ELSE 5 END")
    s"""WITH fan AS (
       |  SELECT b, CAST(round(o_totalprice * 100) AS BIGINT) AS x,
       |    $mixU8Duck AS u8
       |  FROM orders CROSS JOIN (SELECT unnest(range(1, 65)) AS b) bs),
       |means AS (
       |  SELECT b,
       |    CAST(sum(($caseW) * x) AS DOUBLE)
       |      / CAST(sum($caseW) AS DOUBLE) AS mean_b
       |  FROM fan GROUP BY b),
       |ms AS (SELECT list_sort(list(mean_b)) AS l,
       |  CAST(count(*) AS BIGINT) AS n_resamples FROM means)
       |SELECT n_resamples, round(l[2] / 100.0, 4) AS ci_lo,
       |  round(l[63] / 100.0, 4) AS ci_hi
       |FROM ms""".stripMargin
  }

  // ------------------------------------------------------------------
  // Herfindahl–Hirschman concentration of spend per nation: Σ share² over
  // customers, the standard market-concentration index. Σ spend² runs in
  // DECIMAL(38,0)/HUGEINT; the final ratio is one double division.
  // ------------------------------------------------------------------
  def hhiConcentration(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sp"))
    val n = broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name"))
    spend
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(expr("CAST(sp AS DECIMAL(19,0)) * CAST(sp AS DECIMAL(19,0))"))
          .cast("double").as("ss"),
        sum("sp").cast("double").as("t"))
      .select(col("n_name"), col("n_customers"),
        round(col("ss") / (col("t") * col("t")) * 10000, 4).as("hhi"))
      .orderBy("n_name")
  }

  private val hhiConcentrationSql =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
      |  FROM orders GROUP BY 1)
      |SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
      |  round(CAST(sum(CAST(sp AS HUGEINT) * CAST(sp AS HUGEINT)) AS DOUBLE)
      |    / (CAST(sum(sp) AS DOUBLE) * CAST(sum(sp) AS DOUBLE)) * 10000, 4)
      |    AS hhi
      |FROM spend
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Day-of-week seasonal index of shipment revenue: ISO weekday, revenue
  // share and per-active-day index vs the overall daily average. All
  // inputs are exact integers (micros revenue, distinct-day counts).
  // ------------------------------------------------------------------
  def seasonalityDow(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(s, dir)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(revMicros2).as("rev_m"))
      .withColumn("isodow", weekday(col("day")) + 1)
    val byDow = daily.groupBy("isodow")
      .agg(count(lit(1)).as("n_days"), sum("rev_m").as("rev_dow"))
    // totals via a window over the 7-row aggregate frame (one fact scan)
    val wAll = Window.partitionBy()
    byDow
      .withColumn("total_days", sum("n_days").over(wAll))
      .withColumn("total_rev", sum("rev_dow").over(wAll))
      .select(col("isodow"), col("n_days"),
        round(col("rev_dow") / 1e6, 2).as("revenue"),
        round(col("rev_dow").cast("double") / col("total_rev").cast("double"),
          6).as("rev_share"),
        round((col("rev_dow").cast("double") / col("n_days").cast("double")) /
          (col("total_rev").cast("double") / col("total_days").cast("double")),
          4).as("seasonal_index"))
      .orderBy("isodow")
  }

  private val seasonalityDowSql =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS day,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
      |      AS BIGINT)) AS BIGINT) AS rev_m
      |  FROM lineitem GROUP BY 1),
      |by_dow AS (
      |  SELECT CAST(isodow(day) AS INT) AS isodow,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(rev_m) AS BIGINT) AS rev_dow
      |  FROM daily GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS total_days,
      |  CAST(sum(rev_dow) AS BIGINT) AS total_rev FROM by_dow)
      |SELECT isodow, n_days, round(rev_dow / 1e6, 2) AS revenue,
      |  round(CAST(rev_dow AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
      |    AS rev_share,
      |  round((CAST(rev_dow AS DOUBLE) / CAST(n_days AS DOUBLE))
      |    / (CAST(total_rev AS DOUBLE) / CAST(total_days AS DOUBLE)), 4)
      |    AS seasonal_index
      |FROM by_dow CROSS JOIN tot
      |ORDER BY isodow""".stripMargin

  private def revMicros2 = SharedExprs.revMicros

  // ------------------------------------------------------------------
  // RFM segmentation with FIXED thresholds (calibrated near the fixture's
  // quintiles): score ladders are pure integer comparisons on one
  // custkey-keyed aggregate — no global ntile sort, so the op is a single
  // map-side-combinable shuffle at any scale (a quantile-based variant
  // would pay a total order; fixed cut-lines are also how production RFM
  // stays comparable across runs).
  // ------------------------------------------------------------------
  def rfmSegmentation(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_order"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mon_c"))
      .withColumn("rec_days",
        datediff(lit("2002-01-01").cast("timestamp"), col("last_order"))
          .cast("long"))
    val r = when(col("rec_days") <= 210, 5L).when(col("rec_days") <= 280, 4L)
      .when(col("rec_days") <= 375, 3L).when(col("rec_days") <= 545, 2L)
      .otherwise(1L)
    val f = when(col("freq") >= 14, 5L).when(col("freq") >= 12, 4L)
      .when(col("freq") >= 10, 3L).when(col("freq") >= 8, 2L).otherwise(1L)
    val m = when(col("mon_c") >= 325000000L, 5L)
      .when(col("mon_c") >= 267000000L, 4L)
      .when(col("mon_c") >= 223000000L, 3L)
      .when(col("mon_c") >= 171000000L, 2L).otherwise(1L)
    per.withColumn("segment", r * 100 + f * 10 + m)
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        round(sum("mon_c") / 100.0, 2).as("total_spend"))
      .orderBy("segment")
  }

  private val rfmSegmentationSql =
    """WITH per AS (
      |  SELECT o_custkey,
      |    date_diff('day', max(o_orderdate), TIMESTAMP '2002-01-01') AS rec_days,
      |    count(*) AS freq,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon_c
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT mon_c,
      |    (CASE WHEN rec_days <= 210 THEN 5 WHEN rec_days <= 280 THEN 4
      |      WHEN rec_days <= 375 THEN 3 WHEN rec_days <= 545 THEN 2
      |      ELSE 1 END) * 100 +
      |    (CASE WHEN freq >= 14 THEN 5 WHEN freq >= 12 THEN 4
      |      WHEN freq >= 10 THEN 3 WHEN freq >= 8 THEN 2 ELSE 1 END) * 10 +
      |    (CASE WHEN mon_c >= 325000000 THEN 5 WHEN mon_c >= 267000000 THEN 4
      |      WHEN mon_c >= 223000000 THEN 3 WHEN mon_c >= 171000000 THEN 2
      |      ELSE 1 END) AS segment
      |  FROM per)
      |SELECT CAST(segment AS BIGINT) AS segment,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  round(CAST(sum(mon_c) AS DOUBLE) / 100.0, 2) AS total_spend
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Cohort LTV curve: customers grouped by first-order month, cumulative
  // revenue tracked over the first 12 months of cohort age. Age is exact
  // integer month arithmetic; the cumsum window runs per cohort over an
  // aggregate-first (cohort × age) frame — a few thousand rows at any SF.
  // ------------------------------------------------------------------
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    // the cohort month is a custkey-PARTITIONED window min — one orders
    // scan, one custkey shuffle (the aggregate-then-rejoin form scanned
    // orders twice)
    val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val aged = o
      .withColumn("cohort",
        min(date_trunc("month", col("o_orderdate")))
          .over(Window.partitionBy("o_custkey")))
      .withColumn("age",
        (year(col("o_orderdate")) - year(col("cohort"))) * 12 +
          (month(col("o_orderdate")) - month(col("cohort"))))
      .filter(col("age") < 12)
    val frame = aged.groupBy(col("cohort"), col("age"))
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("rev_c"))
    val w = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame.withColumn("cum_c", sum("rev_c").over(w))
      .select(date_format(col("cohort"), "yyyy-MM").as("cohort"),
        col("age"), col("n_orders"),
        round(col("cum_c") / 100.0, 2).as("cum_revenue"))
      .orderBy("cohort", "age")
  }

  private val cohortLtvSql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |cohorts AS (
      |  SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
      |  FROM o GROUP BY 1),
      |aged AS (
      |  SELECT cohort,
      |    (year(o_orderdate) - year(cohort)) * 12
      |      + (month(o_orderdate) - month(cohort)) AS age,
      |    cents
      |  FROM o JOIN cohorts USING (o_custkey)
      |  WHERE (year(o_orderdate) - year(cohort)) * 12
      |      + (month(o_orderdate) - month(cohort)) < 12),
      |frame AS (
      |  SELECT cohort, CAST(age AS INT) AS age,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(cents) AS BIGINT) AS rev_c
      |  FROM aged GROUP BY 1, 2)
      |SELECT strftime(cohort, '%Y-%m') AS cohort, age, n_orders,
      |  round(CAST(sum(rev_c) OVER (PARTITION BY cohort ORDER BY age
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / 100.0, 2) AS cum_revenue
      |FROM frame ORDER BY cohort, age""".stripMargin

  // ------------------------------------------------------------------
  // Autocorrelation of daily revenue at lags 1–7: the lag join is a
  // date-shifted equi-join over the aggregate-first daily frame (a few
  // thousand rows at ANY corpus size — the frame scales with the time
  // span, not the data), and the ACF estimator runs in doubles computed
  // from exact integer sums with the identical expression tree in both
  // engines.
  // ------------------------------------------------------------------
  def autocorrLag(s: SparkSession, dir: String): DataFrame = {
    // the daily frame is consumed three times (moment totals + both lag
    // sides); it is materialized once (~|days| rows) so the
    // orders scan + aggregation run once, not three times
    val daily = Materialize.gated(Tables.orders(s, dir), dailyCents(s, dir), "autocorr-lag-daily")
    val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("t"),
      sum(expr("CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))"))
        .cast("double").as("sxx"))
    val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
    val a = daily.select(col("day").as("day_a"), col("x").as("xa"))
    val b = daily.select(col("day").as("day_b"), col("x").as("xb"))
    a.crossJoin(broadcast(lags))
      .join(b, expr("day_b = date_add(day_a, lag)"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(xa AS DECIMAL(19,0)) * CAST(xb AS DECIMAL(19,0))"))
          .cast("double").as("sxy"),
        sum("xa").cast("double").as("sa"), sum("xb").cast("double").as("sb"))
      .crossJoin(broadcast(tot))
      .withColumn("m", col("t").cast("double") / col("n").cast("double"))
      .select(col("lag"), col("n_pairs"),
        round((col("sxy") - col("m") * (col("sa") + col("sb"))
            + col("n_pairs").cast("double") * col("m") * col("m")) /
          (col("sxx") - lit(2.0) * col("m") * col("t").cast("double")
            + col("n").cast("double") * col("m") * col("m")), 4).as("acf"))
      .orderBy("lag")
  }

  private val autocorrLagSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS t,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS sxx
      |  FROM daily),
      |lagged AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(CAST(a.x AS HUGEINT) * CAST(b.x AS HUGEINT)) AS DOUBLE) AS sxy,
      |    CAST(sum(a.x) AS DOUBLE) AS sa, CAST(sum(b.x) AS DOUBLE) AS sb
      |  FROM daily a
      |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
      |  JOIN daily b ON b.day = a.day + CAST(lag AS INT)
      |  GROUP BY 1)
      |SELECT CAST(lag AS INT) AS lag, n_pairs,
      |  round((sxy - (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)) * (sa + sb)
      |      + CAST(n_pairs AS DOUBLE) * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))) /
      |    (sxx - 2.0 * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(t AS DOUBLE)
      |      + CAST(n AS DOUBLE) * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))), 4) AS acf
      |FROM lagged CROSS JOIN tot
      |ORDER BY lag""".stripMargin

  // ------------------------------------------------------------------
  // Theil–Sen robust trend of daily revenue per year: the median of all
  // pairwise slopes over the aggregate-first daily frame — the estimator
  // of choice when a revenue series has outlier days (a single 10× spike
  // day moves OLS but not the pairwise-slope median; breakdown point
  // ~29%). The pair expansion is calendar-bounded (≤366²/2 pairs per
  // year partition at ANY corpus size — the frame scales with the time
  // span, not the data volume); slopes are double divisions of exact
  // integer cent/day deltas, and the median is engine-exact: an explicit
  // two-middle-rank average under a total (slope, da, db) order instead
  // of each engine's own quantile interpolation convention.
  // ------------------------------------------------------------------
  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    // the daily frame feeds both pair sides and the day census; ~|days|
    // rows materialized once
    val daily = Materialize.gated(Tables.orders(s, dir), dailyCents(s, dir)
      .select(year(col("day")).as("yr"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("d"),
        col("x")), "theil-sen-trend-daily")
    val nDays = daily.groupBy("yr").agg(count(lit(1)).as("n_days"))
    val a = daily.select(col("yr"), col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("yr"), col("d").as("db"), col("x").as("xb"))
    val pairs = a.join(b, Seq("yr")).filter(col("da") < col("db"))
      .withColumn("slope",
        (col("xb") - col("xa")).cast("double") / (col("db") - col("da")).cast("double"))
    val w = Window.partitionBy("yr").orderBy(col("slope"), col("da"), col("db"))
    val nw = Window.partitionBy("yr")
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(nw))
      .filter(col("rn") === expr("(np + 1) DIV 2") || col("rn") === expr("(np + 2) DIV 2"))
      .groupBy("yr")
      .agg(max("np").as("n_pairs"), avg("slope").as("med"))
      .join(nDays, Seq("yr"))
      .select(col("yr"), col("n_days"), col("n_pairs"),
        round(col("med") / 100.0, 4).as("ts_slope"))
      .orderBy("yr")
  }

  private val theilSenTrendSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |f AS (
      |  SELECT CAST(year(day) AS INT) AS yr,
      |    CAST(day - DATE '1970-01-01' AS BIGINT) AS d, x
      |  FROM daily),
      |nd AS (SELECT yr, CAST(count(*) AS BIGINT) AS n_days FROM f GROUP BY 1),
      |pairs AS (
      |  SELECT a.yr, a.d AS da, b.d AS db,
      |    CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      |  FROM f a JOIN f b ON a.yr = b.yr AND a.d < b.d),
      |r AS (
      |  SELECT yr, slope, da, db,
      |    row_number() OVER (PARTITION BY yr ORDER BY slope, da, db) AS rn,
      |    count(*) OVER (PARTITION BY yr) AS np
      |  FROM pairs)
      |SELECT yr, n_days, CAST(max(np) AS BIGINT) AS n_pairs,
      |  round(avg(slope) / 100.0, 4) AS ts_slope
      |FROM r JOIN nd USING (yr)
      |WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
      |GROUP BY yr, n_days ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // CUPED variance-reduced A/B readout (the industry-standard adjusted
  // metric: y_adj = y − θ(x − x̄) with a pre-experiment covariate): 1996
  // customer spend as the experiment metric, 1995 spend as the
  // covariate, a deterministic custkey-parity variant split. θ and the
  // realized variance-reduction ρ² both derive from EXACT integer sums
  // (floor-to-dollar amounts; n, Σx, Σy, Σxy, Σx², Σy² all BIGINT —
  // linear in corpus size, ~1e15 at sf0.1, so exact far past 100× — a
  // production run would widen them to DECIMAL(38)); the n·Σ co-moment
  // PRODUCTS would overflow long, so every factor is cast to double
  // before multiplying, identically on both engines. Scale shape:
  // two custkey-keyed aggregates, one broadcast single-row moment
  // frame, a 2-row output.
  // ------------------------------------------------------------------
  def cupedAdjust(s: SparkSession, dir: String): DataFrame = {
    def spend(yr: Int) = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === yr)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100")).as(s"s$yr"))
    val exp = Materialize.gated(Tables.orders(s, dir), spend(1996)
      .join(spend(1995), Seq("o_custkey"), "left")
      .select(col("o_custkey").mod(2).as("variant"),
        col("s1996").as("y"), coalesce(col("s1995"), lit(0L)).as("x")), "cuped-adjust-exp")
    val mom = exp.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    exp.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("y").as("vy"), sum("x").as("vx"))
      .crossJoin(broadcast(mom))
      // each SUM is an exact BIGINT (≤ ~1e15 at sf0.1, linear in corpus
      // size); the n·Σ co-moment PRODUCTS overflow long past ~1e4
      // customers, so every factor is cast to double BEFORE multiplying —
      // identical literal arithmetic on both engines
      .withColumn("cxy", col("n").cast("double") * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double"))
      .withColumn("cxx", col("n").cast("double") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
      .withColumn("cyy", col("n").cast("double") * col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double"))
      .withColumn("theta", col("cxy") / col("cxx"))
      .withColumn("rho2", col("cxy") * col("cxy") / (col("cxx") * col("cyy")))
      .select(col("variant"), col("n_users"),
        round(col("vy").cast("double") / col("n_users").cast("double"), 4).as("mean_y"),
        round(col("vy").cast("double") / col("n_users").cast("double")
          - col("theta") * (col("vx").cast("double") / col("n_users").cast("double")
            - col("sx").cast("double") / col("n").cast("double")), 4).as("mean_adj"),
        round(col("theta"), 6).as("theta"),
        round(col("rho2") * 100.0, 4).as("var_reduction_pct"))
      .orderBy("variant")
  }

  private val cupedAdjustSql =
    """WITH s96 AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100) AS BIGINT) AS y
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1),
      |s95 AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100) AS BIGINT) AS x
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1),
      |e AS (
      |  SELECT s96.o_custkey % 2 AS variant, y, coalesce(x, 0) AS x
      |  FROM s96 LEFT JOIN s95 USING (o_custkey)),
      |mom AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM e),
      |v AS (
      |  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(y) AS BIGINT) AS vy, CAST(sum(x) AS BIGINT) AS vx
      |  FROM e GROUP BY 1),
      |j AS (
      |  SELECT v.*, mom.*,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
      |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
      |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho2
      |  FROM v CROSS JOIN mom)
      |SELECT CAST(variant AS BIGINT) AS variant, n_users,
      |  round(CAST(vy AS DOUBLE) / n_users, 4) AS mean_y,
      |  round(CAST(vy AS DOUBLE) / n_users
      |    - theta * (CAST(vx AS DOUBLE) / n_users
      |      - CAST(sx AS DOUBLE) / n), 4) AS mean_adj,
      |  round(theta, 6) AS theta,
      |  round(rho2 * 100.0, 4) AS var_reduction_pct
      |FROM j ORDER BY variant""".stripMargin

  // ------------------------------------------------------------------
  // Randomization test for the urgent-vs-rest order-value gap (the
  // permutation-test family, random-relabeling variant): B = 64
  // deterministic pseudo-relabelings via the same Knuth multiplicative
  // hash coin the bootstrap uses (bit-identical across engines and
  // runs), p = (1 + #{|Δ_b| ≥ |Δ_obs|}) / (B + 1). The relabeling coin
  // is PROPORTION-MATCHED to the observed split — 1-URGENT is one of
  // five uniform priorities (~20% of orders), so gb = (u8 < 51) puts
  // 51/256 ≈ 19.9% in the pseudo-treatment arm; a 50/50 coin would give
  // the null Δ_b variance ~4σ²/n instead of the true ~6.25σ²/n and bias
  // p anti-conservative. (Still a binomial relabeling, not an exact
  // permutation — group sizes vary binomially around n/5 rather than
  // being fixed — which for n in the thousands is the standard
  // negligible-variance approximation.) Every Δ is a difference of
  // exact-integer-cent means, so the ≥ comparisons are on identical
  // doubles — no arithmetic ambiguity anywhere. Scale shape: one 64-way
  // fan-out with conditional sums (map-side combined to 64 rows),
  // observed stats a broadcast single row.
  // ------------------------------------------------------------------
  def permutationTest(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("g"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
    val obs = base.agg(
      (sum(when(col("g") === 1, col("x"))).cast("double")
        / sum(when(col("g") === 1, lit(1L))).cast("double")
        - sum(when(col("g") === 0, col("x"))).cast("double")
          / sum(when(col("g") === 0, lit(1L))).cast("double")).as("d_obs"))
    val deltas = base
      .withColumn("b", explode(expr("sequence(1, 64)")))
      .withColumn("gb", expr(s"CASE WHEN ($mixU8) < 51 THEN 1 ELSE 0 END"))
      .groupBy("b")
      .agg((sum(when(col("gb") === 1, col("x"))).cast("double")
        / sum(when(col("gb") === 1, lit(1L))).cast("double")
        - sum(when(col("gb") === 0, col("x"))).cast("double")
          / sum(when(col("gb") === 0, lit(1L))).cast("double")).as("d_b"))
    deltas.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        sum(when(abs(col("d_b")) >= abs(col("d_obs")), 1L).otherwise(0L)).as("n_extreme"),
        round(max(col("d_obs")) / 100.0, 4).as("delta_obs"))
      .withColumn("p_value",
        round((col("n_extreme") + 1).cast("double") / (col("n_perms") + 1).cast("double"), 6))
      .withColumn("significant", col("p_value") < 0.05)
      .select("delta_obs", "n_perms", "n_extreme", "p_value", "significant")
  }

  private val permutationTestSql = {
    s"""WITH base AS (
       |  SELECT o_orderkey,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
       |  FROM orders),
       |obs AS (
       |  SELECT CAST(sum(CASE WHEN g = 1 THEN x END) AS DOUBLE)
       |      / CAST(sum(CASE WHEN g = 1 THEN 1 END) AS DOUBLE)
       |    - CAST(sum(CASE WHEN g = 0 THEN x END) AS DOUBLE)
       |      / CAST(sum(CASE WHEN g = 0 THEN 1 END) AS DOUBLE) AS d_obs
       |  FROM base),
       |fan AS (
       |  SELECT b, x, CASE WHEN ($mixU8Duck) < 51 THEN 1 ELSE 0 END AS gb
       |  FROM base CROSS JOIN (SELECT unnest(range(1, 65)) AS b) bs),
       |deltas AS (
       |  SELECT b,
       |    CAST(sum(CASE WHEN gb = 1 THEN x END) AS DOUBLE)
       |      / CAST(sum(CASE WHEN gb = 1 THEN 1 END) AS DOUBLE)
       |    - CAST(sum(CASE WHEN gb = 0 THEN x END) AS DOUBLE)
       |      / CAST(sum(CASE WHEN gb = 0 THEN 1 END) AS DOUBLE) AS d_b
       |  FROM fan GROUP BY b),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_perms,
       |    CAST(sum(CASE WHEN abs(d_b) >= abs(d_obs) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_extreme,
       |    round(max(d_obs) / 100.0, 4) AS delta_obs
       |  FROM deltas CROSS JOIN obs)
       |SELECT delta_obs, n_perms, n_extreme,
       |  round(CAST(n_extreme + 1 AS DOUBLE) / CAST(n_perms + 1 AS DOUBLE), 6)
       |    AS p_value,
       |  round(CAST(n_extreme + 1 AS DOUBLE) / CAST(n_perms + 1 AS DOUBLE), 6) < 0.05
       |    AS significant
       |FROM agg""".stripMargin
  }

  // ------------------------------------------------------------------
  // Mann–Kendall trend test per year — the nonparametric companion to
  // [[theilSenTrend]]: MK decides WHETHER daily revenue trends
  // (S = Σ_{i<j} sign(x_j − x_i), tie-corrected variance, continuity-
  // corrected z), Theil–Sen estimates the slope. S and the 18·Var(S)
  // numerator are EXACT integers (signs of bigint cent deltas; the tie
  // census is a per-(year, value) count), so the only doubles are the
  // final z division — both engines agree bit-for-bit. Same calendar-
  // bounded pair frame as Theil–Sen: ≤366²/2 pairs per year partition at
  // any corpus size.
  // ------------------------------------------------------------------
  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Materialize.gated(Tables.orders(s, dir), dailyCents(s, dir)
      .select(year(col("day")).as("yr"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("d"),
        col("x")), "mann-kendall-daily")
    val a = daily.select(col("yr"), col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("yr"), col("d").as("db"), col("x").as("xb"))
    val sStat = a.join(b, Seq("yr")).filter(col("da") < col("db"))
      .groupBy("yr")
      .agg(sum(signum(col("xb") - col("xa")).cast("long")).as("s_stat"))
    // tie census: Σ_g t(t−1)(2t+5) over per-value group sizes t
    val ties = daily.groupBy("yr", "x").agg(count(lit(1)).as("t"))
      .groupBy("yr")
      .agg(count(lit(1)).as("n_values"),
        sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    val n = daily.groupBy("yr").agg(count(lit(1)).as("n_days"))
    n.join(sStat, Seq("yr")).join(ties, Seq("yr"))
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
      .withColumn("z", round(
        when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
          .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
          .otherwise(0.0)
          / sqrt(col("var18").cast("double") / 18.0), 4))
      .select(col("yr"), col("n_days"), col("s_stat"), col("var18"), col("z"),
        (abs(col("z")) > 1.96).as("has_trend"))
      .orderBy("yr")
  }

  private val mannKendallSql =
    """WITH daily AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1, 2),
      |sS AS (
      |  SELECT a.yr,
      |    CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b ON a.yr = b.yr AND a.d < b.d
      |  GROUP BY 1),
      |ties AS (
      |  SELECT yr, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT yr, x, count(*) AS t FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |nd AS (SELECT yr, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
      |j AS (
      |  SELECT yr, n_days, s_stat,
      |    CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS BIGINT)
      |      AS var18
      |  FROM nd JOIN sS USING (yr) JOIN ties USING (yr)),
      |z AS (
      |  SELECT yr, n_days, s_stat, var18,
      |    round((CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
      |                WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
      |                ELSE 0.0 END)
      |      / sqrt(CAST(var18 AS DOUBLE) / 18.0), 4) AS z
      |  FROM j)
      |SELECT yr, n_days, s_stat, var18, z, (abs(z) > 1.96) AS has_trend
      |FROM z ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // Hodges–Lehmann pseudo-median of daily revenue per year — the robust
  // location estimator that completes the nonparametric suite (MK: is
  // there a trend; Theil–Sen: its slope; HL: the level): the median of
  // all Walsh averages (x_i + x_j)/2, i ≤ j. The ENTIRE ranking runs on
  // exact integers — a Walsh sum of two bigint cent values — under a
  // total (sum, da, db) order, with the same explicit two-middle-rank
  // median as Theil–Sen; doubles appear only in the final /200 display
  // division. Calendar-bounded: ≤366·367/2 Walsh pairs per year.
  // ------------------------------------------------------------------
  def hodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    val daily = Materialize.gated(Tables.orders(s, dir), dailyCents(s, dir)
      .select(year(col("day")).as("yr"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("d"),
        col("x")), "hodges-lehmann-daily")
    val a = daily.select(col("yr"), col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("yr"), col("d").as("db"), col("x").as("xb"))
    val walsh = a.join(b, Seq("yr")).filter(col("da") <= col("db"))
      .select(col("yr"), (col("xa") + col("xb")).as("w"), col("da"), col("db"))
    val rw = Window.partitionBy("yr").orderBy(col("w"), col("da"), col("db"))
    val nw = Window.partitionBy("yr")
    walsh.withColumn("rn", row_number().over(rw))
      .withColumn("np", count(lit(1)).over(nw))
      .filter(col("rn") === expr("(np + 1) DIV 2") || col("rn") === expr("(np + 2) DIV 2"))
      .groupBy("yr")
      .agg(max("np").as("n_walsh"),
        round(avg(col("w").cast("double")) / 200.0, 4).as("hl_median"))
      .orderBy("yr")
  }

  private val hodgesLehmannSql =
    """WITH daily AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1, 2),
      |walsh AS (
      |  SELECT a.yr, a.x + b.x AS w, a.d AS da, b.d AS db
      |  FROM daily a JOIN daily b ON a.yr = b.yr AND a.d <= b.d),
      |r AS (
      |  SELECT yr, w,
      |    row_number() OVER (PARTITION BY yr ORDER BY w, da, db) AS rn,
      |    count(*) OVER (PARTITION BY yr) AS np
      |  FROM walsh)
      |SELECT yr, CAST(max(np) AS BIGINT) AS n_walsh,
      |  round(avg(CAST(w AS DOUBLE)) / 200.0, 4) AS hl_median
      |FROM r
      |WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
      |GROUP BY yr ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // Single-changepoint detection in daily revenue per year (binary
  // segmentation, first split): the day that maximizes the between-mean
  // gap |meanL − meanR| over all prefix/suffix splits. The gap is
  // computed as |n·S_t − t·S_n| / (t·(n−t)) — numerator an EXACT bigint
  // (prefix sums of integer cents), so both engines derive the identical
  // double and the argmax (ties → earliest day) is deterministic. One
  // year-keyed ordered window builds every prefix sum; each row IS a
  // candidate split — no pair expansion at all, O(days) per year.
  // ------------------------------------------------------------------
  def changepointMean(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
      .select(year(col("day")).as("yr"), col("day"), col("x"))
    val p = Window.partitionBy("yr")
    val w = p.orderBy("day")
    val splits = daily
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("st", sum("x").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(p))
      .withColumn("sn", sum("x").over(p))
      .filter(col("t") < col("n")) // a split needs a non-empty right side
      .withColumn("gap",
        abs(col("n") * col("st") - col("t") * col("sn")).cast("double")
          / (col("t") * (col("n") - col("t"))).cast("double"))
    val best = Window.partitionBy("yr").orderBy(col("gap").desc, col("day"))
    splits.withColumn("rb", row_number().over(best))
      .filter(col("rb") === 1)
      // means floor to the cent via INTEGER division — a 2-dp double round
      // lands on .x05 boundaries where engines' rounding conventions split
      .select(col("yr"), date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        col("n").as("n_days"),
        (expr("st DIV t").cast("double") / 100.0).as("mean_left"),
        (expr("(sn - st) DIV (n - t)").cast("double") / 100.0).as("mean_right"),
        round(col("gap") / 100.0, 4).as("gap"))
      .orderBy("yr")
  }

  private val changepointMeanSql =
    """WITH daily AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
      |    CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1, 2),
      |pre AS (
      |  SELECT yr, day,
      |    CAST(row_number() OVER (PARTITION BY yr ORDER BY day) AS BIGINT) AS t,
      |    sum(x) OVER (PARTITION BY yr ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
      |    count(*) OVER (PARTITION BY yr) AS n,
      |    sum(x) OVER (PARTITION BY yr) AS sn
      |  FROM daily),
      |g AS (
      |  SELECT yr, day, t, st, n, sn,
      |    CAST(abs(n * st - t * sn) AS DOUBLE) / (t * (n - t)) AS gap
      |  FROM pre WHERE t < n),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY yr ORDER BY gap DESC, day) AS rb
      |  FROM g)
      |SELECT yr, strftime(day, '%Y-%m-%d') AS cp_day, CAST(n AS BIGINT) AS n_days,
      |  CAST(st // t AS DOUBLE) / 100.0 AS mean_left,
      |  CAST((sn - st) // (n - t) AS DOUBLE) / 100.0 AS mean_right,
      |  round(gap / 100.0, 4) AS gap
      |FROM best WHERE rb = 1 ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // Moving-average crossover detection on daily revenue (the classic
  // golden-cross/death-cross signal): trailing 7-observation vs trailing
  // 28-observation means, a crossover wherever the sign of their gap
  // flips between consecutive days. The crossing test is EXACT integer
  // arithmetic — sign(mean7 − mean28) = sign(sum7·n28 − sum28·n7) on
  // bigint cent sums, so no double comparison decides an event and both
  // engines emit the identical crossing set. One global ordered window
  // over the daily frame (≤ a few thousand rows at ANY corpus size —
  // aggregate-first discipline), means floored to the cent for display.
  // ------------------------------------------------------------------
  def smaCrossover(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
    val w = Window.orderBy("day")
    def trail(n: Int, c: String, cnt: String) = Seq(
      sum("x").over(w.rowsBetween(-(n - 1), Window.currentRow)).as(c),
      count(lit(1)).over(w.rowsBetween(-(n - 1), Window.currentRow)).as(cnt))
    val sgns = daily
      .select(col("day") +: (trail(7, "s7", "c7") ++ trail(28, "s28", "c28")): _*)
      .withColumn("sgn", signum(col("s7") * col("c28") - col("s28") * col("c7")).cast("long"))
      .withColumn("prev", lag("sgn", 1).over(w))
    sgns.filter(col("prev").isNotNull && col("sgn") * col("prev") < 0)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        when(col("sgn") > 0, "golden").otherwise("death").as("direction"),
        (expr("s7 DIV c7").cast("double") / 100.0).as("sma7"),
        (expr("s28 DIV c28").cast("double") / 100.0).as("sma28"))
      .orderBy("day")
  }

  private val smaCrossoverSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT day,
      |    sum(x) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
      |    count(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS c7,
      |    sum(x) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS s28,
      |    count(*) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS c28
      |  FROM daily),
      |g AS (
      |  SELECT day, s7, c7, s28, c28,
      |    CAST(sign(s7 * c28 - s28 * c7) AS BIGINT) AS sgn,
      |    lag(CAST(sign(s7 * c28 - s28 * c7) AS BIGINT)) OVER (ORDER BY day) AS prev
      |  FROM t)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CASE WHEN sgn > 0 THEN 'golden' ELSE 'death' END AS direction,
      |  CAST(s7 // c7 AS DOUBLE) / 100.0 AS sma7,
      |  CAST(s28 // c28 AS DOUBLE) / 100.0 AS sma28
      |FROM g WHERE prev IS NOT NULL AND sgn * prev < 0
      |ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // Additive seasonal decomposition of daily revenue (classical
  // decomposition, the pre-STL workhorse): trend = centered 7-day moving
  // average, seasonal = per-ISO-weekday mean of the detrended series,
  // residual = what's left — the report a forecasting pipeline reads to
  // see how much of the variation is weekly rhythm vs noise. DoW is
  // normalized to ISO (1 = Monday) explicitly because the engines'
  // native dayofweek conventions differ (Spark 1 = Sunday, DuckDB
  // isodow 1 = Monday). Aggregate-first: one global ordered window on
  // the daily frame, then two 7-row aggregates; doubles only in means
  // of integer-cent-derived values, rounded at dollar precision.
  // ------------------------------------------------------------------
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
    val c7 = Window.orderBy("day").rowsBetween(-3, 3)
    val det = Materialize.gated(Tables.orders(s, dir), daily
      .withColumn("trend", sum("x").over(c7).cast("double") / count(lit(1)).over(c7).cast("double"))
      .withColumn("dow", expr("((dayofweek(day) + 5) % 7) + 1"))
      .withColumn("d", col("x").cast("double") - col("trend")), "seasonal-decompose-det")
    val seasonal = det.groupBy("dow")
      .agg(count(lit(1)).as("n_days"), avg("d").as("seas"))
    det.join(seasonal, Seq("dow"))
      .withColumn("r", col("d") - col("seas"))
      .groupBy("dow")
      .agg(max("n_days").as("n_days"),
        round(max("seas") / 100.0, 2).as("seasonal"),
        round(avg(abs(col("r"))) / 100.0, 2).as("mean_abs_residual"),
        round(avg(col("x").cast("double")) / 100.0, 2).as("mean_revenue"))
      .orderBy("dow")
  }

  private val seasonalDecomposeSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |det AS (
      |  SELECT day, x, CAST(isodow(day) AS INT) AS dow,
      |    CAST(x AS DOUBLE)
      |      - CAST(sum(x) OVER w AS DOUBLE) / count(*) OVER w AS d
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |seasonal AS (
      |  SELECT dow, CAST(count(*) AS BIGINT) AS n_days, avg(d) AS seas
      |  FROM det GROUP BY 1)
      |SELECT dow, n_days,
      |  round(seas / 100.0, 2) AS seasonal,
      |  round(avg(abs(d - seas)) / 100.0, 2) AS mean_abs_residual,
      |  round(avg(CAST(x AS DOUBLE)) / 100.0, 2) AS mean_revenue
      |FROM det JOIN seasonal USING (dow)
      |GROUP BY dow, n_days, seas ORDER BY dow""".stripMargin

  // ------------------------------------------------------------------
  // Hampel outlier filter on daily revenue (streaming variant: trailing
  // median + trailing MAD of the deviations, flag |x − med| > 3·1.4826·
  // MAD — the robust alternative to z-scores that a single spike day
  // can't poison). Everything stays exact: the medians run over integer
  // cents so even-frame midpoints are dyadic halves, the deviations are
  // dyadics, their median is a dyadic quarter — both engines derive the
  // identical doubles and the flag comparison never sits on an
  // engine-dependent value. Aggregate-first: the window input is the
  // daily frame (≤ a few thousand rows at ANY corpus size), trailing
  // 7-row frames so per-row state is O(7).
  // ------------------------------------------------------------------
  def hampelOutliers(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
    val t7 = Window.orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("med7", expr("percentile(x, 0.5)").over(t7))
      .withColumn("dev", abs(col("x").cast("double") - col("med7")))
      .withColumn("mad7", expr("percentile(dev, 0.5)").over(t7))
      .withColumn("is_outlier", col("dev") > lit(3.0) * lit(1.4826) * col("mad7"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("x").cast("double") / 100.0, 2).as("revenue"),
        round(col("med7") / 100.0, 2).as("med7"),
        round(col("mad7") / 100.0, 2).as("mad7"),
        col("is_outlier"))
      .orderBy("day")
  }

  private val hampelOutliersSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT day, x,
      |    quantile_cont(x, 0.5) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      |  FROM daily),
      |d AS (
      |  SELECT day, x, med7, abs(CAST(x AS DOUBLE) - med7) AS dev FROM m),
      |md AS (
      |  SELECT day, x, med7, dev,
      |    quantile_cont(dev, 0.5) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mad7
      |  FROM d)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  round(CAST(x AS DOUBLE) / 100.0, 2) AS revenue,
      |  round(med7 / 100.0, 2) AS med7,
      |  round(mad7 / 100.0, 2) AS mad7,
      |  dev > 3.0 * 1.4826 * mad7 AS is_outlier
      |FROM md ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // Pettitt rank-based changepoint test per year — the nonparametric
  // twin of [[changepointMean]] (robust to outlier days the way MK is
  // robust vs OLS): U_t = Σ_{i≤t<j} sgn(x_i − x_j), the split maximizing
  // |U_t|, with the published significance approximation
  // p ≈ 2·exp(−6K²/(n³+n²)). The whole statistic is EXACT integers:
  // each calendar-bounded pair contributes sgn(x_i − x_j) to day i and
  // the negation to day j, so U_t is just the running sum of a per-day
  // aggregate A_t — one (year, day) shuffle after the pair frame, no
  // range updates, no second pair pass. Doubles appear only in the final
  // exp(), computed from the same integers on both engines.
  // ------------------------------------------------------------------
  def pettittChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Materialize.gated(Tables.orders(s, dir), dailyCents(s, dir)
      .select(year(col("day")).as("yr"), col("day"), col("x")), "pettitt-changepoint-daily")
    val a = daily.select(col("yr"), col("day").as("da"), col("x").as("xa"))
    val b = daily.select(col("yr"), col("day").as("db"), col("x").as("xb"))
    val pairs = a.join(b, Seq("yr")).filter(col("da") < col("db"))
      .withColumn("sgn", signum(col("xa") - col("xb")).cast("long"))
    val contribs = pairs.select(col("yr"), col("da").as("day"), col("sgn"))
      .unionAll(pairs.select(col("yr"), col("db").as("day"), (-col("sgn")).as("sgn")))
    val at = contribs.groupBy("yr", "day").agg(sum("sgn").as("a_t"))
    val p = Window.partitionBy("yr")
    val w = p.orderBy("day")
    val u = at
      .withColumn("u_t", sum("a_t").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(p))
      .filter(col("t") < col("n"))
    val best = Window.partitionBy("yr").orderBy(abs(col("u_t")).desc, col("day"))
    u.withColumn("rb", row_number().over(best))
      .filter(col("rb") === 1)
      .select(col("yr"), date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        col("n").as("n_days"), abs(col("u_t")).as("k_stat"),
        round(lit(2.0) * exp(lit(-6.0) * (col("u_t") * col("u_t")).cast("double")
          / (col("n") * col("n") * col("n") + col("n") * col("n")).cast("double")), 6)
          .as("p_approx"))
      .withColumn("significant", col("p_approx") < 0.05)
      .orderBy("yr")
  }

  private val pettittChangepointSql =
    """WITH daily AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
      |    CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.yr, a.day AS da, b.day AS db,
      |    CAST(sign(a.x - b.x) AS BIGINT) AS sgn
      |  FROM daily a JOIN daily b ON a.yr = b.yr AND a.day < b.day),
      |contribs AS (
      |  SELECT yr, da AS day, sgn FROM pairs
      |  UNION ALL
      |  SELECT yr, db AS day, -sgn FROM pairs),
      |at AS (
      |  SELECT yr, day, CAST(sum(sgn) AS BIGINT) AS a_t
      |  FROM contribs GROUP BY 1, 2),
      |u AS (
      |  SELECT yr, day, a_t,
      |    sum(a_t) OVER (PARTITION BY yr ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u_t,
      |    CAST(row_number() OVER (PARTITION BY yr ORDER BY day) AS BIGINT) AS t,
      |    count(*) OVER (PARTITION BY yr) AS n
      |  FROM at),
      |best AS (
      |  SELECT yr, day, u_t, n,
      |    row_number() OVER (PARTITION BY yr ORDER BY abs(u_t) DESC, day) AS rb
      |  FROM u WHERE t < n)
      |SELECT yr, strftime(day, '%Y-%m-%d') AS cp_day, CAST(n AS BIGINT) AS n_days,
      |  CAST(abs(u_t) AS BIGINT) AS k_stat,
      |  round(2.0 * exp(-6.0 * CAST(u_t * u_t AS DOUBLE)
      |    / CAST(n * n * n + n * n AS DOUBLE)), 6) AS p_approx,
      |  round(2.0 * exp(-6.0 * CAST(u_t * u_t AS DOUBLE)
      |    / CAST(n * n * n + n * n AS DOUBLE)), 6) < 0.05 AS significant
      |FROM best WHERE rb = 1 ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // Benjamini–Hochberg step-up FDR across per-nation trend tests — the
  // multiple-testing correction a metrics platform needs the moment it
  // runs the same test over every segment: 25 per-nation Mann–Kendall
  // z-statistics (1995 daily revenue) become two-sided p-values via a
  // SHARED Abramowitz–Stegun 7.1.26 erfc polynomial (identical literal
  // arithmetic on both engines: p = poly(t)·exp(−y²), y = |z|/√2), then
  // the step-up adjustment p̂(r) = min_{r'≥r} p(r')·m/r' as a suffix-min
  // window over the p-ranking. Scale shape: the pair frame is calendar-
  // bounded per nation (≤365²/2 pairs each); the BH pass itself runs on
  // m = 25 rows — one tiny window after broadcast-joined margins.
  // ------------------------------------------------------------------
  def bhFdr(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val daily = Materialize.gated(Tables.orders(s, dir), Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
      .select(col("n_name"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("d"),
        col("x")), "bh-fdr-daily")
    val a = daily.select(col("n_name"), col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("n_name"), col("d").as("db"), col("x").as("xb"))
    val sStat = a.join(b, Seq("n_name")).filter(col("da") < col("db"))
      .groupBy("n_name")
      .agg(sum(signum(col("xb") - col("xa")).cast("long")).as("s_stat"))
    val ties = daily.groupBy("n_name", "x").agg(count(lit(1)).as("t"))
      .groupBy("n_name")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    val n = daily.groupBy("n_name").agg(count(lit(1)).as("n_days"))
    val z = n.join(sStat, Seq("n_name")).join(ties, Seq("n_name"))
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
      .withColumn("z",
        when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
          .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
          .otherwise(0.0)
          / sqrt(col("var18").cast("double") / 18.0))
      // two-sided p = erfc(|z|/√2) via A&S 7.1.26 — the same literals the
      // oracle evaluates, so both engines emit the identical double
      .withColumn("y", abs(col("z")) / lit(1.4142135623730951))
      .withColumn("tt", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("y")))
      .withColumn("p_raw",
        expr("""tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741
              + tt * (-1.453152027 + tt * 1.061405429)))) * exp(-y * y)"""))
    val m = Window.partitionBy(lit(1))
    val byP = m.orderBy(col("p_raw"), col("n_name"))
    z.withColumn("r", row_number().over(byP).cast("double"))
      .withColumn("m", count(lit(1)).over(m).cast("double"))
      .withColumn("stepup", col("p_raw") * col("m") / col("r"))
      .withColumn("p_bh", least(lit(1.0),
        min(col("stepup")).over(byP.rowsBetween(Window.currentRow, Window.unboundedFollowing))))
      .select(col("n_name"), col("n_days"), col("s_stat"),
        round(col("z"), 4).as("z"), round(col("p_raw"), 6).as("p_value"),
        round(col("p_bh"), 6).as("p_bh"),
        (col("p_bh") < 0.1).as("significant_10fdr"))
      .orderBy("n_name")
  }

  private val bhFdrSql =
    """WITH daily AS (
      |  SELECT n_name,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1995
      |  GROUP BY 1, 2),
      |sS AS (
      |  SELECT a.n_name,
      |    CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b ON a.n_name = b.n_name AND a.d < b.d
      |  GROUP BY 1),
      |ties AS (
      |  SELECT n_name, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT n_name, x, count(*) AS t FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |nd AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
      |zt AS (
      |  SELECT n_name, n_days, s_stat,
      |    (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
      |          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
      |          ELSE 0.0 END)
      |      / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
      |             AS DOUBLE) / 18.0) AS z
      |  FROM nd JOIN sS USING (n_name) JOIN ties USING (n_name)),
      |pv AS (
      |  SELECT n_name, n_days, s_stat, z, tt, y,
      |    tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741
      |      + tt * (-1.453152027 + tt * 1.061405429)))) * exp(-y * y) AS p_raw
      |  FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * y) AS tt
      |        FROM (SELECT *, abs(z) / 1.4142135623730951 AS y FROM zt))),
      |bh AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY p_raw, n_name) AS DOUBLE) AS r,
      |    CAST(count(*) OVER () AS DOUBLE) AS m
      |  FROM pv),
      |adj AS (
      |  SELECT n_name, n_days, s_stat, z, p_raw,
      |    least(1.0, min(p_raw * m / r) OVER (ORDER BY p_raw, n_name
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_bh
      |  FROM bh)
      |SELECT n_name, n_days, s_stat, round(z, 4) AS z,
      |  round(p_raw, 6) AS p_value, round(p_bh, 6) AS p_bh,
      |  (p_bh < 0.1) AS significant_10fdr
      |FROM adj ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------------
  // Winsorized / trimmed statistics of order value per priority — the
  // robust-mean pair every metrics pipeline reaches for when a handful of
  // whale orders dominate the arithmetic mean: the 5%-trimmed mean drops
  // the tails, the 5%-winsorized mean clamps them to the cut values.
  // Both are ENGINE-EXACT, not quantile-interpolated: the cut positions
  // are explicit row_number ranks under a total (cents, o_orderkey)
  // order, so Spark and the oracle agree bit-for-bit on which rows are
  // trimmed/clamped. Scale shape: everything runs in ONE priority-keyed
  // exchange — row_number, the partition count, and the two cut-value
  // windows all share the same partitioning (Catalyst plans one
  // Exchange), then a map-side-combined final aggregate; 5 output rows.
  // ------------------------------------------------------------------
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    // VALUE-COLLAPSED form (the 100 TB shape): the per-priority window
    // runs over DISTINCT cent values (price-domain-bounded), not rows —
    // the corpus-sized work is the map-side-combined (pri, value) count;
    // the narrow window stages see only the collapsed frame. A row-level
    // rank window here would funnel every order through 5 reducers.
    // repartition(pri) first so the collapse, the windows, and the final
    // aggregate all share ONE exchange (hash on pri satisfies the
    // (pri, x) clustering requirement).
    val vals = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pri"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
      .repartition(col("pri"))
      .groupBy("pri", "x").agg(count(lit(1)).as("c"))
    val p = Window.partitionBy("pri")
    val w = p.orderBy(col("x"))
    vals
      .withColumn("cum", sum("c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(p))
      // 5% = 1/20: integer division keeps the cut position engine-exact
      // (floor(n * 0.05) in binary doubles can land one off near integers)
      .withColumn("k", expr("n DIV 20"))
      // the value block containing order-statistic position k+1 / n−k
      .withColumn("lo", max(when(
        col("cum") - col("c") < col("k") + 1 && col("cum") >= col("k") + 1,
        col("x"))).over(p))
      .withColumn("hi", max(when(
        col("cum") - col("c") < col("n") - col("k") && col("cum") >= col("n") - col("k"),
        col("x"))).over(p))
      // how many of this value's positions (cum−c, cum] fall inside the
      // trimmed range (k, n−k]
      .withColumn("t_cnt", greatest(lit(0L),
        least(col("cum"), col("n") - col("k"))
          - greatest(col("cum") - col("c"), col("k"))))
      .groupBy(col("pri").as("o_orderpriority"))
      .agg(max("n").as("n"), max("k").as("k_cut"),
        round(sum(col("x") * col("c")).cast("double") / max("n").cast("double")
          / 100.0, 4).as("mean"),
        round(sum(col("x") * col("t_cnt")).cast("double")
          / (max("n") - lit(2) * max("k")).cast("double") / 100.0, 4).as("trimmed_mean"),
        // classical winsorized sum: trimmed mass + k copies of each cut value
        round((sum(col("x") * col("t_cnt")) + max("k") * max("lo")
          + max("k") * max("hi")).cast("double") / max("n").cast("double")
          / 100.0, 4).as("winsor_mean"))
      .orderBy("o_orderpriority")
  }

  private val winsorizedStatsSql =
    """WITH v AS (
      |  SELECT o_orderpriority AS pri,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS x, o_orderkey
      |  FROM orders),
      |r AS (
      |  SELECT pri, x,
      |    row_number() OVER (PARTITION BY pri ORDER BY x, o_orderkey) AS rn,
      |    count(*) OVER (PARTITION BY pri) AS n
      |  FROM v),
      |c AS (
      |  SELECT pri, x, rn, n, n // 20 AS k,
      |    max(CASE WHEN rn = n // 20 + 1 THEN x END)
      |      OVER (PARTITION BY pri) AS lo,
      |    max(CASE WHEN rn = n - n // 20 THEN x END)
      |      OVER (PARTITION BY pri) AS hi
      |  FROM r)
      |SELECT pri AS o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(k) AS BIGINT) AS k_cut,
      |  round(avg(CAST(x AS DOUBLE)) / 100.0, 4) AS mean,
      |  round(avg(CASE WHEN rn > k AND rn <= n - k THEN CAST(x AS DOUBLE) END)
      |    / 100.0, 4) AS trimmed_mean,
      |  round(avg(CAST(greatest(lo, least(hi, x)) AS DOUBLE)) / 100.0, 4)
      |    AS winsor_mean
      |FROM c GROUP BY pri ORDER BY pri""".stripMargin

  // ------------------------------------------------------------------
  // Exact weighted median of line price, weighted by quantity, per
  // return flag — the order-statistic a pricing dashboard wants when a
  // 50-unit line should count 50× a 1-unit line. Definition is the lower
  // weighted median: the first value (under a total (cents, orderkey,
  // linenumber) order) whose running weight reaches ceil(W/2) — all
  // integer arithmetic, so both engines select the identical row; no
  // quantile interpolation anywhere. Scale shape: one flag-keyed
  // exchange carries the running-sum window; the selector predicate
  // (cw − w < ceil(W/2) ≤ cw) keeps exactly one row per flag with a
  // plain filter — no second pass, no self-join.
  // ------------------------------------------------------------------
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    // VALUE-COLLAPSED form (the 100 TB shape): per-(flag, value) weight
    // sums are map-side combined across the whole cluster; the running-
    // weight window then walks DISTINCT values only (price-domain-
    // bounded), so the 3 flag reducers never see row-level data. The
    // selected value is identical to the row-level lower weighted
    // median — equal values merge into one block and the first block
    // whose running weight reaches ceil(W/2) is the same x.
    // repartition(flag) keeps collapse + window + filter in ONE exchange.
    val vals = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("x"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
      .repartition(col("flag"))
      .groupBy("flag", "x").agg(sum("w").as("w"))
    val p = Window.partitionBy("flag")
    val ww = p.orderBy(col("x"))
    vals.withColumn("cw", sum("w").over(ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum("w").over(p))
      .withColumn("half", expr("(tw + 1) DIV 2"))
      .filter(col("cw") >= col("half") && col("cw") - col("w") < col("half"))
      .select(col("flag").as("l_returnflag"), col("tw").as("total_weight"),
        round(col("x").cast("double") / 100.0, 2).as("weighted_median"))
      .orderBy("l_returnflag")
  }

  private val weightedMedianSql =
    """WITH v AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
      |    CAST(round(l_quantity) AS BIGINT) AS w,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (
      |  SELECT flag, x, w,
      |    sum(w) OVER (PARTITION BY flag ORDER BY x, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(w) OVER (PARTITION BY flag) AS tw
      |  FROM v)
      |SELECT flag AS l_returnflag, CAST(tw AS BIGINT) AS total_weight,
      |  round(CAST(x AS DOUBLE) / 100.0, 2) AS weighted_median
      |FROM r
      |WHERE cw >= (tw + 1) // 2 AND cw - w < (tw + 1) // 2
      |ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // Market-basket association rules over co-purchased part pairs:
  // support / confidence / lift with a min-co-count gate, top-20 by lift.
  // The pair expansion is the same per-order DISTINCT-pair shape as the
  // graph edge derivation — fan-out bounded by lines-per-order², never by
  // corpus size; margins and totals broadcast as single-row aggregates.
  // ------------------------------------------------------------------
  def marketBasket(s: SparkSession, dir: String): DataFrame = {
    // the item table feeds four consumers (both self-join sides, the
    // margin counts, the order total) — materialized once instead of four
    // lineitem scans + distincts; size-gated (r18): distinct (order, part)
    // pairs are fact-table-sized
    val items = Materialize.gated(Tables.lineitem(s, dir),
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct(),
      "basket-items")
    // the order total stays IN the plan as a broadcast single-row agg —
    // an eager driver-side count() would launch an extra job at
    // DataFrame-construction time (including on every explain)
    val tot = items.agg(countDistinct("ok").as("n_orders"))
    val margin = items.groupBy("pk").agg(count(lit(1)).as("cp"))
    val a = items.select(col("ok"), col("pk").as("u"))
    val b = items.select(col("ok").as("ok_b"), col("pk").as("v"))
    val pairs = a.join(b, col("ok") === col("ok_b") && col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cuv"))
      .filter(col("cuv") >= 3)
    pairs
      .join(margin.select(col("pk").as("u"), col("cp").as("cu")), "u")
      .join(margin.select(col("pk").as("v"), col("cp").as("cv")), "v")
      .crossJoin(broadcast(tot))
      .select(col("u"), col("v"), col("cuv"),
        round(col("cuv").cast("double") / col("n_orders").cast("double"), 6)
          .as("support"),
        round(col("cuv").cast("double") / col("cu").cast("double"), 4)
          .as("confidence"),
        round(col("cuv").cast("double") * col("n_orders").cast("double") /
          (col("cu").cast("double") * col("cv").cast("double")), 4).as("lift"))
      .orderBy(desc("lift"), col("u"), col("v"))
      .limit(20)
  }

  private val marketBasketSql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items),
      |margin AS (SELECT pk, CAST(count(*) AS BIGINT) AS cp
      |  FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS cuv
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT u, v, cuv,
      |  round(CAST(cuv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
      |  round(CAST(cuv AS DOUBLE) / CAST(mu.cp AS DOUBLE), 4) AS confidence,
      |  round(CAST(cuv AS DOUBLE) * CAST(n AS DOUBLE)
      |    / (CAST(mu.cp AS DOUBLE) * CAST(mv.cp AS DOUBLE)), 4) AS lift
      |FROM pairs
      |JOIN margin mu ON pairs.u = mu.pk
      |JOIN margin mv ON pairs.v = mv.pk
      |CROSS JOIN tot
      |ORDER BY lift DESC, u, v LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // Reciprocal (mutual) nearest neighbors over a bounded catalog slice —
  // the embedding-space entity-matching step (a, b) where each is the
  // other's top-1 cosine neighbor. The catalog slice keeps the brute pass
  // |catalog|²-bounded; at scale the same mutual-join runs on top of any
  // ANN arm's top-1 output.
  // ------------------------------------------------------------------
  def reciprocalNn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val w = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    val nn = a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .withColumn("cos", round(expr("cosine_sim(a_emb, b_emb)"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_id"), col("b_id"), col("cos"))
    val rev = nn.select(col("a_id").as("r_b"), col("b_id").as("r_a"))
    nn.join(rev, col("a_id") === col("r_a") && col("b_id") === col("r_b"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("cos"))
      .orderBy("a_id")
  }

  private val reciprocalNnSql = {
    val cos = """list_sum(list_transform(list_zip(a_emb, b_emb),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
      .stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
       |nn AS (
       |  SELECT a_id, b_id, cos FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      round($cos, 4) AS cos,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round($cos, 4) DESC, b.vec_id ASC) AS rn
       |    FROM (SELECT vec_id, embedding AS a_emb FROM e) a(vec_id, a_emb)
       |    JOIN (SELECT vec_id, embedding AS b_emb FROM e) b(vec_id, b_emb)
       |      ON a.vec_id <> b.vec_id)
       |  WHERE rn = 1)
       |SELECT x.a_id, x.b_id, x.cos
       |FROM nn x JOIN nn y ON x.a_id = y.b_id AND x.b_id = y.a_id
       |WHERE x.a_id < x.b_id
       |ORDER BY x.a_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Hashing-trick featurization: tokens bucketed into 256 hash features
  // via the portable md5 path (Spark's murmur hash is engine-specific —
  // the same reason hash_engine_specific is oracle-exempt; md5 is not).
  // Reports the 10 heaviest buckets with their collision load.
  // ------------------------------------------------------------------
  def hashingFeatures(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(explode(expr(toks)).as("token"))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(token AS BINARY)), 1, 4), 16, 10) AS INT) % 256"))
    tok.groupBy("bucket")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct("token").as("n_distinct_tokens"))
      .orderBy(desc("n_occurrences"), col("bucket"))
      .limit(10)
  }

  private val hashingFeaturesSql =
    s"""WITH tok AS (
       |  SELECT unnest($dToks) AS token FROM documents),
       |b AS (
       |  SELECT CAST(('0x' || substr(md5(token), 1, 4)) AS INT) % 256 AS bucket,
       |    token
       |  FROM tok)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(count(DISTINCT token) AS BIGINT) AS n_distinct_tokens
       |FROM b GROUP BY 1
       |ORDER BY n_occurrences DESC, bucket LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // Rolling 7-day active users (WAU) + stickiness: COUNT DISTINCT over a
  // sliding window is not decomposable, so each (user, active-day) pair is
  // exploded into the 7 windows it contributes to and deduplicated by the
  // (window-day, user) grouping — a constant ×7 fan-out of the already
  // user-day-deduplicated frame, never of the raw events. This is the
  // standard scalable DAU/WAU shape; an approximate variant would swap the
  // exact distinct for HLL sketch merges.
  // ------------------------------------------------------------------
  def rollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = userDays
      .withColumn("w_day", explode(expr(
        "transform(sequence(0, 6), i -> date_add(day, i))")))
      .select("w_day", "user_id").distinct()
      .groupBy(col("w_day").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 4)
          .as("stickiness"))
      .orderBy("day")
  }

  private val rollingActiveUsersSql =
    """WITH user_days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS dau
      |  FROM user_days GROUP BY 1),
      |wau AS (
      |  SELECT w_day AS day, CAST(count(*) AS BIGINT) AS wau FROM (
      |    SELECT DISTINCT day + CAST(i AS INT) AS w_day, user_id
      |    FROM user_days CROSS JOIN (SELECT unnest(range(0, 7)) AS i) s)
      |  GROUP BY 1)
      |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau,
      |  round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 4) AS stickiness
      |FROM dau JOIN wau ON dau.day = wau.day
      |ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // Cramér's V effect size for the source × lang association — the
  // normalized companion of agg_chi_square (a χ² alone grows with n; V is
  // comparable across corpora). Same FULL-GRID contingency discipline as
  // agg_chi_square: absent (source, lang) cells contribute their expected
  // mass (0 − e)²/e = e — a cells-only sum silently understates χ² and V
  // (~13% low on this fixture, both engines agreeing on the wrong value,
  // which is exactly the class of bug the oracle gate cannot catch).
  // ------------------------------------------------------------------
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
    val rows = obs.groupBy("source").agg(sum("o").as("rs"))
    val cols = obs.groupBy("lang").agg(sum("o").as("cs"))
    val tot = obs.agg(sum("o").as("n"),
      countDistinct("source").as("r"), countDistinct("lang").as("c"))
    val grid = obs.select("source").distinct()
      .crossJoin(obs.select("lang").distinct())
    grid.join(obs, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("o"))
      .join(broadcast(rows), "source").join(broadcast(cols), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rs").cast("double") * col("cs").cast("double") /
        col("n").cast("double"))
      .agg(max("n").as("n"), max("r").as("r"), max("c").as("c"),
        sum(pow(col("o").cast("double") - col("e"), 2) / col("e")).as("chi2"))
      .select(col("n"), round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") / (col("n").cast("double") *
          (least(col("r"), col("c")) - 1).cast("double"))), 4).as("cramers_v"))
  }

  private val cramersVSql =
    """WITH obs AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |rows_m AS (SELECT source, CAST(sum(o) AS BIGINT) AS rs
      |  FROM obs GROUP BY 1),
      |cols_m AS (SELECT lang, CAST(sum(o) AS BIGINT) AS cs
      |  FROM obs GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |  CAST(count(DISTINCT source) AS BIGINT) AS r,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS c FROM obs),
      |grid AS (
      |  SELECT s.source, l.lang
      |  FROM (SELECT DISTINCT source FROM obs) s
      |  CROSS JOIN (SELECT DISTINCT lang FROM obs) l),
      |terms AS (
      |  SELECT n, r, c, coalesce(obs.o, 0) AS o,
      |    CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(n AS DOUBLE) AS e
      |  FROM grid
      |  LEFT JOIN obs ON grid.source = obs.source AND grid.lang = obs.lang
      |  JOIN rows_m ON grid.source = rows_m.source
      |  JOIN cols_m ON grid.lang = cols_m.lang
      |  CROSS JOIN tot)
      |SELECT max(n) AS n,
      |  round(sum(pow(CAST(o AS DOUBLE) - e, 2) / e), 4) AS chi2,
      |  round(sqrt(sum(pow(CAST(o AS DOUBLE) - e, 2) / e)
      |    / (CAST(max(n) AS DOUBLE) * CAST(least(max(r), max(c)) - 1 AS DOUBLE))),
      |    4) AS cramers_v
      |FROM terms""".stripMargin

  // ------------------------------------------------------------------
  // Incremental aggregate-view maintenance: the base view (orders before
  // the cutoff) merges with a change batch (orders at/after it) by
  // re-aggregating PARTIAL aggregates — count and integer-cents sum are
  // algebraically mergeable, so the merged view must equal the full
  // recompute (which is exactly what the oracle computes). At 100 TB this
  // is the nightly-view + intraday-delta pattern: the base is never
  // rescanned, only the delta and the k-row partial frame.
  // ------------------------------------------------------------------
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderpriority"),
      col("o_orderdate"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("cents").as("c"))
    val cutoff = lit("1999-01-01").cast("timestamp")
    val base = partial(o.filter(col("o_orderdate") < cutoff))
    val delta = partial(o.filter(col("o_orderdate") >= cutoff))
    base.unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n_orders"),
        round(sum("c") / 100.0, 2).as("total_spend"))
      .orderBy("o_orderpriority")
  }

  // the oracle is the FULL recompute — passing means merge == recompute
  private val incrementalAggSql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |    / 100.0, 2) AS total_spend
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Curriculum ordering: documents bucketed by difficulty (token length,
  // fixed quartile-calibrated cut lines) and interleaved round-robin —
  // global position (rank_within_bucket − 1) · 4 + bucket guarantees the
  // schedule never runs two same-bucket docs back-to-back while all four
  // buckets last. Windows are bucket-partitioned; the global position is
  // arithmetic, not a global sort. The checkable output is the first 48
  // schedule slots — the interleave pattern itself.
  // ------------------------------------------------------------------
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"size($toks)").as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") < 32, 0L).when(col("n_tokens") < 56, 1L)
          .when(col("n_tokens") < 76, 2L).otherwise(3L))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    d.withColumn("global_pos",
        (row_number().over(w) - 1) * 4 + col("bucket"))
      .select("global_pos", "doc_id", "bucket", "n_tokens")
      .orderBy("global_pos")
      .limit(48)
  }

  private val curriculumOrderSql =
    s"""WITH d AS (
       |  SELECT doc_id, len($dToks) AS n_tokens,
       |    CASE WHEN len($dToks) < 32 THEN 0 WHEN len($dToks) < 56 THEN 1
       |      WHEN len($dToks) < 76 THEN 2 ELSE 3 END AS bucket
       |  FROM documents)
       |SELECT CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
       |    - 1) * 4 + bucket AS BIGINT) AS global_pos,
       |  doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST(n_tokens AS INT) AS n_tokens
       |FROM d ORDER BY global_pos LIMIT 48""".stripMargin

  // ------------------------------------------------------------------
  // Burstiness (Fano factor) of user activity: variance-to-mean ratio of
  // hourly event counts over each user's ACTIVE hours — Poisson traffic
  // gives F ≈ 1, bursty bots ≫ 1. Two map-side-combinable aggs (hour
  // bucket, then user); the moment formula runs on exact integer sums.
  // ------------------------------------------------------------------
  def burstinessFano(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("user_id"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy("user_id")
      .agg(count(lit(1)).as("n_hours"), sum("c").as("n_events"),
        sum(col("c") * col("c")).as("ss"))
      .filter(col("n_hours") >= 12)
      .select(col("user_id"), col("n_hours"), col("n_events"),
        round((col("ss").cast("double") / col("n_hours").cast("double")
          - (col("n_events").cast("double") / col("n_hours").cast("double"))
            * (col("n_events").cast("double") / col("n_hours").cast("double")))
          / (col("n_events").cast("double") / col("n_hours").cast("double")),
          4).as("fano"))
      .orderBy(desc("fano"), col("user_id"))
      .limit(25)
  }

  private val burstinessFanoSql =
    """WITH hourly AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |per_user AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_hours,
      |    CAST(sum(c) AS BIGINT) AS n_events,
      |    CAST(sum(c * c) AS BIGINT) AS ss
      |  FROM hourly GROUP BY 1)
      |SELECT user_id, n_hours, n_events,
      |  round((CAST(ss AS DOUBLE) / CAST(n_hours AS DOUBLE)
      |    - (CAST(n_events AS DOUBLE) / CAST(n_hours AS DOUBLE))
      |      * (CAST(n_events AS DOUBLE) / CAST(n_hours AS DOUBLE)))
      |    / (CAST(n_events AS DOUBLE) / CAST(n_hours AS DOUBLE)), 4) AS fano
      |FROM per_user WHERE n_hours >= 12
      |ORDER BY fano DESC, user_id LIMIT 25""".stripMargin

  // ------------------------------------------------------------------
  // Weighted reservoir sample (Efraimidis–Spirakis A-Res): each document
  // draws key u^(1/w) from a deterministic md5 uniform with token-count
  // weight; the global sample is the top-32 keys. One pass, fully
  // parallel — the distributed form of weighted sampling without
  // replacement (TakeOrdered over the keys, no shuffle of the corpus).
  // ------------------------------------------------------------------
  def weightedReservoir(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        expr(s"size($toks)").cast("double").as("w"))
      .filter(col("w") > 0)
      .withColumn("u", expr(
        """CAST(conv(substring(md5(CAST(concat('res', CAST(doc_id AS STRING))
          |  AS BINARY)), 1, 6), 16, 10) AS DOUBLE) / 16777216.0""".stripMargin))
      .withColumn("k", round(pow(col("u"), lit(1.0) / col("w")), 10))
      .orderBy(desc("k"), col("doc_id"))
      .limit(32)
      .select(col("doc_id"), col("source"), col("w").cast("long").as("n_tokens"),
        col("k"))

  private val weightedReservoirSql =
    s"""SELECT doc_id, source, CAST(len($dToks) AS BIGINT) AS n_tokens,
       |  round(pow(
       |    CAST(('0x' || substr(md5('res' || CAST(doc_id AS VARCHAR)), 1, 6))
       |      AS INT) / 16777216.0,
       |    1.0 / CAST(len($dToks) AS DOUBLE)), 10) AS k
       |FROM documents
       |WHERE len($dToks) > 0
       |ORDER BY k DESC, doc_id LIMIT 32""".stripMargin

  // ------------------------------------------------------------------
  // Conditional entropy H(lang | source) — the information-theoretic
  // "how much does knowing the source tell you about language": one
  // contingency scan, grid-sized ln arithmetic from exact integer counts,
  // alongside H(lang) so the mutual information falls out by subtraction.
  // ------------------------------------------------------------------
  def conditionalEntropy(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
    val bySrc = Window.partitionBy("source")
    val wAll = Window.partitionBy()
    obs
      .withColumn("ns", sum("o").over(bySrc))
      .withColumn("n", sum("o").over(wAll))
      .withColumn("term", (col("o").cast("double") / col("n").cast("double")) *
        log(col("o").cast("double") / col("ns").cast("double")))
      .agg(round(-sum("term"), 6).as("h_lang_given_source"))
  }

  private val conditionalEntropySql =
    """WITH obs AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |t AS (
      |  SELECT o,
      |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS ns,
      |    CAST(sum(o) OVER () AS BIGINT) AS n
      |  FROM obs)
      |SELECT round(-sum((CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
      |  * ln(CAST(o AS DOUBLE) / CAST(ns AS DOUBLE))), 6)
      |  AS h_lang_given_source
      |FROM t""".stripMargin

  // ------------------------------------------------------------------
  // Local-maxima (peak) detection in daily revenue: strict left / strict
  // right comparison via lag/lead over the aggregate-first daily frame —
  // the same bounded-global-window discipline as the CUSUM/EWMA family
  // (the window's input is |days| rows at any corpus size). Exact integer
  // cents end to end.
  // ------------------------------------------------------------------
  def peakDetection(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
    val w = Window.orderBy("day")
    daily
      .withColumn("prev", lag("x", 1).over(w))
      .withColumn("next", lead("x", 1).over(w))
      .filter(col("prev").isNotNull && col("next").isNotNull &&
        col("x") > col("prev") && col("x") > col("next"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("x") / 100.0, 2).as("revenue"),
        round((col("x") - col("prev")) / 100.0, 2).as("rise"),
        round((col("x") - col("next")) / 100.0, 2).as("fall"))
      .orderBy(desc("revenue"), col("day"))
      .limit(10)
  }

  private val peakDetectionSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT day, x,
      |    lag(x) OVER (ORDER BY day) AS prev,
      |    lead(x) OVER (ORDER BY day) AS next
      |  FROM daily)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  round(x / 100.0, 2) AS revenue,
      |  round((x - prev) / 100.0, 2) AS rise,
      |  round((x - next) / 100.0, 2) AS fall
      |FROM lagged
      |WHERE prev IS NOT NULL AND next IS NOT NULL AND x > prev AND x > next
      |ORDER BY revenue DESC, day LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // Heavy-change detection: the parts whose yearly revenue moved most
  // between 1997 and 1998 — numerator/denominator-style conditional sums
  // in ONE partkey hash-agg, top-20 by absolute integer delta.
  // ------------------------------------------------------------------
  def heavyChange(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .withColumn("y98", (col("l_shipdate") >= lit("1998-01-01").cast("timestamp")))
    li.groupBy("l_partkey")
      .agg(sum(when(!col("y98"), revMicros2).otherwise(0L)).as("rev97_m"),
        sum(when(col("y98"), revMicros2).otherwise(0L)).as("rev98_m"))
      .withColumn("delta_m", abs(col("rev98_m") - col("rev97_m")))
      .orderBy(desc("delta_m"), col("l_partkey"))
      .limit(20)
      .select(col("l_partkey"),
        round(col("rev97_m") / 1e6, 2).as("rev_1997"),
        round(col("rev98_m") / 1e6, 2).as("rev_1998"),
        round(col("delta_m") / 1e6, 2).as("abs_change"))
  }

  private val heavyChangeSql =
    """WITH t AS (
      |  SELECT l_partkey,
      |    CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
      |      THEN CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev97_m,
      |    CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
      |      THEN CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev98_m
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1999-01-01'
      |  GROUP BY 1)
      |SELECT l_partkey, round(rev97_m / 1e6, 2) AS rev_1997,
      |  round(rev98_m / 1e6, 2) AS rev_1998,
      |  round(abs(rev98_m - rev97_m) / 1e6, 2) AS abs_change
      |FROM t
      |ORDER BY abs(rev98_m - rev97_m) DESC, l_partkey LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // Grouped (delete-one-nation) jackknife standard error of the mean
  // order value — the resampling-free variance estimate a metrics
  // platform attaches to cluster-sampled means (nations = the sampling
  // clusters): θ̂₍ᵢ₎ = (S−sᵢ)/(N−nᵢ) from EXACT per-nation integer-cent
  // sums, SE² = (g−1)/g · Σ(θ̂₍ᵢ₎ − θ̄)². The two double reductions over
  // the g = 25 leave-one-out means run as ORDERED in-array folds
  // (sort_array + aggregate here, list(… ORDER BY) + list_reduce in the
  // oracle), so every add happens in nation-key order on both engines —
  // the unordered-double-sum trap this repo's determinism catalog exists
  // for. Scale shape: one custkey-keyed agg collapses the corpus to 25
  // rows; everything after is driver-trivial arithmetic on one row.
  // ------------------------------------------------------------------
  def jackknifeSe(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("s"),
        count(lit(1)).as("n"))
    val tot = per.agg(sum("s").as("st"), sum("n").as("nt"), count(lit(1)).as("g"))
    per.crossJoin(broadcast(tot))
      .withColumn("v", (col("st") - col("s")).cast("double")
        / (col("nt") - col("n")).cast("double"))
      .agg(sort_array(collect_list(struct(col("c_nationkey").as("k"),
          col("v").as("v")))).as("arr"),
        max("st").as("st"), max("nt").as("nt"), max("g").as("g"))
      .withColumn("td",
        expr("aggregate(arr, 0D, (a, e) -> a + e.v)") / col("g").cast("double"))
      .withColumn("ss",
        expr("aggregate(transform(arr, e -> (e.v - td) * (e.v - td)), 0D, (a, q) -> a + q)"))
      .select(col("g").as("n_groups"),
        round(col("st").cast("double") / col("nt").cast("double") / 100.0, 4)
          .as("mean_value"),
        round(sqrt((col("g") - 1).cast("double") / col("g").cast("double")
          * col("ss")) / 100.0, 4).as("jk_se"))
  }

  private val jackknifeSeSql =
    """WITH per AS (
      |  SELECT c_nationkey AS k,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(s) AS BIGINT) AS st, CAST(sum(n) AS BIGINT) AS nt,
      |    CAST(count(*) AS BIGINT) AS g
      |  FROM per),
      |th AS (
      |  SELECT k, CAST(st - s AS DOUBLE) / CAST(nt - n AS DOUBLE) AS v
      |  FROM per CROSS JOIN tot),
      |folds AS (
      |  SELECT list(v ORDER BY k) AS arr FROM th),
      |td AS (
      |  SELECT list_reduce(list_concat([CAST(0 AS DOUBLE)], arr),
      |      (a, x) -> a + x) / CAST(g AS DOUBLE) AS td, st, nt, g
      |  FROM folds CROSS JOIN tot),
      |ss AS (
      |  SELECT st, nt, g, list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list_transform(arr, x -> (x - td) * (x - td))), (a, q) -> a + q) AS ss
      |  FROM folds CROSS JOIN td)
      |SELECT g AS n_groups,
      |  round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) / 100.0, 4) AS mean_value,
      |  round(sqrt(CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE) * ss) / 100.0, 4)
      |    AS jk_se
      |FROM ss""".stripMargin

  // ------------------------------------------------------------------
  // McNemar's test on paired year-over-year purchase behavior — the
  // paired-proportions test for "did the SAME population change?"
  // (independent-sample χ² is wrong when each customer appears in both
  // years): per customer, active-in-1995 vs active-in-1996 flags; the
  // statistic uses only the DISCORDANT cells, χ² = (|b−c|−1)²/(b+c)
  // with continuity correction. Everything up to the single division is
  // exact integer; the significance decision is made on integers
  // (1000·(|b−c|−1)² vs 3841·(b+c)), so no double compare decides it.
  // Scale shape: two distinct-key semi-aggregations and one customer-
  // keyed join, output one row.
  // ------------------------------------------------------------------
  def mcnemarTest(s: SparkSession, dir: String): DataFrame = {
    def active(yr: Int) = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey").as(s"k$yr")).distinct()
      .withColumn(s"f$yr", lit(1L))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(active(1995), col("c_custkey") === col("k1995"), "left")
      .join(active(1996), col("c_custkey") === col("k1996"), "left")
      .agg(sum(when(col("f1995") === 1 && col("f1996").isNull, 1L).otherwise(0L)).as("b"),
        sum(when(col("f1995").isNull && col("f1996") === 1, 1L).otherwise(0L)).as("c"))
      .select(col("b").as("n_lost"), col("c").as("n_gained"),
        round((abs(col("b") - col("c")) - 1).cast("double")
          * (abs(col("b") - col("c")) - 1).cast("double")
          / (col("b") + col("c")).cast("double"), 6).as("chi2"),
        (lit(1000) * (abs(col("b") - col("c")) - 1) * (abs(col("b") - col("c")) - 1)
          > lit(3841) * (col("b") + col("c"))).as("significant_05"))
  }

  private val mcnemarTestSql =
    """WITH a95 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1995),
      |a96 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1996),
      |cells AS (
      |  SELECT
      |    CAST(count(*) FILTER (WHERE a95.o_custkey IS NOT NULL
      |      AND a96.o_custkey IS NULL) AS BIGINT) AS b,
      |    CAST(count(*) FILTER (WHERE a95.o_custkey IS NULL
      |      AND a96.o_custkey IS NOT NULL) AS BIGINT) AS c
      |  FROM customer
      |  LEFT JOIN a95 ON c_custkey = a95.o_custkey
      |  LEFT JOIN a96 ON c_custkey = a96.o_custkey)
      |SELECT b AS n_lost, c AS n_gained,
      |  round(CAST((abs(b - c) - 1) AS DOUBLE) * CAST((abs(b - c) - 1) AS DOUBLE)
      |    / CAST(b + c AS DOUBLE), 6) AS chi2,
      |  1000 * (abs(b - c) - 1) * (abs(b - c) - 1) > 3841 * (b + c)
      |    AS significant_05
      |FROM cells""".stripMargin

  // ------------------------------------------------------------------
  // Capture–recapture population estimation (Lincoln–Petersen + the
  // bias-corrected Chapman variant) — the estimator for "how many total
  // users does this system have?" when each observation window sees only
  // a sample: 1995 active customers = the marked cohort, 1996 = the
  // recapture, overlap m = recaptured marks. Chapman's estimate is
  // computed with INTEGER division ((n1+1)(n2+1) DIV (m+1) − 1), so it
  // is exact and deterministic; Lincoln–Petersen is one double division.
  // The union count (ground truth the fixture can see) rides along for
  // free as n1 + n2 − m. Scale shape: one distinct-key aggregation per
  // window, a single-row output.
  // ------------------------------------------------------------------
  def captureRecapture(s: SparkSession, dir: String): DataFrame = {
    val flags = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy("o_custkey")
      .agg(max(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L)).as("in95"),
        max(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L)).as("in96"))
    flags.agg(sum("in95").as("n1"), sum("in96").as("n2"),
        sum(col("in95") * col("in96")).as("m"))
      .select(col("n1"), col("n2"), col("m").as("m_recaptured"),
        round(col("n1").cast("double") * col("n2").cast("double")
          / col("m").cast("double"), 2).as("lincoln_petersen"),
        expr("(n1 + 1) * (n2 + 1) DIV (m + 1) - 1").as("chapman"),
        (col("n1") + col("n2") - col("m")).as("n_observed_union"))
  }

  private val captureRecaptureSql =
    """WITH flags AS (
      |  SELECT o_custkey,
      |    CAST(max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
      |      THEN 1 ELSE 0 END) AS BIGINT) AS in95,
      |    CAST(max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
      |      THEN 1 ELSE 0 END) AS BIGINT) AS in96
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |  GROUP BY 1),
      |agg AS (
      |  SELECT CAST(sum(in95) AS BIGINT) AS n1, CAST(sum(in96) AS BIGINT) AS n2,
      |    CAST(sum(in95 * in96) AS BIGINT) AS m
      |  FROM flags)
      |SELECT n1, n2, m AS m_recaptured,
      |  round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(m AS DOUBLE), 2)
      |    AS lincoln_petersen,
      |  (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS chapman,
      |  n1 + n2 - m AS n_observed_union
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // Kendall's τ-b per year between daily revenue and daily order count —
  // the rank-correlation companion to the Spearman query (τ handles ties
  // through its own correction rather than midranks, and its pairwise
  // form composes with the repo's calendar-bounded pair frame):
  // C − D = Σ_{i<j} sign(Δx)·sign(Δy), τ-b = (C−D)/√((n₀−tx)(n₀−ty)).
  // Concordant/discordant/tie censuses are EXACT integers; the two
  // variance factors are cast to double BEFORE multiplying (their bigint
  // product overflows at n₀ ≈ 6.7e4 — the CUPED co-moment lesson,
  // applied at authoring time). Pair frame is ≤366²/2 per year at any
  // corpus size.
  // ------------------------------------------------------------------
  def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = Materialize.gated(Tables.orders(s, dir), Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"),
        count(lit(1)).as("y")), "kendall-tau-daily")
    val a = daily.select(col("yr"), col("day").as("da"), col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("yr"), col("day").as("db"), col("x").as("xb"), col("y").as("yb"))
    val cd = a.join(b, Seq("yr")).filter(col("da") < col("db"))
      .groupBy("yr")
      .agg(sum(when(signum(col("xb") - col("xa")) * signum(col("yb") - col("ya")) > 0, 1L)
          .otherwise(0L)).as("concordant"),
        sum(when(signum(col("xb") - col("xa")) * signum(col("yb") - col("ya")) < 0, 1L)
          .otherwise(0L)).as("discordant"))
    val n = daily.groupBy("yr").agg(count(lit(1)).as("n"))
    def tieCensus(c: String, out: String) = daily.groupBy(col("yr"), col(c))
      .agg(count(lit(1)).as("t"))
      .groupBy("yr").agg(sum(expr("t * (t - 1) DIV 2")).as(out))
    cd.join(n, Seq("yr")).join(tieCensus("x", "tx"), Seq("yr"))
      .join(tieCensus("y", "ty"), Seq("yr"))
      .withColumn("n0", expr("n * (n - 1) DIV 2"))
      .select(col("yr").cast("long").as("yr"), col("n").as("n_days"),
        col("concordant"), col("discordant"),
        round((col("concordant") - col("discordant")).cast("double")
          / sqrt((col("n0") - col("tx")).cast("double")
            * (col("n0") - col("ty")).cast("double")), 4).as("tau_b"))
      .orderBy("yr")
  }

  private val kendallTauSql =
    """WITH daily AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS yr, CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |cd AS (
      |  SELECT a.yr,
      |    CAST(count(*) FILTER (WHERE sign(b.x - a.x) * sign(b.y - a.y) > 0)
      |      AS BIGINT) AS concordant,
      |    CAST(count(*) FILTER (WHERE sign(b.x - a.x) * sign(b.y - a.y) < 0)
      |      AS BIGINT) AS discordant
      |  FROM daily a JOIN daily b ON a.yr = b.yr AND a.day < b.day
      |  GROUP BY 1),
      |nn AS (SELECT yr, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
      |tx AS (
      |  SELECT yr, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tx FROM (
      |    SELECT yr, x, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |ty AS (
      |  SELECT yr, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS ty FROM (
      |    SELECT yr, y, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT cd.yr, n AS n_days, concordant, discordant,
      |  round(CAST(concordant - discordant AS DOUBLE)
      |    / sqrt(CAST(n * (n - 1) // 2 - tx AS DOUBLE)
      |      * CAST(n * (n - 1) // 2 - ty AS DOUBLE)), 4) AS tau_b
      |FROM cd JOIN nn USING (yr) JOIN tx USING (yr) JOIN ty USING (yr)
      |ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // Sample-ratio-mismatch check on the experiment split (the guardrail
  // every A/B platform runs BEFORE reading any metric — a biased
  // assignment invalidates the readout): observed variant counts from
  // the same custkey-parity split as [[cupedAdjust]], χ² against the
  // designed 50/50 with the exact integer form (n₀−n₁)²/(n₀+n₁). The
  // SRM alarm fires at p < 0.001 (χ²₁ > 10.828), decided entirely on
  // integers (1000·(n₀−n₁)² vs 10828·(n₀+n₁)) so no double compare
  // flips it. Scale: one distinct-key agg, single-row output.
  // ------------------------------------------------------------------
  def srmCheck(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(col("o_custkey")).distinct()
      .agg(sum(when(col("o_custkey") % 2 === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("o_custkey") % 2 === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("n0").as("n_variant0"), col("n1").as("n_variant1"),
        round((col("n0") - col("n1")).cast("double")
          * (col("n0") - col("n1")).cast("double")
          / (col("n0") + col("n1")).cast("double"), 6).as("chi2"),
        (lit(1000) * (col("n0") - col("n1")) * (col("n0") - col("n1"))
          > lit(10828) * (col("n0") + col("n1"))).as("srm_detected"))
  }

  private val srmCheckSql =
    """WITH u AS (SELECT DISTINCT o_custkey FROM orders),
      |agg AS (
      |  SELECT CAST(count(*) FILTER (WHERE o_custkey % 2 = 0) AS BIGINT) AS n0,
      |    CAST(count(*) FILTER (WHERE o_custkey % 2 = 1) AS BIGINT) AS n1
      |  FROM u)
      |SELECT n0 AS n_variant0, n1 AS n_variant1,
      |  round(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE)
      |    / CAST(n0 + n1 AS DOUBLE), 6) AS chi2,
      |  1000 * (n0 - n1) * (n0 - n1) > 10828 * (n0 + n1) AS srm_detected
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // Bollinger bands on daily revenue (trailing 20-day mean ± 2σ) with
  // breakout detection — the volatility-envelope sibling of the SMA
  // crossover and Hampel queries. Trailing sums s = Σx and ssq = Σx²
  // are EXACT BIGINT over floor-to-dollar daily revenue (exact to
  // ~30× sf0.1's daily volume; a production run widens them to
  // DECIMAL(38) — the CUPED stance); mean/σ/band comparisons are then
  // IDENTICAL literal double expressions on both engines, so the
  // breakout decisions agree bit-for-bit. Only full 20-day windows
  // count. Per-year report: breakout-day counts plus the extreme band
  // widths (max/min — order-independent double reductions, never an
  // unordered sum).
  // ------------------------------------------------------------------
  def bollingerBands(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    val w = Window.orderBy("day").rowsBetween(-19, Window.currentRow)
    daily
      .withColumn("s", sum("x").over(w))
      .withColumn("ssq", sum(col("x") * col("x")).over(w))
      .withColumn("c", count(lit(1)).over(w))
      .filter(col("c") === 20)
      .withColumn("mean", col("s").cast("double") / col("c").cast("double"))
      .withColumn("sd", sqrt((col("c").cast("double") * col("ssq").cast("double")
        - col("s").cast("double") * col("s").cast("double"))
        / (col("c").cast("double") * col("c").cast("double"))))
      .withColumn("hi", col("mean") + lit(2.0) * col("sd"))
      .withColumn("lo", col("mean") - lit(2.0) * col("sd"))
      .groupBy(year(col("day")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("x").cast("double") > col("hi"), 1L).otherwise(0L)).as("n_breakout_hi"),
        sum(when(col("x").cast("double") < col("lo"), 1L).otherwise(0L)).as("n_breakout_lo"),
        round(max(col("hi") - col("lo")), 2).as("max_bandwidth"),
        round(min(col("hi") - col("lo")), 2).as("min_bandwidth"))
      .orderBy("yr")
  }

  private val bollingerBandsSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT day, x,
      |    sum(x) OVER w AS s, sum(x * x) OVER w AS ssq, count(*) OVER w AS c
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |bands AS (
      |  SELECT day, x,
      |    CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS mean,
      |    sqrt((CAST(c AS DOUBLE) * CAST(ssq AS DOUBLE)
      |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |      / (CAST(c AS DOUBLE) * CAST(c AS DOUBLE))) AS sd
      |  FROM t WHERE c = 20)
      |SELECT year(day) AS yr, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(count(*) FILTER (WHERE CAST(x AS DOUBLE) > mean + 2.0 * sd)
      |    AS BIGINT) AS n_breakout_hi,
      |  CAST(count(*) FILTER (WHERE CAST(x AS DOUBLE) < mean - 2.0 * sd)
      |    AS BIGINT) AS n_breakout_lo,
      |  round(max(4.0 * sd), 2) AS max_bandwidth,
      |  round(min(4.0 * sd), 2) AS min_bandwidth
      |FROM bands GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // RSI (relative strength index, simple-average variant) over daily
  // revenue: gains/losses from consecutive-day deltas, trailing 14-day
  // gain/loss sums, RSI = 100·G/(G+L). EVERY decision is integer —
  // overbought (RSI > 70 ⟺ 3G > 7L) and oversold (RSI < 30 ⟺ 7G < 3L)
  // fire on exact bigint cross-products, and the per-year aggregate RSI
  // is one division of exact yearly gain/loss sums — so the output is
  // bit-stable with no double comparison anywhere. Windows run over the
  // global daily frame (year-boundary deltas included, like the SMA
  // family); only full 14-delta windows count.
  // ------------------------------------------------------------------
  def rsiSignal(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
    val w1 = Window.orderBy("day")
    val w14 = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    daily
      .withColumn("d", col("x") - lag("x", 1).over(w1))
      .filter(col("d").isNotNull)
      .withColumn("gain", greatest(col("d"), lit(0L)))
      .withColumn("loss", greatest(-col("d"), lit(0L)))
      .withColumn("g", sum("gain").over(w14))
      .withColumn("l", sum("loss").over(w14))
      .withColumn("c", count(lit(1)).over(w14))
      .filter(col("c") === 14)
      .groupBy(year(col("day")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(lit(3) * col("g") > lit(7) * col("l"), 1L).otherwise(0L)).as("n_overbought"),
        sum(when(lit(7) * col("g") < lit(3) * col("l"), 1L).otherwise(0L)).as("n_oversold"),
        round(lit(100.0) * sum("gain").cast("double")
          / (sum("gain") + sum("loss")).cast("double"), 4).as("yearly_rsi"))
      .orderBy("yr")
  }

  private val rsiSignalSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |d AS (
      |  SELECT day, x - lag(x) OVER (ORDER BY day) AS d FROM daily),
      |gl AS (
      |  SELECT day, greatest(d, 0) AS gain, greatest(-d, 0) AS loss
      |  FROM d WHERE d IS NOT NULL),
      |t AS (
      |  SELECT day, gain, loss,
      |    sum(gain) OVER w AS g, sum(loss) OVER w AS l, count(*) OVER w AS c
      |  FROM gl
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT year(day) AS yr, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(count(*) FILTER (WHERE 3 * g > 7 * l) AS BIGINT) AS n_overbought,
      |  CAST(count(*) FILTER (WHERE 7 * g < 3 * l) AS BIGINT) AS n_oversold,
      |  round(100.0 * CAST(sum(gain) AS DOUBLE)
      |    / CAST(sum(gain) + sum(loss) AS DOUBLE), 4) AS yearly_rsi
      |FROM t WHERE c = 14 GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Power analysis / minimum detectable effect for the A/B design — the
  // question every experiment review asks BEFORE launch ("can this test
  // even see a 1% lift at these ns?"): MDE = (z_{α/2} + z_β)·σ·
  // √(1/n₀ + 1/n₁) at α = 0.05 two-sided, 80% power, with σ² from the
  // same exact integer moment sums as CUPED (n·Σx² − S² with every
  // product factor cast to double first — the overflow discipline). The
  // z constants are shared literals, so both engines evaluate the
  // identical double chain. Scale shape: one custkey-keyed agg to
  // per-customer spend, two single-row aggregates, one output row.
  // ------------------------------------------------------------------
  def powerMde(s: SparkSession, dir: String): DataFrame = {
    val per = Materialize.gated(Tables.orders(s, dir), Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy("o_custkey")
      // floor-to-dollar like CUPED: Σx² in CENTS overflows long at sf0.1's
      // per-customer spend (the sf0.1 gate caught exactly this); dollars
      // keep it exact past 100×
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100")).as("x"))
      .withColumn("variant", col("o_custkey") % 2), "power-mde-per")
    per.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
      .withColumn("var", (col("n").cast("double") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
        / (col("n").cast("double") * (col("n") - 1).cast("double")))
      .withColumn("mde", lit(1.959963984540054 + 0.8416212335729143)
        * sqrt(col("var") * (lit(1.0) / col("n0").cast("double")
          + lit(1.0) / col("n1").cast("double"))))
      .select(col("n0").as("n_variant0"), col("n1").as("n_variant1"),
        round(col("sx").cast("double") / col("n").cast("double"), 4)
          .as("mean_value"),
        round(sqrt(col("var")), 4).as("sd_value"),
        round(col("mde"), 4).as("mde_abs"),
        round(col("mde") / (col("sx").cast("double") / col("n").cast("double"))
          * 100.0, 4).as("mde_rel_pct"))
  }

  private val powerMdeSql =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100) AS BIGINT) AS x,
      |    o_custkey % 2 AS variant
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(count(*) FILTER (WHERE variant = 0) AS BIGINT) AS n0,
      |    CAST(count(*) FILTER (WHERE variant = 1) AS BIGINT) AS n1
      |  FROM per),
      |v AS (
      |  SELECT *, (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var
      |  FROM m),
      |d AS (
      |  SELECT *, (1.959963984540054 + 0.8416212335729143)
      |    * sqrt(var * (1.0 / CAST(n0 AS DOUBLE)
      |    + 1.0 / CAST(n1 AS DOUBLE))) AS mde
      |  FROM v)
      |SELECT n0 AS n_variant0, n1 AS n_variant1,
      |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_value,
      |  round(sqrt(var), 4) AS sd_value,
      |  round(mde, 4) AS mde_abs,
      |  round(mde / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * 100.0, 4)
      |    AS mde_rel_pct
      |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // Cohen's κ between two deterministic labelers — the inter-annotator
  // agreement statistic a training-data pipeline runs on every
  // double-labeled slice (raw accuracy overstates agreement when one
  // class dominates; κ subtracts chance): rater 1 = urgent/high
  // priority, rater 2 = high-value order (compared in exact integer
  // cents, never a double threshold). κ = (n·(a+d) − Σ marginal
  // products)/(n² − Σ marginal products) — numerator and denominator
  // are EXACT BIGINT (n² in-range past sf100), one final division, and
  // the Landis–Koch strength label is decided by integer
  // cross-products (5·num vs k·den), so no double compare picks it.
  // ------------------------------------------------------------------
  def cohensKappa(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long").as("r1"),
        (expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 15000000L)
          .cast("long").as("r2"))
      .agg(sum(expr("r1 * r2")).as("a"),
        sum(expr("r1 * (1 - r2)")).as("b"),
        sum(expr("(1 - r1) * r2")).as("c"),
        sum(expr("(1 - r1) * (1 - r2)")).as("d"))
      .withColumn("n", expr("a + b + c + d"))
      .withColumn("num", expr("n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))"))
      .withColumn("den", expr("n * n - ((a + b) * (a + c) + (c + d) * (b + d))"))
      .select(col("a").as("n_both"), col("b").as("n_r1_only"),
        col("c").as("n_r2_only"), col("d").as("n_neither"),
        round(col("num").cast("double") / col("den").cast("double"), 6).as("kappa"),
        expr("""CASE WHEN 5 * num <= den THEN 'slight'
               |     WHEN 5 * num <= 2 * den THEN 'fair'
               |     WHEN 5 * num <= 3 * den THEN 'moderate'
               |     WHEN 5 * num <= 4 * den THEN 'substantial'
               |     ELSE 'almost_perfect' END""".stripMargin).as("strength"))
  }

  private val cohensKappaSql =
    """WITH r AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS r1,
      |    CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) > 15000000
      |      THEN 1 ELSE 0 END AS r2
      |  FROM orders),
      |cells AS (
      |  SELECT CAST(sum(r1 * r2) AS BIGINT) AS a,
      |    CAST(sum(r1 * (1 - r2)) AS BIGINT) AS b,
      |    CAST(sum((1 - r1) * r2) AS BIGINT) AS c,
      |    CAST(sum((1 - r1) * (1 - r2)) AS BIGINT) AS d
      |  FROM r),
      |k AS (
      |  SELECT *, a + b + c + d AS n,
      |    (a + b + c + d) * (a + d)
      |      - ((a + b) * (a + c) + (c + d) * (b + d)) AS num,
      |    (a + b + c + d) * (a + b + c + d)
      |      - ((a + b) * (a + c) + (c + d) * (b + d)) AS den
      |  FROM cells)
      |SELECT a AS n_both, b AS n_r1_only, c AS n_r2_only, d AS n_neither,
      |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS kappa,
      |  CASE WHEN 5 * num <= den THEN 'slight'
      |       WHEN 5 * num <= 2 * den THEN 'fair'
      |       WHEN 5 * num <= 3 * den THEN 'moderate'
      |       WHEN 5 * num <= 4 * den THEN 'substantial'
      |       ELSE 'almost_perfect' END AS strength
      |FROM k""".stripMargin

  // ------------------------------------------------------------------
  // Growth accounting: decompose YoY revenue growth (1995 → 1996) into
  // the three levers every business review separates — customer count ×
  // orders-per-customer × average order value. Each factor's growth is
  // a ratio of EXACT integer cross-products where the products fit
  // bigint (freq: orders×customers), and casts factors to double first
  // where they don't (AOV: cents×orders overflows past ~sf50 — the
  // CUPED discipline); the factor growths multiply back to the revenue
  // growth by construction. One 2-row aggregate → single-row report.
  // ------------------------------------------------------------------
  def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(countDistinct("o_custkey").as("c"), count(lit(1)).as("o"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("r"))
    per.agg(
        max(when(col("yr") === 1995, col("c"))).as("c95"),
        max(when(col("yr") === 1996, col("c"))).as("c96"),
        max(when(col("yr") === 1995, col("o"))).as("o95"),
        max(when(col("yr") === 1996, col("o"))).as("o96"),
        max(when(col("yr") === 1995, col("r"))).as("r95"),
        max(when(col("yr") === 1996, col("r"))).as("r96"))
      .select(
        round(col("r95").cast("double") / 100.0, 2).as("rev_1995"),
        round(col("r96").cast("double") / 100.0, 2).as("rev_1996"),
        round((col("r96").cast("double") / col("r95").cast("double") - 1.0)
          * 100.0, 4).as("rev_growth_pct"),
        round((col("c96").cast("double") / col("c95").cast("double") - 1.0)
          * 100.0, 4).as("cust_growth_pct"),
        round(((col("o96") * col("c95")).cast("double")
          / (col("o95") * col("c96")).cast("double") - 1.0) * 100.0, 4)
          .as("freq_growth_pct"),
        round((col("r96").cast("double") * col("o95").cast("double")
          / (col("r95").cast("double") * col("o96").cast("double")) - 1.0)
          * 100.0, 4).as("aov_growth_pct"))
  }

  private val growthAccountingSql =
    """WITH per AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS yr,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS c,
      |    CAST(count(*) AS BIGINT) AS o,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |  GROUP BY 1),
      |w AS (
      |  SELECT max(CASE WHEN yr = 1995 THEN c END) AS c95,
      |    max(CASE WHEN yr = 1996 THEN c END) AS c96,
      |    max(CASE WHEN yr = 1995 THEN o END) AS o95,
      |    max(CASE WHEN yr = 1996 THEN o END) AS o96,
      |    max(CASE WHEN yr = 1995 THEN r END) AS r95,
      |    max(CASE WHEN yr = 1996 THEN r END) AS r96
      |  FROM per)
      |SELECT round(CAST(r95 AS DOUBLE) / 100.0, 2) AS rev_1995,
      |  round(CAST(r96 AS DOUBLE) / 100.0, 2) AS rev_1996,
      |  round((CAST(r96 AS DOUBLE) / CAST(r95 AS DOUBLE) - 1.0) * 100.0, 4)
      |    AS rev_growth_pct,
      |  round((CAST(c96 AS DOUBLE) / CAST(c95 AS DOUBLE) - 1.0) * 100.0, 4)
      |    AS cust_growth_pct,
      |  round((CAST(o96 * c95 AS DOUBLE) / CAST(o95 * c96 AS DOUBLE) - 1.0)
      |    * 100.0, 4) AS freq_growth_pct,
      |  round((CAST(r96 AS DOUBLE) * CAST(o95 AS DOUBLE)
      |    / (CAST(r95 AS DOUBLE) * CAST(o96 AS DOUBLE)) - 1.0) * 100.0, 4)
      |    AS aov_growth_pct
      |FROM w""".stripMargin

  // ------------------------------------------------------------------
  // Stochastic oscillator (%K, 14-day) on daily revenue — the
  // min/max-envelope signal completing the trailing-window family
  // (Bollinger = mean/σ envelope, this = range envelope): %K = 100·
  // (x − min₁₄)/(max₁₄ − min₁₄). Overbought (>80) and oversold (<20)
  // decisions are EXACT integer cross-products (5(x−mn) vs 4(mx−mn) /
  // (mx−mn)); the only doubles are the per-year max/min %K extremes
  // (order-independent reductions), with flat windows (mx = mn)
  // excluded from the ratio. Full 14-day windows only; one global
  // ordered window over the aggregate-first daily frame.
  // ------------------------------------------------------------------
  def stochasticOsc(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
    val w14 = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    daily
      .withColumn("mn", min("x").over(w14))
      .withColumn("mx", max("x").over(w14))
      .withColumn("c", count(lit(1)).over(w14))
      .filter(col("c") === 14)
      .groupBy(year(col("day")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(lit(5) * (col("x") - col("mn")) > lit(4) * (col("mx") - col("mn")), 1L)
          .otherwise(0L)).as("n_overbought"),
        sum(when(lit(5) * (col("x") - col("mn")) < (col("mx") - col("mn")), 1L)
          .otherwise(0L)).as("n_oversold"),
        round(max(when(col("mx") > col("mn"),
          (col("x") - col("mn")).cast("double") * 100.0
            / (col("mx") - col("mn")).cast("double"))), 4).as("max_pct_k"),
        round(min(when(col("mx") > col("mn"),
          (col("x") - col("mn")).cast("double") * 100.0
            / (col("mx") - col("mn")).cast("double"))), 4).as("min_pct_k"))
      .orderBy("yr")
  }

  private val stochasticOscSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT day, x, min(x) OVER w AS mn, max(x) OVER w AS mx,
      |    count(*) OVER w AS c
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT year(day) AS yr, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(count(*) FILTER (WHERE 5 * (x - mn) > 4 * (mx - mn)) AS BIGINT)
      |    AS n_overbought,
      |  CAST(count(*) FILTER (WHERE 5 * (x - mn) < (mx - mn)) AS BIGINT)
      |    AS n_oversold,
      |  round(max(CASE WHEN mx > mn
      |    THEN CAST(x - mn AS DOUBLE) * 100.0 / CAST(mx - mn AS DOUBLE) END), 4)
      |    AS max_pct_k,
      |  round(min(CASE WHEN mx > mn
      |    THEN CAST(x - mn AS DOUBLE) * 100.0 / CAST(mx - mn AS DOUBLE) END), 4)
      |    AS min_pct_k
      |FROM t WHERE c = 14 GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Holt's linear (double-exponential) smoothing forecast of daily
  // revenue — the trend-aware upgrade of the EWMA the engine already
  // has (EWMA linearizes because its recursion is a single geometric
  // sum; Holt's COUPLED level/trend recursion does not, so it runs as
  // an ORDERED IN-ARRAY FOLD): lₜ = αxₜ + (1−α)(lₜ₋₁+bₜ₋₁),
  // bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, α = 0.3, β = 0.1, seeded l₁ = x₁,
  // b₁ = 0. Both engines execute the IDENTICAL sequence of double ops
  // (Spark `aggregate` with a struct accumulator; DuckDB `list_reduce`
  // over [x, 0] pairs since its accumulator must share the element
  // type), so the smoothed state is bit-identical. Scale shape: the
  // fold runs on the calendar-bounded daily frame (one array row, ≤ a
  // few thousand elements at any corpus size) after one aggregate-first
  // shuffle.
  // ------------------------------------------------------------------
  def holtLinear(s: SparkSession, dir: String): DataFrame = {
    dailyCents(s, dir)
      .agg(expr("transform(sort_array(collect_list(struct(day, x))), e -> CAST(e.x AS DOUBLE))")
        .as("xs"))
      .withColumn("st", expr(
        """aggregate(slice(xs, 2, size(xs) - 1),
          |  named_struct('l', xs[0], 'b', 0D),
          |  (a, x) -> named_struct(
          |    'l', 0.3 * x + 0.7 * (a.l + a.b),
          |    'b', 0.1 * ((0.3 * x + 0.7 * (a.l + a.b)) - a.l) + 0.9 * a.b))"""
          .stripMargin))
      .select(size(col("xs")).cast("long").as("n_days"),
        round(col("st.l") / 100.0, 4).as("level"),
        round(col("st.b") / 100.0, 4).as("trend"),
        round((col("st.l") + lit(7.0) * col("st.b")) / 100.0, 4).as("forecast_7d"))
  }

  private val holtLinearSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |arr AS (
      |  SELECT list(CAST(x AS DOUBLE) ORDER BY day) AS xs FROM daily),
      |folded AS (
      |  SELECT len(xs) AS n, list_reduce(
      |    list_concat([[xs[1], CAST(0 AS DOUBLE)]],
      |      list_transform(xs[2:], v -> [v, CAST(0 AS DOUBLE)])),
      |    (a, e) -> [0.3 * e[1] + 0.7 * (a[1] + a[2]),
      |      0.1 * ((0.3 * e[1] + 0.7 * (a[1] + a[2])) - a[1]) + 0.9 * a[2]]) AS st
      |  FROM arr)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  round(st[1] / 100.0, 4) AS level,
      |  round(st[2] / 100.0, 4) AS trend,
      |  round((st[1] + 7.0 * st[2]) / 100.0, 4) AS forecast_7d
      |FROM folded""".stripMargin

  // ------------------------------------------------------------------
  // Cochran–Armitage trend test: does the high-value-order rate trend
  // monotonically across the FIVE ORDERED priority levels? (The χ²
  // independence test ignores the ordering; CA is the standard
  // dose-response test for proportions.) Scores wᵢ = 1..5; the
  // numerator N·Σwr − R·Σwn is an EXACT BIGINT whose SIGN gives the
  // trend direction with no double involved; z then divides the
  // numerator by √(R(N−R)(N·Σw²n − (Σwn)²)/N) with every product
  // factor cast to double first (numerator² and the variance products
  // overflow long at sf0.1 — the CUPED discipline, applied at authoring
  // time). One conditional-sum aggregation pass, single-row output.
  // ------------------------------------------------------------------
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(
        substring(col("o_orderpriority"), 1, 1).cast("long").as("w"),
        (expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 15000000L)
          .cast("long").as("hv"))
      .agg(count(lit(1)).as("n"), sum("hv").as("r"),
        sum(col("w") * col("hv")).as("swr"), sum("w").as("swn"),
        sum(col("w") * col("w")).as("sw2n"))
      .withColumn("num", (col("n").cast("double") * col("swr").cast("double"))
        - (col("r").cast("double") * col("swn").cast("double")))
      .withColumn("numi_sign",
        signum((col("n") * col("swr") - col("r") * col("swn")).cast("double")).cast("long"))
      .withColumn("varn", col("r").cast("double")
        * (col("n") - col("r")).cast("double")
        * (col("n").cast("double") * col("sw2n").cast("double")
          - col("swn").cast("double") * col("swn").cast("double"))
        / col("n").cast("double"))
      .select(col("n").as("n_orders"), col("r").as("n_high_value"),
        round(col("num") / sqrt(col("varn")), 4).as("z_trend"),
        when(col("numi_sign") > 0, "increasing")
          .when(col("numi_sign") < 0, "decreasing")
          .otherwise("flat").as("direction"))
  }

  private val cochranArmitageSql =
    """WITH r AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
      |    CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) > 15000000
      |      THEN 1 ELSE 0 END AS hv
      |  FROM orders),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(hv) AS BIGINT) AS rr,
      |    CAST(sum(w * hv) AS BIGINT) AS swr, CAST(sum(w) AS BIGINT) AS swn,
      |    CAST(sum(w * w) AS BIGINT) AS sw2n
      |  FROM r),
      |t AS (
      |  SELECT *,
      |    CAST(n AS DOUBLE) * CAST(swr AS DOUBLE)
      |      - CAST(rr AS DOUBLE) * CAST(swn AS DOUBLE) AS num,
      |    CAST(sign(n * swr - rr * swn) AS BIGINT) AS numi_sign,
      |    CAST(rr AS DOUBLE) * CAST(n - rr AS DOUBLE)
      |      * (CAST(n AS DOUBLE) * CAST(sw2n AS DOUBLE)
      |        - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE))
      |      / CAST(n AS DOUBLE) AS varn
      |  FROM m)
      |SELECT n AS n_orders, rr AS n_high_value,
      |  round(num / sqrt(varn), 4) AS z_trend,
      |  CASE WHEN numi_sign > 0 THEN 'increasing'
      |       WHEN numi_sign < 0 THEN 'decreasing'
      |       ELSE 'flat' END AS direction
      |FROM t""".stripMargin

  // ------------------------------------------------------------------
  // TOST equivalence test on the A/B arms — the inverse question of the
  // significance machinery (CUPED/SRM/MDE family): can we conclude the
  // variants are EQUIVALENT within ±2%? Two one-sided z-tests against
  // the margin δ = 2% of the pooled mean: z_lower = (Δ+δ)/se,
  // z_upper = (δ−Δ)/se, equivalent iff min > z_0.95. Arms and moments
  // come from the same floor-to-dollar exact integer sums as the MDE
  // query (overflow-checked at sf0.1); the z chain is identical literal
  // double arithmetic on both engines. One custkey agg, one-row output.
  // ------------------------------------------------------------------
  def tostEquivalence(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100")).as("x"))
      .withColumn("v", col("o_custkey") % 2)
    per.groupBy()
      .agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("v") === 0, col("x")).otherwise(0L)).as("s0"),
        sum(when(col("v") === 1, col("x")).otherwise(0L)).as("s1"),
        sum(when(col("v") === 0, col("x") * col("x")).otherwise(0L)).as("ss0"),
        sum(when(col("v") === 1, col("x") * col("x")).otherwise(0L)).as("ss1"))
      .withColumn("m0", col("s0").cast("double") / col("n0").cast("double"))
      .withColumn("m1", col("s1").cast("double") / col("n1").cast("double"))
      .withColumn("var0", (col("n0").cast("double") * col("ss0").cast("double")
        - col("s0").cast("double") * col("s0").cast("double"))
        / (col("n0").cast("double") * (col("n0") - 1).cast("double")))
      .withColumn("var1", (col("n1").cast("double") * col("ss1").cast("double")
        - col("s1").cast("double") * col("s1").cast("double"))
        / (col("n1").cast("double") * (col("n1") - 1).cast("double")))
      .withColumn("se", sqrt(col("var0") / col("n0").cast("double")
        + col("var1") / col("n1").cast("double")))
      .withColumn("delta", col("m1") - col("m0"))
      .withColumn("margin", lit(0.02) * (col("s0") + col("s1")).cast("double")
        / (col("n0") + col("n1")).cast("double"))
      .select(col("n0").as("n_variant0"), col("n1").as("n_variant1"),
        round(col("m0"), 4).as("mean0"), round(col("m1"), 4).as("mean1"),
        round(col("delta"), 4).as("diff"),
        round((col("delta") + col("margin")) / col("se"), 4).as("z_lower"),
        round((col("margin") - col("delta")) / col("se"), 4).as("z_upper"),
        ((col("delta") + col("margin")) / col("se") > lit(1.6448536269514722) &&
          (col("margin") - col("delta")) / col("se") > lit(1.6448536269514722))
          .as("equivalent_2pct"))
  }

  private val tostEquivalenceSql =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100) AS BIGINT) AS x,
      |    o_custkey % 2 AS v
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1),
      |m AS (
      |  SELECT
      |    CAST(count(*) FILTER (WHERE v = 0) AS BIGINT) AS n0,
      |    CAST(count(*) FILTER (WHERE v = 1) AS BIGINT) AS n1,
      |    CAST(sum(x) FILTER (WHERE v = 0) AS BIGINT) AS s0,
      |    CAST(sum(x) FILTER (WHERE v = 1) AS BIGINT) AS s1,
      |    CAST(sum(x * x) FILTER (WHERE v = 0) AS BIGINT) AS ss0,
      |    CAST(sum(x * x) FILTER (WHERE v = 1) AS BIGINT) AS ss1
      |  FROM per),
      |t AS (
      |  SELECT n0, n1,
      |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |    sqrt(((CAST(n0 AS DOUBLE) * CAST(ss0 AS DOUBLE)
      |        - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
      |        / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE))) / CAST(n0 AS DOUBLE)
      |      + ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |        / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))) / CAST(n1 AS DOUBLE))
      |      AS se,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS delta,
      |    0.02 * (CAST(s0 + s1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) AS margin
      |  FROM m)
      |SELECT n0 AS n_variant0, n1 AS n_variant1,
      |  round(m0, 4) AS mean0, round(m1, 4) AS mean1,
      |  round(delta, 4) AS diff,
      |  round((delta + margin) / se, 4) AS z_lower,
      |  round((margin - delta) / se, 4) AS z_upper,
      |  (delta + margin) / se > 1.6448536269514722
      |    AND (margin - delta) / se > 1.6448536269514722 AS equivalent_2pct
      |FROM t""".stripMargin

  // ------------------------------------------------------------------
  // Wald SPRT over accumulating daily evidence — the SEQUENTIAL member
  // of the experimentation family (fixed-horizon tests peek-cheat; SPRT
  // is the always-valid decision rule): is the urgent-order rate ≥ 21%
  // (H₁) or ≤ 19% (H₀)? The log-likelihood ratio is LLR_t = c₁·X_t +
  // c₀·(N_t − X_t) with c₁ = ln(p₁/p₀), c₀ = ln((1−p₁)/(1−p₀)) as
  // SHARED double literals and X/N exact cumulative integers, so both
  // engines build the identical double per day; decision = first day
  // LLR crosses ±ln(19) (α = β = 0.05). Per-year restart. Scale shape:
  // one daily aggregate, two running-sum windows, a per-year argmin.
  // ------------------------------------------------------------------
  def abSprt(s: SparkSession, dir: String): DataFrame = {
    val C1 = "0.10008345855698243"  // ln(0.21/0.19), shared literal
    val C0 = "-0.02500130220541727" // ln(0.79/0.81), shared literal
    val LnA = "2.9444389791664403"  // ln(19)
    val daily = Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_orderpriority") === "1-URGENT").cast("long")).as("x"))
    val w = Window.partitionBy("yr").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val llr = daily
      .withColumn("xc", sum("x").over(w))
      .withColumn("nc", sum("n").over(w))
      .withColumn("llr", expr(
        s"$C1 * CAST(xc AS DOUBLE) + ($C0) * CAST(nc - xc AS DOUBLE)"))
    llr.groupBy("yr")
      .agg(count(lit(1)).as("n_days"),
        min(when(expr(s"llr >= $LnA"), col("day"))).as("d1"),
        min(when(expr(s"llr <= -($LnA)"), col("day"))).as("d0"),
        round(max_by(col("llr"), col("day")), 4).as("final_llr"))
      .select(col("yr"), col("n_days"),
        when(col("d1").isNotNull && (col("d0").isNull || col("d1") < col("d0")),
          "accept_h1")
          .when(col("d0").isNotNull, "accept_h0")
          .otherwise("continue").as("decision"),
        date_format(least(col("d1"), col("d0")), "yyyy-MM-dd").as("decision_day"),
        col("final_llr"))
      .orderBy("yr")
  }

  private val abSprtSql =
    """WITH daily AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS yr, CAST(o_orderdate AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS x
      |  FROM orders GROUP BY 1, 2),
      |c AS (
      |  SELECT yr, day,
      |    sum(x) OVER w AS xc, sum(n) OVER w AS nc
      |  FROM daily
      |  WINDOW w AS (PARTITION BY yr ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |l AS (
      |  SELECT yr, day,
      |    0.10008345855698243 * CAST(xc AS DOUBLE)
      |      + (-0.02500130220541727) * CAST(nc - xc AS DOUBLE) AS llr
      |  FROM c),
      |agg AS (
      |  SELECT yr, CAST(count(*) AS BIGINT) AS n_days,
      |    min(CASE WHEN llr >= 2.9444389791664403 THEN day END) AS d1,
      |    min(CASE WHEN llr <= -(2.9444389791664403) THEN day END) AS d0,
      |    round(arg_max(llr, day), 4) AS final_llr
      |  FROM l GROUP BY 1)
      |SELECT CAST(yr AS BIGINT) AS yr, n_days,
      |  CASE WHEN d1 IS NOT NULL AND (d0 IS NULL OR d1 < d0) THEN 'accept_h1'
      |       WHEN d0 IS NOT NULL THEN 'accept_h0'
      |       ELSE 'continue' END AS decision,
      |  strftime(least(d1, d0), '%Y-%m-%d') AS decision_day,
      |  final_llr
      |FROM agg ORDER BY yr""".stripMargin

  // ------------------------------------------------------------------
  // Brown–Forsythe (median-centered Levene) test for variance
  // homogeneity of line quantities across return flags — the
  // PRECONDITION check the ANOVA/t-test family silently assumes. The
  // absolute deviations are EXACT integers: quantities are integers and
  // each group median is dyadic (k or k.5), so z = |2q − 2·med| is an
  // exact small int and every SS is an exact bigint at ANY corpus size
  // (z ≤ 100); F = (SSB/(k−1))/(SSW/(N−k)) is the only double. One
  // agg for medians (broadcast back), one conditional-sum pass, a
  // k-row frame for the final F.
  // ------------------------------------------------------------------
  def leveneTest(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"),
        expr("CAST(l_quantity AS BIGINT)").as("q"))
    val med = li.groupBy("g")
      .agg(expr("CAST(round(percentile(q, 0.5) * 2) AS BIGINT)").as("med2"))
    val z = li.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(lit(2L) * col("q") - col("med2")).as("z"))
    val per = z.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("z").as("sz"), sum(col("z") * col("z")).as("szz"))
    per.agg(count(lit(1)).as("k"), sum("n").as("nt"), sum("sz").as("szt"),
        sum("szz").as("szzt"),
        // Σ n_g·(z̄_g − z̄)² · nt·Πn? — keep it in the standard double
        // form from exact sums: SSB = Σ s_g²/n_g − S²/N (each term one
        // division of exact ints, summed over k=3 ordered by group via
        // in-array fold)
        expr("aggregate(sort_array(collect_list(named_struct('g', g, " +
          "'v', CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)))), " +
          "0D, (a, e) -> a + e.v)").as("sumsq_over_n"))
      .withColumn("ssb", col("sumsq_over_n")
        - col("szt").cast("double") * col("szt").cast("double")
          / col("nt").cast("double"))
      .withColumn("ssw", col("szzt").cast("double") - col("sumsq_over_n"))
      .withColumn("f_stat", (col("ssb") / (col("k") - 1).cast("double"))
        / (col("ssw") / (col("nt") - col("k")).cast("double")))
      .select(col("k").as("n_groups"), col("nt").as("n_rows"),
        round(col("f_stat"), 4).as("f_stat"),
        (col("f_stat") > lit(3.0)).as("heteroscedastic_f3"))
  }

  private val leveneTestSql =
    """WITH li AS (
      |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
      |med AS (
      |  SELECT g, CAST(round(quantile_cont(q, 0.5) * 2) AS BIGINT) AS med2
      |  FROM li GROUP BY 1),
      |z AS (
      |  SELECT li.g, abs(2 * q - med2) AS z FROM li JOIN med ON li.g = med.g),
      |per AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(z) AS BIGINT) AS sz,
      |    CAST(sum(z * z) AS BIGINT) AS szz
      |  FROM z GROUP BY 1),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nt,
      |    CAST(sum(sz) AS BIGINT) AS szt, CAST(sum(szz) AS BIGINT) AS szzt,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)
      |        ORDER BY g)), (a, v) -> a + v) AS sumsq_over_n
      |  FROM per),
      |f AS (
      |  SELECT k, nt,
      |    (sumsq_over_n - CAST(szt AS DOUBLE) * CAST(szt AS DOUBLE)
      |      / CAST(nt AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
      |    / ((CAST(szzt AS DOUBLE) - sumsq_over_n) / CAST(nt - k AS DOUBLE))
      |      AS f_stat
      |  FROM tot)
      |SELECT k AS n_groups, nt AS n_rows, round(f_stat, 4) AS f_stat,
      |  f_stat > 3.0 AS heteroscedastic_f3
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Kruskal–Wallis H test: do line quantities differ in LOCATION across
  // the twelve ship months? (The rank-based one-way ANOVA — the
  // distribution-free complement of agg_anova_f, robust to the heavy
  // tails revenue-like columns carry.) Ranks are VALUE-COLLAPSED: the
  // only corpus-sized work is one (month, quantity) count aggregation;
  // the rank arithmetic walks the ≤ 50·12 collapsed frame, so the global
  // "ranking" costs O(|quantity domain|) at ANY corpus size — the
  // weighted-median discipline applied to rank statistics. Doubled
  // average ranks (2·cum_below + t_v + 1) keep tie handling exact
  // integer; rank sums and the tie census run in DECIMAL(38,0) (t³
  // overflows BIGINT once one value holds ~2M rows); the Σ R_g²/4n_g
  // reduction is an ORDERED in-array fold over the 12 groups on both
  // engines, so no unordered double sum decides H.
  // ------------------------------------------------------------------
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val gv = Materialize.gated(Tables.lineitem(s, dir), Tables.lineitem(s, dir)
      .groupBy(month(col("l_shipdate")).cast("long").as("g"),
        expr("CAST(l_quantity AS BIGINT)").as("v"))
      .agg(count(lit(1)).as("c")), "kruskal-wallis-gv")
    val perv = gv.groupBy("v").agg(sum("c").as("tv"))
      .withColumn("below", coalesce(sum("tv").over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("dr", lit(2L) * col("below") + col("tv") + lit(1L))
    val rsum = gv.join(perv.select("v", "dr"), Seq("v"))
      .groupBy("g")
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(dr AS DECIMAL(38,0))")).as("r2"),
        sum("c").as("n"))
    val ties = perv.agg(sum(expr(
      "CAST(tv AS DECIMAL(38,0)) * CAST(tv AS DECIMAL(38,0)) * CAST(tv AS DECIMAL(38,0))" +
        " - CAST(tv AS DECIMAL(38,0))")).as("tcorr"))
    rsum.agg(count(lit(1)).as("k"), sum("n").as("nt"),
        expr("aggregate(sort_array(collect_list(named_struct('g', g, 'v', " +
          "CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4.0 * CAST(n AS DOUBLE))))), " +
          "0D, (a, e) -> a + e.v)").as("srr"))
      .crossJoin(broadcast(ties))
      .withColumn("hu", lit(12.0)
        / (col("nt").cast("double") * (col("nt") + lit(1L)).cast("double"))
        * col("srr") - lit(3.0) * (col("nt") + lit(1L)).cast("double"))
      .withColumn("cc", lit(1.0) - col("tcorr").cast("double")
        / (col("nt").cast("double") * col("nt").cast("double")
          * col("nt").cast("double") - col("nt").cast("double")))
      .select(col("k").as("n_groups"), col("nt").as("n_rows"),
        round(col("hu") / col("cc"), 4).as("h_stat"),
        // H ~ χ²(k−1) with k = 12 ship months ⇒ df = 11, whose 0.05
        // critical value is 19.675 (12.592 — the df = 6 cutoff — was a
        // carried copy-paste from a 7-group sibling and over-reported
        // significance; duplicated in the oracle, so only the pinned
        // literal discipline below catches it)
        (col("hu") / col("cc") > lit(19.675)).as("location_shift_p05"))
  }

  private val kruskalWallisSql =
    """WITH gv AS (
      |  SELECT CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS g,
      |    CAST(l_quantity AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |perv AS (SELECT v, CAST(sum(c) AS BIGINT) AS tv FROM gv GROUP BY 1),
      |ranked AS (
      |  SELECT v, tv, 2 * COALESCE(sum(tv) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + tv + 1 AS dr
      |  FROM perv),
      |rsum AS (
      |  SELECT g, sum(CAST(c AS HUGEINT) * CAST(dr AS HUGEINT)) AS r2,
      |    CAST(sum(c) AS BIGINT) AS n
      |  FROM gv JOIN ranked USING (v) GROUP BY 1),
      |ties AS (
      |  SELECT sum(CAST(tv AS HUGEINT) * CAST(tv AS HUGEINT) * CAST(tv AS HUGEINT)
      |    - CAST(tv AS HUGEINT)) AS tcorr FROM perv),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nt,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4.0 * CAST(n AS DOUBLE))
      |        ORDER BY g)), (a, x) -> a + x) AS srr
      |  FROM rsum),
      |h AS (
      |  SELECT k, nt,
      |    12.0 / (CAST(nt AS DOUBLE) * CAST(nt + 1 AS DOUBLE)) * srr
      |      - 3.0 * CAST(nt + 1 AS DOUBLE) AS hu,
      |    1.0 - CAST(tcorr AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
      |      * CAST(nt AS DOUBLE) - CAST(nt AS DOUBLE)) AS cc
      |  FROM tot, ties)
      |SELECT k AS n_groups, nt AS n_rows, round(hu / cc, 4) AS h_stat,
      |  hu / cc > 19.675 AS location_shift_p05
      |FROM h""".stripMargin

  // ------------------------------------------------------------------
  // Cliff's delta: the ORDINAL effect size between returned ('R') and
  // accepted ('A') line quantities — δ = (#(r>a) − #(r<a)) / (n_r·n_a),
  // the robust companion number a rank test should always ship with
  // (agg_kruskal_wallis says WHETHER groups differ; δ says HOW MUCH,
  // on a -1..1 scale insensitive to any monotone transform). The pair
  // counts are EXACT without any pair expansion: value-collapse both
  // groups over the ≤50-value quantity domain, then #(r>a) =
  // Σ_v cnt_r(v)·cum_a(<v) from one cumulative window over the
  // collapsed frame. Sums and the magnitude thresholds (0.147 / 0.33 /
  // 0.474, Romano's conventions) run in DECIMAL(38,0) cross-products —
  // 1000·|gt−lt| vs thresh·n_r·n_a — so the label never touches a
  // double.
  // ------------------------------------------------------------------
  def cliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val gv = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy(col("l_returnflag").as("g"), expr("CAST(l_quantity AS BIGINT)").as("v"))
      .agg(count(lit(1)).as("c"))
    val frame = gv.groupBy("v")
      .agg(sum(when(col("g") === "R", col("c")).otherwise(0L)).as("cr"),
        sum(when(col("g") === "A", col("c")).otherwise(0L)).as("ca"))
    val w = Window.orderBy("v")
    val cum = frame
      .withColumn("ca_below", coalesce(sum("ca").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ca_tot", sum("ca").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("ca_above", col("ca_tot") - col("ca_below") - col("ca"))
    cum.agg(sum("cr").as("n_r"), max("ca_tot").as("n_a"),
        sum(expr("CAST(cr AS DECIMAL(38,0)) * CAST(ca_below AS DECIMAL(38,0))")).as("gt"),
        sum(expr("CAST(cr AS DECIMAL(38,0)) * CAST(ca_above AS DECIMAL(38,0))")).as("lt"))
      .withColumn("nn", expr("CAST(n_r AS DECIMAL(38,0)) * CAST(n_a AS DECIMAL(38,0))"))
      .withColumn("ad", expr("abs(CAST(gt - lt AS DECIMAL(38,0)))"))
      .select(col("n_r"), col("n_a"),
        col("gt").cast("long").as("pairs_gt"), col("lt").cast("long").as("pairs_lt"),
        round((col("gt") - col("lt")).cast("double") / col("nn").cast("double"), 4)
          .as("cliffs_delta"),
        when(expr("1000 * ad < 147 * nn"), "negligible")
          .when(expr("1000 * ad < 330 * nn"), "small")
          .when(expr("1000 * ad < 474 * nn"), "medium")
          .otherwise("large").as("magnitude"))
  }

  private val cliffsDeltaSql =
    """WITH gv AS (
      |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1, 2),
      |frame AS (
      |  SELECT v,
      |    CAST(sum(CASE WHEN g = 'R' THEN c ELSE 0 END) AS BIGINT) AS cr,
      |    CAST(sum(CASE WHEN g = 'A' THEN c ELSE 0 END) AS BIGINT) AS ca
      |  FROM gv GROUP BY 1),
      |cum AS (
      |  SELECT v, cr, ca,
      |    COALESCE(sum(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca_below,
      |    sum(ca) OVER () AS ca_tot
      |  FROM frame),
      |agg AS (
      |  SELECT CAST(sum(cr) AS BIGINT) AS n_r, CAST(max(ca_tot) AS BIGINT) AS n_a,
      |    sum(CAST(cr AS HUGEINT) * CAST(ca_below AS HUGEINT)) AS gt,
      |    sum(CAST(cr AS HUGEINT) * CAST(ca_tot - ca_below - ca AS HUGEINT)) AS lt
      |  FROM cum)
      |SELECT n_r, n_a, CAST(gt AS BIGINT) AS pairs_gt, CAST(lt AS BIGINT) AS pairs_lt,
      |  round(CAST(gt - lt AS DOUBLE)
      |    / CAST(CAST(n_r AS HUGEINT) * CAST(n_a AS HUGEINT) AS DOUBLE), 4)
      |    AS cliffs_delta,
      |  CASE
      |    WHEN 1000 * abs(gt - lt) < 147 * CAST(n_r AS HUGEINT) * CAST(n_a AS HUGEINT)
      |      THEN 'negligible'
      |    WHEN 1000 * abs(gt - lt) < 330 * CAST(n_r AS HUGEINT) * CAST(n_a AS HUGEINT)
      |      THEN 'small'
      |    WHEN 1000 * abs(gt - lt) < 474 * CAST(n_r AS HUGEINT) * CAST(n_a AS HUGEINT)
      |      THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // Ljung–Box portmanteau test on daily revenue: is the series white
  // noise, or does autocorrelation persist across lags 1..7? — the
  // residual-diagnostics gate every forecasting deployment (Holt, SMA,
  // seasonal decompose above) should run before trusting its model. The
  // autocovariances are EXACT: cₖ = Σ_{t>k} (n·xₜ − S)(n·xₜ₋ₖ − S) in
  // DECIMAL(38,0) over the aggregate-first daily frame (n·x products
  // overflow BIGINT at sf0.1 — authored in the CUPED discipline), with
  // n and S as unbounded-window columns so the whole query is ONE scan
  // with no join. Q = n(n+2)·Σ rₖ²/(n−k) is a LITERAL 7-term expression
  // chain — fixed left-to-right association on both engines, no
  // unordered double sum.
  // ------------------------------------------------------------------
  def ljungBox(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    val w = Window.orderBy("day")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lagged = daily
      .select(col("day") +: col("x") +: (1 to 7).map(k => lag("x", k).over(w).as(s"x$k")): _*)
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("sx", sum("x").over(full))
    def dev(c: String) = s"(CAST(n AS DECIMAL(38,0)) * CAST($c AS DECIMAL(38,0))" +
      s" - CAST(sx AS DECIMAL(38,0)))"
    val sumCols = max("n").as("n") +: max("sx").as("sx") +:
      sum(expr(s"${dev("x")} * ${dev("x")}")).as("c0") +:
      (1 to 7).map(k => sum(expr(s"${dev("x")} * ${dev(s"x$k")}")).as(s"c$k"))
    val sums = lagged.agg(sumCols.head, sumCols.tail: _*)
    val rsq = (1 to 7).map(k =>
      s"(CAST(c$k AS DOUBLE) / CAST(c0 AS DOUBLE)) * (CAST(c$k AS DOUBLE)" +
        s" / CAST(c0 AS DOUBLE)) / CAST(n - $k AS DOUBLE)").mkString(" + ")
    sums
      .withColumn("q", expr(s"CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * ($rsq)"))
      .select(col("n").as("n_days"),
        round(expr("CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)"), 4).as("r1"),
        round(col("q"), 4).as("q_stat"),
        (col("q") > lit(14.067)).as("autocorr_p05"))
  }

  private val ljungBoxSql = {
    def dev(c: String) =
      s"(CAST(n AS HUGEINT) * CAST($c AS HUGEINT) - CAST(sx AS HUGEINT))"
    val lags = (1 to 7).map(k =>
      s"lag(x, $k) OVER (ORDER BY day) AS x$k").mkString(", ")
    val csums = (1 to 7).map(k =>
      s"sum(${dev("x")} * ${dev(s"x$k")}) AS c$k").mkString(", ")
    val rsq = (1 to 7).map(k =>
      s"(CAST(c$k AS DOUBLE) / CAST(c0 AS DOUBLE)) * (CAST(c$k AS DOUBLE)" +
        s" / CAST(c0 AS DOUBLE)) / CAST(n - $k AS DOUBLE)").mkString(" + ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT x, $lags,
       |    count(*) OVER () AS n, sum(x) OVER () AS sx
       |  FROM daily),
       |sums AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(sx) AS BIGINT) AS sx,
       |    sum(${dev("x")} * ${dev("x")}) AS c0, $csums
       |  FROM lagged),
       |q AS (
       |  SELECT n, c0, c1,
       |    CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * ($rsq) AS q
       |  FROM sums)
       |SELECT n AS n_days, round(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE), 4) AS r1,
       |  round(q, 4) AS q_stat, q > 14.067 AS autocorr_p05
       |FROM q""".stripMargin
  }

  // ------------------------------------------------------------------
  // Kendall's W (coefficient of concordance): do the seven order-years
  // agree on how the 25 nations rank by revenue? — the multi-judge
  // generalization of rank correlation (W = 1 perfect agreement, 0
  // none), the right tool for "is this leaderboard stable over time".
  // Everything is EXACT integer until the final division: doubled ranks
  // within each year (2·rank + ties − 1, the Spearman discipline),
  // per-nation rank sums R2ᵢ ≤ 2mn, the spread S4 = Σ(n·R2ᵢ − T)² on
  // tiny domain-bounded ints, and the per-judge tie census. The
  // strong-concordance call (W > 0.7) is an integer cross-product —
  // 30·S4 vs 7·n²·D. Scale shape: one (year, nation) aggregate is the
  // only corpus-sized pass; ranking walks the ≤ m·n collapsed frame.
  // ------------------------------------------------------------------
  def kendallsW(s: SparkSession, dir: String): DataFrame = {
    val rev = Materialize.gated(Tables.orders(s, dir), Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(year(col("o_orderdate")).as("yr"), col("n_name"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev")), "kendalls-w-rev")
    val m = rev.select(countDistinct("yr").as("m"))
    // Panel balance FIRST: ranks, rank sums, and the tie census must all
    // be computed over the SAME set of judged subjects. Ranking all
    // nations and filtering to seen == m afterwards leaves rank sums (and
    // t³−t tie terms) that count absent-elsewhere nations, so n, S4 and D
    // disagree and W can leave [0, 1] on an unbalanced panel — masked on
    // this fixture only because every nation orders in every year.
    val kept = rev
      .withColumn("seen", count(lit(1)).over(Window.partitionBy("n_name")))
      .crossJoin(broadcast(m)).filter(col("seen") === col("m"))
      .select("yr", "n_name", "rev")
    val dr = kept.withColumn("dr",
      rank().over(Window.partitionBy("yr").orderBy("rev")) * 2
        + count(lit(1)).over(Window.partitionBy("yr", "rev")) - 1)
    val rsum = dr.groupBy("n_name").agg(sum("dr").as("r2"))
    val ties = dr.groupBy("yr", "rev").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    val tot = rsum.crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n"), max("m").as("m"),
        sum("r2").as("tt"), sum(col("r2") * col("r2")).as("sr2"))
    tot.crossJoin(broadcast(ties))
      // Σ(n·R2ᵢ − T)² = n²·ΣR2² − n·T² when T = ΣR2ᵢ — compute from the
      // two exact sums so no per-row second pass is needed
      .withColumn("s4", col("n") * col("n") * col("sr2") - col("n") * col("tt") * col("tt"))
      // D = m²(n³−n) − m·Σ(t³−t), in the ORIGINAL (undoubled) rank
      // scale; S = S4/(4n²) undoes the doubling, so W = 3·S4/(n²·D)
      .withColumn("dd", col("m") * col("m")
        * (col("n") * col("n") * col("n") - col("n")) - col("m") * col("tsum"))
      .select(col("n").as("n_nations"), col("m").as("m_years"),
        round(lit(3.0) * col("s4").cast("double")
          / (col("n").cast("double") * col("n").cast("double")
            * col("dd").cast("double")), 4).as("w"),
        round(col("m").cast("double") * (col("n") - 1).cast("double")
          * (lit(3.0) * col("s4").cast("double")
            / (col("n").cast("double") * col("n").cast("double")
              * col("dd").cast("double"))), 4).as("chi2"),
        (lit(30L) * col("s4") > lit(7L) * col("n") * col("n") * col("dd"))
          .as("strong_concordance"))
  }

  private val kendallsWSql =
    """WITH rev AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS yr, n_name,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |m AS (SELECT CAST(count(DISTINCT yr) AS BIGINT) AS m FROM rev),
      |kept AS (
      |  SELECT rev.yr, rev.n_name, rev.rev
      |  FROM rev JOIN (
      |    SELECT n_name, CAST(count(*) AS BIGINT) AS seen FROM rev GROUP BY 1
      |  ) s ON rev.n_name = s.n_name, m WHERE s.seen = m.m),
      |dr AS (
      |  SELECT yr, n_name, rev,
      |    rank() OVER (PARTITION BY yr ORDER BY rev) * 2
      |      + count(*) OVER (PARTITION BY yr, rev) - 1 AS dr
      |  FROM kept),
      |rsum AS (SELECT n_name, CAST(sum(dr) AS BIGINT) AS r2 FROM dr GROUP BY 1),
      |ties AS (
      |  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tsum FROM (
      |    SELECT CAST(count(*) AS BIGINT) AS t FROM dr GROUP BY yr, rev)),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(r2) AS BIGINT) AS tt,
      |    CAST(sum(r2 * r2) AS BIGINT) AS sr2
      |  FROM rsum),
      |f AS (
      |  SELECT n, m, n * n * sr2 - n * tt * tt AS s4,
      |    m * m * (n * n * n - n) - m * tsum AS dd
      |  FROM tot, m, ties)
      |SELECT n AS n_nations, m AS m_years,
      |  round(3.0 * CAST(s4 AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(dd AS DOUBLE)), 4) AS w,
      |  round(CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE)
      |    * (3.0 * CAST(s4 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(dd AS DOUBLE))), 4) AS chi2,
      |  30 * s4 > 7 * n * n * dd AS strong_concordance
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Cronbach's alpha: internal-consistency reliability of a customer's
  // four 1995 quarterly spends treated as a 4-item scale — DO the four
  // quarters measure one stable "spend propensity" trait, or four
  // unrelated things? (The metric-design gate before anyone aggregates
  // per-customer quarterly features into a single score.) α =
  // k/(k−1)·(1 − Σσᵢ²/σ_total²) from exact moment sums: spends floored
  // to whole dollars, Σx and Σx² in DECIMAL(38,0) (the CUPED overflow
  // discipline — squares of customer-quarter dollars overflow BIGINT
  // near 100× scale), every variance a product of double-cast exact
  // factors, and the 4-term Σσᵢ² a literal fixed-order chain. One
  // customer-keyed conditional-sum aggregate, then a single-row reduce.
  // ------------------------------------------------------------------
  def cronbachAlpha(s: SparkSession, dir: String): DataFrame = {
    val aggs = (1 to 4).map(i =>
      sum(when(quarter(col("o_orderdate")) === i,
        expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100")).otherwise(0L)).as(s"q$i"))
    val items = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy("o_custkey")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("t", col("q1") + col("q2") + col("q3") + col("q4"))
    def mom(c: String) = Seq(
      sum(col(c)).as(s"s_$c"),
      sum(expr(s"CAST($c AS DECIMAL(38,0)) * CAST($c AS DECIMAL(38,0))")).as(s"ss_$c"))
    val sums = items.agg(count(lit(1)).as("n"),
      (mom("q1") ++ mom("q2") ++ mom("q3") ++ mom("q4") ++ mom("t")): _*)
    def v(c: String) = s"(CAST(n AS DOUBLE) * CAST(ss_$c AS DOUBLE)" +
      s" - CAST(s_$c AS DOUBLE) * CAST(s_$c AS DOUBLE))"
    sums
      .withColumn("alpha", expr(
        s"4.0 / 3.0 * (1.0 - (${v("q1")} + ${v("q2")} + ${v("q3")} + ${v("q4")}) / ${v("t")})"))
      .select(col("n").as("n_customers"), round(col("alpha"), 4).as("alpha"),
        when(col("alpha") >= 0.8, "good").when(col("alpha") >= 0.7, "acceptable")
          .when(col("alpha") >= 0.5, "poor").otherwise("unacceptable").as("reliability"))
  }

  private val cronbachAlphaSql = {
    def v(c: String) = s"(CAST(n AS DOUBLE) * CAST(ss_$c AS DOUBLE)" +
      s" - CAST(s_$c AS DOUBLE) * CAST(s_$c AS DOUBLE))"
    val qcols = (1 to 4).map(i =>
      s"CAST(sum(CASE WHEN quarter(CAST(o_orderdate AS DATE)) = $i THEN " +
        s"CAST(round(o_totalprice * 100) AS BIGINT) // 100 ELSE 0 END) AS BIGINT) AS q$i")
      .mkString(", ")
    val moms = (Seq("q1", "q2", "q3", "q4", "t").map(c =>
      s"CAST(sum($c) AS BIGINT) AS s_$c, " +
        s"sum(CAST($c AS HUGEINT) * CAST($c AS HUGEINT)) AS ss_$c")).mkString(", ")
    s"""WITH items0 AS (
       |  SELECT o_custkey, $qcols
       |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1),
       |items AS (SELECT *, q1 + q2 + q3 + q4 AS t FROM items0),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, $moms FROM items),
       |f AS (
       |  SELECT n, 4.0 / 3.0 * (1.0
       |    - (${v("q1")} + ${v("q2")} + ${v("q3")} + ${v("q4")}) / ${v("t")}) AS alpha
       |  FROM sums)
       |SELECT n AS n_customers, round(alpha, 4) AS alpha,
       |  CASE WHEN alpha >= 0.8 THEN 'good' WHEN alpha >= 0.7 THEN 'acceptable'
       |    WHEN alpha >= 0.5 THEN 'poor' ELSE 'unacceptable' END AS reliability
       |FROM f""".stripMargin
  }

  // ------------------------------------------------------------------
  // Page–Hinkley drift detector on daily revenue — the SEQUENTIAL
  // change monitor (CUSUM's running-mean cousin: mₜ accumulates
  // deviations from the mean-SO-FAR, so no training window has to be
  // chosen). The recursion mₜ = mₜ₋₁ + (xₜ − x̄ₜ − δ) depends on the
  // running mean and cannot be linearized into window primitives, so it
  // runs as an ORDERED in-array fold over the aggregate-first daily
  // frame (≤ a few thousand elements at ANY corpus size — the Holt
  // discipline), with the identical double op sequence on both engines.
  // δ and λ are derived from the exact global mean (0.5% and 5× the
  // mean daily revenue) so the detector is scale-invariant across SFs.
  // One scan, no joins: the global n and Σx ride unbounded windows.
  // ------------------------------------------------------------------
  def pageHinkley(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    daily
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("rows"),
        count(lit(1)).as("n"), sum("x").as("sx"))
      .withColumn("delta", expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) * 0.005"))
      .withColumn("lam", expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) * 5.0"))
      .withColumn("st", expr(
        """aggregate(rows,
          |  named_struct('i', 0D, 's', 0D, 'm', 0D, 'mn', 0D, 'ph', 0D, 'ai', 0D),
          |  (a, e) -> named_struct(
          |    'i', a.i + 1.0,
          |    's', a.s + CAST(e.x AS DOUBLE),
          |    'm', a.m + (CAST(e.x AS DOUBLE) - (a.s + CAST(e.x AS DOUBLE)) / (a.i + 1.0) - delta),
          |    'mn', least(a.mn, a.m + (CAST(e.x AS DOUBLE) - (a.s + CAST(e.x AS DOUBLE)) / (a.i + 1.0) - delta)),
          |    'ph', greatest(a.ph,
          |      a.m + (CAST(e.x AS DOUBLE) - (a.s + CAST(e.x AS DOUBLE)) / (a.i + 1.0) - delta)
          |        - least(a.mn, a.m + (CAST(e.x AS DOUBLE) - (a.s + CAST(e.x AS DOUBLE)) / (a.i + 1.0) - delta))),
          |    'ai', CASE WHEN a.ai > 0D THEN a.ai
          |      WHEN a.m + (CAST(e.x AS DOUBLE) - (a.s + CAST(e.x AS DOUBLE)) / (a.i + 1.0) - delta)
          |          - least(a.mn, a.m + (CAST(e.x AS DOUBLE) - (a.s + CAST(e.x AS DOUBLE)) / (a.i + 1.0) - delta))
          |          > lam THEN a.i + 1.0
          |      ELSE 0D END))""".stripMargin))
      .select(col("n").as("n_days"),
        round(col("st.ph"), 4).as("ph_stat"),
        round(col("lam"), 4).as("lambda"),
        when(col("st.ai") > 0D,
          date_format(expr("element_at(rows, CAST(st.ai AS INT)).day"), "yyyy-MM-dd"))
          .otherwise("none").as("alarm_day"))
  }

  // DuckDB's list_reduce accumulator is a LIST, not a struct: struct
  // accumulators whose fields reference sibling fields evaluate
  // IMPURELY in DuckDB 1.x (probed: {'p': a.p+e.p, 'q': a.q+a.p} over
  // [[1,0],[10,0],[100,0]] yields q=112, neither the pure 12 nor any
  // consistent update order) — list accumulators fold purely, so the
  // oracle mirrors the Holt pattern: a[1]=i, a[2]=s, a[3]=m, a[4]=mn,
  // a[5]=ph, a[6]=alarm_i.
  private val pageHinkleySql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |arr AS (
      |  SELECT list(day ORDER BY day) AS days,
      |    list(CAST(x AS DOUBLE) ORDER BY day) AS xs,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
      |  FROM daily),
      |params AS (
      |  SELECT days, xs, n,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) * 0.005 AS delta,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) * 5.0 AS lam
      |  FROM arr),
      |folded AS (
      |  SELECT days, n, lam, list_reduce(
      |    list_concat(
      |      [[CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      |        CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]],
      |      list_transform(xs, v -> [v, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
      |        CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
      |    (a, e) -> [
      |      a[1] + 1.0,
      |      a[2] + e[1],
      |      a[3] + (e[1] - (a[2] + e[1]) / (a[1] + 1.0) - delta),
      |      least(a[4], a[3] + (e[1] - (a[2] + e[1]) / (a[1] + 1.0) - delta)),
      |      greatest(a[5],
      |        a[3] + (e[1] - (a[2] + e[1]) / (a[1] + 1.0) - delta)
      |          - least(a[4], a[3] + (e[1] - (a[2] + e[1]) / (a[1] + 1.0) - delta))),
      |      CASE WHEN a[6] > 0 THEN a[6]
      |        WHEN a[3] + (e[1] - (a[2] + e[1]) / (a[1] + 1.0) - delta)
      |            - least(a[4], a[3] + (e[1] - (a[2] + e[1]) / (a[1] + 1.0) - delta))
      |            > lam THEN a[1] + 1.0
      |        ELSE CAST(0 AS DOUBLE) END]) AS st
      |  FROM params)
      |SELECT n AS n_days, round(st[5], 4) AS ph_stat, round(lam, 4) AS lambda,
      |  CASE WHEN st[6] > 0
      |    THEN strftime(days[CAST(st[6] AS INT)], '%Y-%m-%d')
      |    ELSE 'none' END AS alarm_day
      |FROM folded""".stripMargin

  // ------------------------------------------------------------------
  // Holt–Winters additive seasonal smoothing (triple exponential,
  // period 7) of daily revenue — the forecasting workhorse one step up
  // from win_holt_linear: a weekly seasonal state ARRAY rides along the
  // level/trend recursion, so the model tracks "Mondays run hot" while
  // smoothing. The recursion cannot be linearized into window
  // primitives; it runs as an ORDERED fold over the aggregate-first
  // daily frame with a FLAT 10-slot double-array accumulator
  // [level, trend, i, s₀..s₆] — flat because DuckDB's list_reduce
  // evaluates struct accumulators impurely (see pageHinkleySql) and
  // nested lists can't mix with scalars; both engines execute the
  // generated per-slot update chain in the identical order, so the
  // state is bit-identical. Init: l₀ = mean of week 1, s = week-1
  // deviations; α=0.3, β=0.1, γ=0.2.
  // ------------------------------------------------------------------
  //
  // The update chain is generated once and rendered into each engine's
  // indexing syntax, so the double op sequence cannot drift between
  // the twins. `ix(k)` renders 1-based slot access; `x` is the current
  // element's value expression.
  private def hwStep(ix: Int => String, dynSlot: String, x: String): String = {
    // slot = i mod 7 (0-based cycle position of the incoming element);
    // sCur = seasonal value for that slot (dynamic 1-based index 4+slot)
    val l = ix(1); val b = ix(2); val i = ix(3)
    val sCur = dynSlot
    val lNew = s"(0.3 * ($x - $sCur) + 0.7 * ($l + $b))"
    val bNew = s"(0.1 * ($lNew - $l) + 0.9 * $b)"
    val sNew = s"(0.2 * ($x - $lNew) + 0.8 * $sCur)"
    val slots = (0 to 6).map { j =>
      s"CASE WHEN CAST($i AS INT) % 7 = $j THEN $sNew ELSE ${ix(4 + j)} END"
    }
    (Seq(lNew, bNew, s"$i + 1.0") ++ slots).mkString(", ")
  }

  def holtWinters(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    val step = hwStep(
      k => s"element_at(a, $k)",
      "element_at(a, 4 + (CAST(element_at(a, 3) AS INT) % 7))",
      "e")
    val initSlots = (1 to 7).map(j => s"xs[${j - 1}] - l0").mkString(", ")
    dailyCents(spark, dir)
      .agg(expr("transform(sort_array(collect_list(struct(day, x))), e -> CAST(e.x AS DOUBLE))")
        .as("xs"))
      .withColumn("l0", expr("(xs[0] + xs[1] + xs[2] + xs[3] + xs[4] + xs[5] + xs[6]) / 7.0"))
      .withColumn("st", expr(
        s"""aggregate(slice(xs, 8, size(xs) - 7),
           |  array(l0, 0D, 7D, $initSlots),
           |  (a, e) -> array($step))""".stripMargin))
      .select(size(col("xs")).cast("long").as("n_days"),
        round(expr("element_at(st, 1)") / 100.0, 4).as("level"),
        round(expr("element_at(st, 2)") / 100.0, 4).as("trend"),
        round((expr("element_at(st, 1)") + expr("element_at(st, 2)")
          + expr("element_at(st, 4 + (CAST(element_at(st, 3) AS INT) % 7))")) / 100.0, 4)
          .as("forecast_1d"),
        round((expr("element_at(st, 1)") + lit(7.0) * expr("element_at(st, 2)")
          + expr("element_at(st, 4 + (CAST(element_at(st, 3) + 6 AS INT) % 7))")) / 100.0, 4)
          .as("forecast_7d"))
  }

  private val holtWintersSql = {
    val step = hwStep(
      k => s"a[$k]",
      "a[4 + (CAST(a[3] AS INT) % 7)]",
      "e[1]")
    val initSlots = (1 to 7).map(j => s"xs[$j] - l0").mkString(", ")
    val pad = (1 to 9).map(_ => "CAST(0 AS DOUBLE)").mkString(", ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |arr AS (SELECT list(CAST(x AS DOUBLE) ORDER BY day) AS xs FROM daily),
       |ini AS (
       |  SELECT xs, (xs[1] + xs[2] + xs[3] + xs[4] + xs[5] + xs[6] + xs[7]) / 7.0 AS l0
       |  FROM arr),
       |folded AS (
       |  SELECT len(xs) AS n, list_reduce(
       |    list_concat([[l0, CAST(0 AS DOUBLE), CAST(7 AS DOUBLE), $initSlots]],
       |      list_transform(xs[8:], v -> [v, $pad])),
       |    (a, e) -> [$step]) AS st
       |  FROM ini)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  round(st[1] / 100.0, 4) AS level,
       |  round(st[2] / 100.0, 4) AS trend,
       |  round((st[1] + st[2] + st[4 + (CAST(st[3] AS INT) % 7)]) / 100.0, 4)
       |    AS forecast_1d,
       |  round((st[1] + 7.0 * st[2] + st[4 + (CAST(st[3] + 6 AS INT) % 7)]) / 100.0, 4)
       |    AS forecast_7d
       |FROM folded""".stripMargin
  }

  // ------------------------------------------------------------------
  // Durbin–Watson statistic on the residuals of the daily-revenue
  // linear trend — the classic "did my regression leave serial
  // correlation on the table" diagnostic (DW ≈ 2 means clean, → 0
  // positive, → 4 negative autocorrelation). Slope and intercept come
  // from EXACT integer sums (dollars × day-index products stay in
  // BIGINT range at any realistic SF; factors cast to double before
  // multiplying, the CUPED discipline); each residual is then the
  // identical 3-op double expression per row, and both quadratic-form
  // reductions (Σ(eₜ−eₜ₋₁)², Σeₜ²) run as ONE ordered in-array fold —
  // never an unordered double sum. One scan, no joins (PlanSpec pin).
  // ------------------------------------------------------------------
  def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("y"))
      .withColumn("t", row_number().over(Window.orderBy("day")).cast("long"))
    val sums = daily.agg(count(lit(1)).as("n"), sum("y").as("sy"), sum("t").as("st"),
      sum(col("t") * col("t")).as("st2"), sum(col("t") * col("y")).as("sty"),
      expr("transform(sort_array(collect_list(struct(t, y))), " +
        "r -> array(CAST(r.t AS DOUBLE), CAST(r.y AS DOUBLE)))").as("pairs"))
    sums
      .withColumn("b", expr("(CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)" +
        " - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)" +
        " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))"))
      .withColumn("a0", expr("(CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))" +
        " / CAST(n AS DOUBLE)"))
      .withColumn("es", expr("transform(pairs, p -> p[1] - a0 - b * p[0])"))
      .withColumn("f", expr(
        """aggregate(slice(es, 2, size(es) - 1),
          |  array(es[0], 0D, es[0] * es[0]),
          |  (acc, e) -> array(e,
          |    element_at(acc, 2) + (e - element_at(acc, 1)) * (e - element_at(acc, 1)),
          |    element_at(acc, 3) + e * e))""".stripMargin))
      .select(col("n").as("n_days"), round(col("b"), 4).as("slope_per_day"),
        round(expr("element_at(f, 2) / element_at(f, 3)"), 4).as("dw"),
        when(expr("element_at(f, 2) / element_at(f, 3)") < 1.5, "positive")
          .when(expr("element_at(f, 2) / element_at(f, 3)") > 2.5, "negative")
          .otherwise("none").as("residual_autocorr"))
  }

  private val durbinWatsonSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM daily),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(t * t) AS BIGINT) AS st2,
      |    CAST(sum(t * y) AS BIGINT) AS sty,
      |    list([CAST(t AS DOUBLE), CAST(y AS DOUBLE)] ORDER BY t) AS pairs
      |  FROM idx),
      |coefs AS (
      |  SELECT *, (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b
      |  FROM sums),
      |resid AS (
      |  SELECT n, b, (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))
      |      / CAST(n AS DOUBLE) AS a0,
      |    list_transform(pairs, p -> p[2]
      |      - (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
      |      - b * p[1]) AS es
      |  FROM coefs),
      |folded AS (
      |  SELECT n, b, list_reduce(
      |    list_concat([[es[1], CAST(0 AS DOUBLE), es[1] * es[1]]],
      |      list_transform(es[2:], v -> [v, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
      |    (acc, e) -> [e[1],
      |      acc[2] + (e[1] - acc[1]) * (e[1] - acc[1]),
      |      acc[3] + e[1] * e[1]]) AS f
      |  FROM resid)
      |SELECT n AS n_days, round(b, 4) AS slope_per_day,
      |  round(f[2] / f[3], 4) AS dw,
      |  CASE WHEN f[2] / f[3] < 1.5 THEN 'positive'
      |    WHEN f[2] / f[3] > 2.5 THEN 'negative'
      |    ELSE 'none' END AS residual_autocorr
      |FROM folded""".stripMargin

  // ------------------------------------------------------------------
  // 1-D Kalman filter (local-level model) over daily revenue — the
  // optimal-gain cousin of the fixed-α EWMA: the gain K adapts from
  // the error covariance recursion, so the filter trusts data more
  // when its uncertainty is high and settles to the steady-state gain.
  // The covariance recursion (P' = (1−K)(P+Q), K = (P+Q)/(P+Q+R))
  // cannot be expressed in window primitives; it runs as the ordered
  // in-array fold over the aggregate-first daily frame with a 4-slot
  // list accumulator [level, P, K, Σinnovation²]. The noise scales are
  // DERIVED (R = corpus variance from exact DECIMAL(38,0) moment sums,
  // Q = R/100), so the filter is SF-invariant and both engines compute
  // the identical double chain; innovation RMS ends in one IEEE sqrt.
  // One scan, no joins (PlanSpec pin).
  // ------------------------------------------------------------------
  def kalmanLevel(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    // accumulator slots: a[0]=level, a[1]=P, a[2]=K, a[3]=Σ(x−level)²
    // (Spark arrays are 0-based in bracket syntax; element_at is 1-based)
    val innov = "(e - element_at(a, 1))"
    val ppred = "(element_at(a, 2) + qq)"
    val gain = s"($ppred / ($ppred + rr))"
    daily
      .agg(expr("transform(sort_array(collect_list(struct(day, x))), e -> CAST(e.x AS DOUBLE))")
        .as("xs"),
        count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")).as("sxx"))
      .withColumn("rr", expr("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"))
      .withColumn("qq", expr("rr / 100.0"))
      .withColumn("st", expr(
        s"""aggregate(slice(xs, 2, size(xs) - 1),
           |  array(xs[0], rr, 0D, 0D),
           |  (a, e) -> array(
           |    element_at(a, 1) + $gain * $innov,
           |    (1.0 - $gain) * $ppred,
           |    $gain,
           |    element_at(a, 4) + $innov * $innov))""".stripMargin))
      .select(col("n").as("n_days"),
        round(expr("element_at(st, 1)"), 4).as("level"),
        round(expr("element_at(st, 3)"), 6).as("steady_gain"),
        round(sqrt(expr("element_at(st, 4)") / (col("n") - 1).cast("double")), 4)
          .as("innovation_rms"))
  }

  private val kalmanLevelSql = {
    val innov = "(e[1] - a[1])"
    val ppred = "(a[2] + qq)"
    val gain = s"($ppred / ($ppred + rr))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |arr AS (
       |  SELECT list(CAST(x AS DOUBLE) ORDER BY day) AS xs,
       |    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
       |  FROM daily),
       |params AS (
       |  SELECT xs, n,
       |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS rr
       |  FROM arr),
       |p2 AS (SELECT xs, n, rr, rr / 100.0 AS qq FROM params),
       |folded AS (
       |  SELECT n, list_reduce(
       |    list_concat([[xs[1], rr, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]],
       |      list_transform(xs[2:], v -> [v, CAST(0 AS DOUBLE),
       |        CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
       |    (a, e) -> [
       |      a[1] + $gain * $innov,
       |      (1.0 - $gain) * $ppred,
       |      $gain,
       |      a[4] + $innov * $innov]) AS st
       |  FROM p2)
       |SELECT n AS n_days,
       |  round(st[1], 4) AS level,
       |  round(st[3], 6) AS steady_gain,
       |  round(sqrt(st[4] / CAST(n - 1 AS DOUBLE)), 4) AS innovation_rms
       |FROM folded""".stripMargin
  }

  // ------------------------------------------------------------------
  // Jarque–Bera normality test on daily revenue — the moment-based
  // gate (are skewness and excess kurtosis jointly zero?) that decides
  // whether the z/t machinery upstream (TOST, MDE, CUPED) is even
  // applicable. Revenue is floored to THOUSANDS of dollars so the
  // raw-moment sums Σx..Σx⁴ stay exact in DECIMAL(38,0) out to ~10⁴×
  // the sf0.1 corpus; central moments, skew = m₃/(m₂√m₂) and kurtosis
  // = m₄/m₂² are then the identical double chains on both engines
  // (√ is IEEE-exact), and JB = n/6·(S² + (K−3)²/4) compares against
  // the χ²(2) literal. One scan, one single-row aggregate.
  // ------------------------------------------------------------------
  def jarqueBera(s: SparkSession, dir: String): DataFrame = {
    def p(k: Int) = {
      val f = (1 to k).map(_ => "CAST(x AS DECIMAL(38,0))").mkString(" * ")
      sum(expr(f)).as(s"s$k")
    }
    val d = (c: String) => s"CAST($c AS DOUBLE)"
    Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100000").as("x"))
      .agg(count(lit(1)).as("n"), p(1), p(2), p(3), p(4))
      // central moments from raw moments, mean folded in at double
      // precision with one fixed op order: mu = s1/n, then
      // m2 = s2/n − mu², m3 = s3/n − 3·mu·s2/n + 2·mu³,
      // m4 = s4/n − 4·mu·s3/n + 6·mu²·s2/n − 3·mu⁴
      .withColumn("mu", expr(s"${d("s1")} / ${d("n")}"))
      .withColumn("m2", expr(s"${d("s2")} / ${d("n")} - mu * mu"))
      .withColumn("m3", expr(
        s"${d("s3")} / ${d("n")} - 3.0 * mu * (${d("s2")} / ${d("n")}) + 2.0 * mu * mu * mu"))
      .withColumn("m4", expr(
        s"${d("s4")} / ${d("n")} - 4.0 * mu * (${d("s3")} / ${d("n")})" +
          s" + 6.0 * mu * mu * (${d("s2")} / ${d("n")}) - 3.0 * mu * mu * mu * mu"))
      .withColumn("skew", expr("m3 / (m2 * sqrt(m2))"))
      .withColumn("kurt", expr("m4 / (m2 * m2)"))
      .withColumn("jb", expr(
        s"${d("n")} / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)"))
      .select(col("n").as("n_days"), round(col("skew"), 4).as("skewness"),
        round(col("kurt"), 4).as("kurtosis"), round(col("jb"), 4).as("jb_stat"),
        (col("jb") < lit(5.991)).as("normal_p05"))
  }

  private val jarqueBeraSql = {
    def p(k: Int) = {
      val f = (1 to k).map(_ => "CAST(x AS HUGEINT)").mkString(" * ")
      s"sum($f) AS s$k"
    }
    val d = (c: String) => s"CAST($c AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, ${p(1)}, ${p(2)}, ${p(3)}, ${p(4)}
       |  FROM daily),
       |mom AS (
       |  SELECT n, ${d("s1")} / ${d("n")} AS mu,
       |    s2, s3, s4
       |  FROM sums),
       |cm AS (
       |  SELECT n, mu,
       |    ${d("s2")} / ${d("n")} - mu * mu AS m2,
       |    ${d("s3")} / ${d("n")} - 3.0 * mu * (${d("s2")} / ${d("n")}) + 2.0 * mu * mu * mu AS m3,
       |    ${d("s4")} / ${d("n")} - 4.0 * mu * (${d("s3")} / ${d("n")})
       |      + 6.0 * mu * mu * (${d("s2")} / ${d("n")}) - 3.0 * mu * mu * mu * mu AS m4
       |  FROM mom),
       |f AS (
       |  SELECT n, m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) AS kurt
       |  FROM cm),
       |jb AS (
       |  SELECT n, skew, kurt,
       |    ${d("n")} / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
       |  FROM f)
       |SELECT n AS n_days, round(skew, 4) AS skewness, round(kurt, 4) AS kurtosis,
       |  round(jb, 4) AS jb_stat, jb < 5.991 AS normal_p05
       |FROM jb""".stripMargin
  }

  // ------------------------------------------------------------------
  // Wald–Wolfowitz runs test: is the daily revenue's above/below-median
  // pattern RANDOM, or does it cluster (trend/seasonality leave long
  // same-side runs)? Everything that decides is exact integer: the
  // median is dyadic (2·med over integer dollars), each day's side is
  // an integer comparison, the run census is one lag window over the
  // daily frame, and μ_R = 1 + 2ab/n, σ²_R = 2ab(2ab−n)/(n²(n−1)) use
  // exact BIGINT products (a,b ≤ days — calendar-bounded, no overflow
  // ever). Only the final z divides doubles. One scan, no joins.
  // ------------------------------------------------------------------
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    val w = Window.orderBy("day")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sided = daily
      .withColumn("med", expr("percentile(x, 0.5)").over(full))
      .withColumn("med2", expr("CAST(round(med * 2) AS BIGINT)"))
      .filter(lit(2L) * col("x") =!= col("med2")) // drop exact-median days
      .withColumn("side", (lit(2L) * col("x") > col("med2")).cast("long"))
      .withColumn("prev", lag("side", 1).over(w))
    sided.agg(count(lit(1)).as("n"), sum("side").as("a"),
        sum(when(col("prev").isNull || col("prev") =!= col("side"), 1L)
          .otherwise(0L)).as("runs"))
      .withColumn("b", col("n") - col("a"))
      .withColumn("mu_r", lit(1.0)
        + lit(2.0) * col("a").cast("double") * col("b").cast("double")
          / col("n").cast("double"))
      .withColumn("var_r", lit(2.0) * col("a").cast("double") * col("b").cast("double")
        * (lit(2.0) * col("a").cast("double") * col("b").cast("double")
          - col("n").cast("double"))
        / (col("n").cast("double") * col("n").cast("double")
          * (col("n") - 1L).cast("double")))
      .select(col("n").as("n_days"), col("a").as("n_above"), col("b").as("n_below"),
        col("runs").as("n_runs"),
        round((col("runs").cast("double") - col("mu_r")) / sqrt(col("var_r")), 4)
          .as("z_runs"),
        (abs((col("runs").cast("double") - col("mu_r")) / sqrt(col("var_r")))
          > lit(1.96)).as("nonrandom_p05"))
  }

  private val runsTestSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |med AS (
      |  SELECT CAST(round(quantile_cont(x, 0.5) * 2) AS BIGINT) AS med2 FROM daily),
      |sided AS (
      |  SELECT day, CASE WHEN 2 * x > med2 THEN 1 ELSE 0 END AS side
      |  FROM daily, med WHERE 2 * x <> med2),
      |runs AS (
      |  SELECT side, lag(side) OVER (ORDER BY day) AS prev FROM sided),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(side) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN prev IS NULL OR prev <> side THEN 1 ELSE 0 END)
      |      AS BIGINT) AS runs
      |  FROM runs),
      |f AS (
      |  SELECT n, a, n - a AS b, runs,
      |    1.0 + 2.0 * CAST(a AS DOUBLE) * CAST(n - a AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS mu_r,
      |    2.0 * CAST(a AS DOUBLE) * CAST(n - a AS DOUBLE)
      |      * (2.0 * CAST(a AS DOUBLE) * CAST(n - a AS DOUBLE) - CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var_r
      |  FROM agg)
      |SELECT n AS n_days, a AS n_above, b AS n_below, runs AS n_runs,
      |  round((CAST(runs AS DOUBLE) - mu_r) / sqrt(var_r), 4) AS z_runs,
      |  abs((CAST(runs AS DOUBLE) - mu_r) / sqrt(var_r)) > 1.96 AS nonrandom_p05
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Wilson score intervals for the high-value-order rate per priority —
  // the binomial CI that stays honest at extreme rates and small cells
  // (the normal-approximation CI goes negative there), i.e. what a
  // guardrail dashboard should actually show next to each proportion.
  // Inputs are exact integer (k successes, n trials) from one
  // conditional-sum pass; the closed form
  // (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n) is the
  // identical double chain on both engines with z = 1.96 literal.
  // ------------------------------------------------------------------
  def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
        sum((expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 25000000L)
          .cast("long")).as("k"))
      .withColumn("ph", expr("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("z2n", expr("1.96 * 1.96 / CAST(n AS DOUBLE)"))
      .withColumn("half", expr(
        "1.96 * sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE)" +
          " + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"))
      .select(col("priority"), col("n").as("n_orders"), col("k").as("n_high_value"),
        round(col("ph"), 4).as("p_hat"),
        round(expr("(ph + z2n / 2.0 - half) / (1.0 + z2n)"), 4).as("wilson_lo"),
        round(expr("(ph + z2n / 2.0 + half) / (1.0 + z2n)"), 4).as("wilson_hi"))
      .orderBy("priority")
  }

  private val wilsonCiSql =
    """WITH agg AS (
      |  SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) > 25000000
      |      THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM orders GROUP BY 1),
      |f AS (
      |  SELECT priority, n, k,
      |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
      |    1.96 * 1.96 / CAST(n AS DOUBLE) AS z2n,
      |    1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS half
      |  FROM agg)
      |SELECT priority, n AS n_orders, k AS n_high_value,
      |  round(ph, 4) AS p_hat,
      |  round((ph + z2n / 2.0 - half) / (1.0 + z2n), 4) AS wilson_lo,
      |  round((ph + z2n / 2.0 + half) / (1.0 + z2n), 4) AS wilson_hi
      |FROM f ORDER BY priority""".stripMargin

  // ------------------------------------------------------------------
  // Gumbel extreme-value fit on monthly block maxima of daily revenue —
  // the capacity-planning question ("what peak day should we provision
  // for once in 100 months?") that mean/percentile reports structurally
  // cannot answer, because it extrapolates BEYOND the observed maxima.
  // Method-of-moments fit: β = s·√6/π, μ = m − γβ, both from exact
  // DECIMAL(38,0) moment sums over the ≤|months| block frame; the
  // 100-block return level x₁₀₀ = μ + β·(−ln(−ln(0.99))) uses shared
  // PRECOMPUTED literals (√6/π, Euler γ, the double-log factor — the
  // ln-literal discipline, no runtime transcendental anywhere). The
  // corpus-sized work is one daily aggregate; everything after walks
  // the calendar-bounded month frame.
  // ------------------------------------------------------------------
  def gumbelMaxima(s: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
      .groupBy(date_format(col("day"), "yyyy-MM").as("ym"))
      .agg(max("x").as("mx"))
    blocks.agg(count(lit(1)).as("n"), sum("mx").as("sm"),
        sum(expr("CAST(mx AS DECIMAL(38,0)) * CAST(mx AS DECIMAL(38,0))")).as("smm"),
        max("mx").as("max_obs"))
      .withColumn("m", expr("CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("sd", expr(
        "sqrt((CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)" +
          " - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"))
      .withColumn("beta", expr("sd * 0.7796968012"))
      .withColumn("mu", expr("m - 0.5772156649 * beta"))
      .select(col("n").as("n_blocks"), col("max_obs").as("max_observed"),
        round(col("mu"), 4).as("gumbel_mu"),
        round(col("beta"), 4).as("gumbel_beta"),
        round(expr("mu + beta * 4.6001492268"), 4).as("return_level_100"))
  }

  private val gumbelMaximaSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |blocks AS (
      |  SELECT strftime(day, '%Y-%m') AS ym, CAST(max(x) AS BIGINT) AS mx
      |  FROM daily GROUP BY 1),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(mx) AS BIGINT) AS sm,
      |    sum(CAST(mx AS HUGEINT) * CAST(mx AS HUGEINT)) AS smm,
      |    CAST(max(mx) AS BIGINT) AS max_obs
      |  FROM blocks),
      |fit AS (
      |  SELECT n, max_obs,
      |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS m,
      |    sqrt((CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
      |      - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd
      |  FROM sums),
      |f2 AS (
      |  SELECT n, max_obs, m, sd * 0.7796968012 AS beta,
      |    m - 0.5772156649 * (sd * 0.7796968012) AS mu
      |  FROM fit)
      |SELECT n AS n_blocks, max_obs AS max_observed,
      |  round(mu, 4) AS gumbel_mu, round(beta, 4) AS gumbel_beta,
      |  round(mu + beta * 4.6001492268, 4) AS return_level_100
      |FROM f2""".stripMargin

  // ------------------------------------------------------------------
  // Two-sample Poisson rate test per order priority: did the 1996 order
  // ARRIVAL RATE differ from 1995's? — the event-rate question count
  // comparisons get wrong when exposures differ (1996 is a leap year:
  // 366 days vs 365). The conditional binomial form: under H₀ (equal
  // rates), k₉₆ | k₉₆+k₉₅ ~ Binomial(n, p) with p = 366/731 — exposures
  // are CALENDAR CONSTANTS, so p is a shared literal division and the
  // normal-approximation z needs only the exact integer counts. Two-
  // sided p via the shared A&S 7.1.26 erfc polynomial (same literals as
  // the BH-FDR / Mann–Kendall chain). One hash-agg over the corpus;
  // everything downstream is a 5-row frame.
  // ------------------------------------------------------------------
  def poissonRateTest(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(sum(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L)).as("k95"),
        sum(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L)).as("k96"))
      .withColumn("n", col("k95") + col("k96"))
      .withColumn("p0", expr("366.0 / 731.0"))
      .withColumn("z", expr(
        "(CAST(k96 AS DOUBLE) - CAST(n AS DOUBLE) * p0)" +
          " / sqrt(CAST(n AS DOUBLE) * p0 * (1.0 - p0))"))
      .withColumn("y", abs(col("z")) / lit(1.4142135623730951))
      .withColumn("tt", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("y")))
      .withColumn("p_value",
        expr("""tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741
              + tt * (-1.453152027 + tt * 1.061405429)))) * exp(-y * y)"""))
      .select(col("priority"), col("k95"), col("k96"),
        round(expr("CAST(k95 AS DOUBLE) / 365.0"), 4).as("rate_1995"),
        round(expr("CAST(k96 AS DOUBLE) / 366.0"), 4).as("rate_1996"),
        round(col("z"), 4).as("z"),
        round(col("p_value"), 4).as("p_value"),
        (col("p_value") < 0.05).as("significant"))
      .orderBy("priority")
  }

  private val poissonRateTestSql =
    """WITH counts AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS k95,
      |    CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS k96
      |  FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |  GROUP BY 1),
      |zf AS (
      |  SELECT *, k95 + k96 AS n, 366.0 / 731.0 AS p0 FROM counts),
      |z2 AS (
      |  SELECT *,
      |    (CAST(k96 AS DOUBLE) - CAST(n AS DOUBLE) * p0)
      |      / sqrt(CAST(n AS DOUBLE) * p0 * (1.0 - p0)) AS z
      |  FROM zf),
      |p AS (
      |  SELECT *, tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741
      |      + tt * (-1.453152027 + tt * 1.061405429)))) * exp(-y * y) AS p_value
      |  FROM (SELECT *, 1.0 / (1.0 + 0.3275911 * y) AS tt
      |        FROM (SELECT *, abs(z) / 1.4142135623730951 AS y FROM z2)))
      |SELECT priority, k95, k96,
      |  round(CAST(k95 AS DOUBLE) / 365.0, 4) AS rate_1995,
      |  round(CAST(k96 AS DOUBLE) / 366.0, 4) AS rate_1996,
      |  round(z, 4) AS z, round(p_value, 4) AS p_value,
      |  (p_value < 0.05) AS significant
      |FROM p ORDER BY priority""".stripMargin

  // ------------------------------------------------------------------
  // Granger causality (lag-1): does yesterday's CLICK volume help predict
  // today's PURCHASE volume beyond yesterday's purchases? — the
  // predictive-causality test behind "which upstream signal leads the
  // metric". Restricted model p_t = a + b·p_{t−1} vs full model adding
  // c·c_{t−1}; F = (RSS_r − RSS_f) / (RSS_f/(n−3)). Every raw and
  // centered cross-moment (n·Σxy − Σx·Σy …) is exact DECIMAL(38,0)
  // integer arithmetic over the days-bounded daily frame; the 2×2
  // normal-equation solve and both RSS values are ONE shared double
  // chain from those exact integers (triple products would overflow
  // DECIMAL, so the cast happens after centering, before Cramer).
  // ------------------------------------------------------------------
  def grangerCausality(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy("day")
    val lagged = daily
      .withColumn("x", lag("p", 1).over(w))
      .withColumn("z", lag("c", 1).over(w))
      .filter(col("x").isNotNull)
      .select(col("p").as("y"), col("x"), col("z"))
    lagged.agg(count(lit(1)).as("n"),
        sum("y").as("sy"), sum("x").as("sx"), sum("z").as("sz"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("syy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))")).as("szz"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("szy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))")).as("sxz"))
      .withColumn("cxx", expr("CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)"))
      .withColumn("czz", expr("CAST(n * szz - CAST(sz AS DECIMAL(38,0)) * CAST(sz AS DECIMAL(38,0)) AS DOUBLE)"))
      .withColumn("cyy", expr("CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)"))
      .withColumn("cxy", expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)"))
      .withColumn("czy", expr("CAST(n * szy - CAST(sz AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)"))
      .withColumn("cxz", expr("CAST(n * sxz - CAST(sx AS DECIMAL(38,0)) * CAST(sz AS DECIMAL(38,0)) AS DOUBLE)"))
      .withColumn("rss_r", expr("cyy - cxy * cxy / cxx"))
      .withColumn("det", expr("cxx * czz - cxz * cxz"))
      .withColumn("bhat", expr("(cxy * czz - czy * cxz) / det"))
      .withColumn("chat", expr("(czy * cxx - cxy * cxz) / det"))
      .withColumn("rss_f", expr("cyy - bhat * cxy - chat * czy"))
      .withColumn("f_stat", expr(
        "(rss_r - rss_f) / (rss_f / CAST(n - 3 AS DOUBLE))"))
      .select(col("n").as("n_days"),
        round(expr("bhat"), 4).as("ar_coef"),
        round(expr("chat"), 4).as("granger_coef"),
        round(col("f_stat"), 4).as("f_stat"),
        (col("f_stat") > 3.89).as("granger_significant"))
  }

  private val grangerCausalitySql =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |lagged AS (
      |  SELECT p AS y,
      |    lag(p, 1) OVER (ORDER BY day) AS x,
      |    lag(c, 1) OVER (ORDER BY day) AS z
      |  FROM daily),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(z) AS BIGINT) AS sz,
      |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
      |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz,
      |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    sum(CAST(z AS HUGEINT) * CAST(y AS HUGEINT)) AS szy,
      |    sum(CAST(x AS HUGEINT) * CAST(z AS HUGEINT)) AS sxz
      |  FROM lagged WHERE x IS NOT NULL),
      |cen AS (
      |  SELECT n,
      |    CAST(n * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS cxx,
      |    CAST(n * szz - CAST(sz AS HUGEINT) * CAST(sz AS HUGEINT) AS DOUBLE) AS czz,
      |    CAST(n * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS cyy,
      |    CAST(n * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS cxy,
      |    CAST(n * szy - CAST(sz AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) AS czy,
      |    CAST(n * sxz - CAST(sx AS HUGEINT) * CAST(sz AS HUGEINT) AS DOUBLE) AS cxz
      |  FROM m),
      |fit AS (
      |  SELECT n, cyy, cxy, czy,
      |    cyy - cxy * cxy / cxx AS rss_r,
      |    (cxy * czz - czy * cxz) / (cxx * czz - cxz * cxz) AS bhat,
      |    (czy * cxx - cxy * cxz) / (cxx * czz - cxz * cxz) AS chat
      |  FROM cen),
      |ff AS (
      |  SELECT n, bhat, chat, rss_r,
      |    cyy - bhat * cxy - chat * czy AS rss_f
      |  FROM fit)
      |SELECT n AS n_days, round(bhat, 4) AS ar_coef, round(chat, 4) AS granger_coef,
      |  round((rss_r - rss_f) / (rss_f / CAST(n - 3 AS DOUBLE)), 4) AS f_stat,
      |  ((rss_r - rss_f) / (rss_f / CAST(n - 3 AS DOUBLE)) > 3.89)
      |    AS granger_significant
      |FROM ff""".stripMargin

  // ------------------------------------------------------------------
  // Index of dispersion (variance-to-mean ratio) of daily event counts
  // per event type — the overdispersion diagnostic that decides whether
  // a Poisson model (D = 1) is even admissible before rate tests or
  // anomaly thresholds are trusted. Exact integer (n, Σ, Σ²) per type;
  // D and its normal-approximation z = (D−1)·√((n−1)/2) are one shared
  // double chain from those integers.
  // ------------------------------------------------------------------
  def dispersionIndex(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("cnt").as("sc"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))")).as("scc"))
      .withColumn("mean_d", expr("CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)"))
      .withColumn("var_d", expr(
        "CAST(n_days * scc - CAST(sc AS DECIMAL(38,0)) * CAST(sc AS DECIMAL(38,0)) AS DOUBLE)" +
          " / (CAST(n_days AS DOUBLE) * CAST(n_days - 1 AS DOUBLE))"))
      .withColumn("disp", expr("var_d / mean_d"))
      .withColumn("zod", expr("(disp - 1.0) * sqrt(CAST(n_days - 1 AS DOUBLE) / 2.0)"))
      .select(col("event_type"), col("n_days"),
        round(col("mean_d"), 4).as("mean_daily"),
        round(col("var_d"), 4).as("var_daily"),
        round(col("disp"), 4).as("dispersion"),
        round(col("zod"), 4).as("z"),
        (col("zod") > 1.6449).as("overdispersed"))
      .orderBy("event_type")
  }

  private val dispersionIndexSql =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(cnt) AS BIGINT) AS sc,
      |    sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS scc
      |  FROM daily GROUP BY 1),
      |d AS (
      |  SELECT event_type, n_days,
      |    CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_d,
      |    CAST(n_days * scc - CAST(sc AS HUGEINT) * CAST(sc AS HUGEINT) AS DOUBLE)
      |      / (CAST(n_days AS DOUBLE) * CAST(n_days - 1 AS DOUBLE)) AS var_d
      |  FROM m),
      |z AS (
      |  SELECT *, var_d / mean_d AS disp,
      |    (var_d / mean_d - 1.0) * sqrt(CAST(n_days - 1 AS DOUBLE) / 2.0) AS zod
      |  FROM d)
      |SELECT event_type, n_days, round(mean_d, 4) AS mean_daily,
      |  round(var_d, 4) AS var_daily, round(disp, 4) AS dispersion,
      |  round(zod, 4) AS z, (zod > 1.6449) AS overdispersed
      |FROM z ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Pinball-loss backtest of a q90 forecast: fit the exact 0.9 order
  // statistic of 1995 order totals per priority, then score it against
  // 1996 orders under the τ = 0.9 pinball (quantile) loss — the backtest
  // that tells a capacity planner whether last year's P90 still covers
  // this year. Integer-exact end to end: the quantile is the value at
  // rank ⌈0.9n⌉ = (9n+9) DIV 10 (tie order irrelevant — the VALUE at a
  // rank is tie-invariant), and the ×10-scaled loss 9(y−q)⁺ + (q−y)⁺
  // sums as exact cents; only the final per-priority means are doubles.
  // The 1995 sort is partition-local per priority (the exact-order-
  // statistic cost); the sketch path for 100 TB is agg_tdigest_quantiles.
  // ------------------------------------------------------------------
  def pinballBacktest(s: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val o95 = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_orderpriority").as("priority"), cents.as("y"))
    val q = o95
      .withColumn("rn", row_number().over(
        Window.partitionBy("priority").orderBy("y")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("priority")))
      .filter(col("rn") === expr("(9 * n + 9) DIV 10"))
      .select(col("priority"), col("y").as("q90c"))
    Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1996)
      .select(col("o_orderpriority").as("priority"), cents.as("y"))
      .join(broadcast(q), "priority")
      .groupBy("priority")
      .agg(count(lit(1)).as("n_1996"),
        first("q90c").as("q90c"),
        sum(expr("CASE WHEN y >= q90c THEN 9 * (y - q90c) ELSE q90c - y END"))
          .as("loss10"),
        sum(when(col("y") <= col("q90c"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("priority"), col("n_1996"),
        round(expr("CAST(q90c AS DOUBLE) / 100.0"), 2).as("q90_1995"),
        round(expr("CAST(loss10 AS DOUBLE) / (10.0 * CAST(n_1996 AS DOUBLE)) / 100.0"), 4)
          .as("mean_pinball"),
        round(expr("CAST(n_covered AS DOUBLE) / CAST(n_1996 AS DOUBLE)"), 4)
          .as("coverage"))
      .orderBy("priority")
  }

  private val pinballBacktestSql =
    """WITH o95 AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995),
      |ranked AS (
      |  SELECT priority, y,
      |    CAST(row_number() OVER (PARTITION BY priority ORDER BY y) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      |  FROM o95),
      |q AS (
      |  SELECT priority, y AS q90c FROM ranked WHERE rn = (9 * n + 9) // 10),
      |o96 AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n_1996,
      |  round(CAST(any_value(q90c) AS DOUBLE) / 100.0, 2) AS q90_1995,
      |  round(CAST(sum(CASE WHEN y >= q90c THEN 9 * (y - q90c) ELSE q90c - y END)
      |      AS DOUBLE) / (10.0 * CAST(count(*) AS DOUBLE)) / 100.0, 4)
      |    AS mean_pinball,
      |  round(CAST(sum(CASE WHEN y <= q90c THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE), 4) AS coverage
      |FROM o96 JOIN q USING (priority)
      |GROUP BY priority ORDER BY priority""".stripMargin

  // ------------------------------------------------------------------
  // Hill estimator of the Pareto tail index over the top-200 order
  // totals: α̂ = k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) — the heavy-tail diagnostic that
  // says whether extremes follow a power law (α ≤ 2: infinite variance,
  // mean-based capacity planning is invalid) and complements
  // [[gumbelMaxima]]'s block-maxima view. The top-(k+1) frame comes from
  // one ORDER BY cents DESC LIMIT — at scale a native top-k, never a
  // global sort. Determinism: the selection is on exact integer cents
  // with a value-only order (ranks of tied values interchangeable — the
  // ln sum only sees VALUES), and the ln sum runs as an ordered fold
  // over the sorted 200-element array (the jackknife discipline), so no
  // unordered double reduction decides α̂.
  // ------------------------------------------------------------------
  def tailIndexHill(s: SparkSession, dir: String): DataFrame = {
    val k = 200
    val top = Tables.orders(s, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .orderBy(col("cents").desc)
      .limit(k + 1)
    top.agg(min("cents").as("xk1"),
        expr("sort_array(collect_list(cents), false)").as("arr"))
      .withColumn("lnsum", expr(
        "aggregate(slice(arr, 1, 200), 0D," +
          " (a, x) -> a + ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)))"))
      .select(lit(k).cast("long").as("k"),
        round(expr("CAST(xk1 AS DOUBLE) / 100.0"), 2).as("threshold"),
        round(expr("CAST(200 AS DOUBLE) / lnsum"), 4).as("hill_alpha"),
        (expr("CAST(200 AS DOUBLE) / lnsum") <= 2.0).as("infinite_variance"))
  }

  private val tailIndexHillSql =
    """WITH top AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders ORDER BY cents DESC LIMIT 201),
      |agg AS (
      |  SELECT CAST(min(cents) AS BIGINT) AS xk1,
      |    list_sort(list(cents), 'DESC') AS arr
      |  FROM top),
      |f AS (
      |  SELECT xk1,
      |    list_sum(list_transform(arr[1:200],
      |      x -> ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)))) AS lnsum
      |  FROM agg)
      |SELECT CAST(200 AS BIGINT) AS k,
      |  round(CAST(xk1 AS DOUBLE) / 100.0, 2) AS threshold,
      |  round(CAST(200 AS DOUBLE) / lnsum, 4) AS hill_alpha,
      |  (CAST(200 AS DOUBLE) / lnsum <= 2.0) AS infinite_variance
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Lorenz-curve decile table of 1995 customer spend: each decile's
  // share and the cumulative share — the distribution table behind the
  // Gini number ([[agg_gini_spend]] reports the scalar; this is the
  // curve a revenue team actually reads: "the top decile carries X% of
  // spend"). Exact integers end to end: customers rank by (spend cents,
  // custkey), decile = ⌈10·rank/n⌉ via (10·rn + n − 1) DIV n, decile
  // sums and the cumulative window are BIGINT; only the two display
  // shares divide.
  // ------------------------------------------------------------------
  def lorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sp"))
    val n = spend.agg(count(lit(1)).as("n"))
    val deciles = spend
      .withColumn("rn", row_number().over(Window.orderBy(col("sp"), col("o_custkey"))))
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("least((10 * rn + n - 1) DIV n, 10L)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("sp").as("dsp"))
    val tot = deciles.agg(sum("dsp").as("tsp"))
    deciles.crossJoin(broadcast(tot))
      .withColumn("cum", sum("dsp").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_customers"),
        round(expr("CAST(dsp AS DOUBLE) / CAST(tsp AS DOUBLE)"), 4).as("spend_share"),
        round(expr("CAST(cum AS DOUBLE) / CAST(tsp AS DOUBLE)"), 4).as("cum_share"))
      .orderBy("decile")
  }

  private val lorenzDecilesSql =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
      |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM spend),
      |ranked AS (
      |  SELECT sp, CAST(row_number() OVER (ORDER BY sp, o_custkey) AS BIGINT) AS rn
      |  FROM spend),
      |dec AS (
      |  SELECT least((10 * rn + n - 1) // n, 10) AS decile,
      |    CAST(count(*) AS BIGINT) AS n_customers, CAST(sum(sp) AS BIGINT) AS dsp
      |  FROM ranked, n GROUP BY 1),
      |tot AS (SELECT CAST(sum(dsp) AS BIGINT) AS tsp FROM dec),
      |cum AS (
      |  SELECT decile, n_customers, dsp,
      |    CAST(sum(dsp) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM dec)
      |SELECT decile, n_customers,
      |  round(CAST(dsp AS DOUBLE) / CAST(tsp AS DOUBLE), 4) AS spend_share,
      |  round(CAST(cum AS DOUBLE) / CAST(tsp AS DOUBLE), 4) AS cum_share
      |FROM cum, tot ORDER BY decile""".stripMargin

  // ------------------------------------------------------------------
  // Two-proportion z-test: does the return rate differ between heavy
  // lines (quantity > 25) and light ones? — the workhorse A/B
  // significance test for binary outcomes. Everything is exact integer
  // until one final expression: four BIGINT cell counts from one
  // map-side-combinable aggregate, then z = (p1−p2)/√(p̂(1−p̂)(1/n1+1/n2))
  // with the identical operation tree on both engines. Scale shape: one
  // scan, one 1-row aggregate.
  // ------------------------------------------------------------------
  def twoProportionZ(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .agg(
        sum(when(col("l_quantity") > 25 && col("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("x1"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n1"),
        sum(when(col("l_quantity") <= 25 && col("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("x2"),
        sum(when(col("l_quantity") <= 25, 1L).otherwise(0L)).as("n2"))
      .withColumn("p1", col("x1").cast("double") / col("n1"))
      .withColumn("p2", col("x2").cast("double") / col("n2"))
      .withColumn("pp", (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2")))
      .withColumn("z", (col("p1") - col("p2"))
        / sqrt(col("pp") * (lit(1.0) - col("pp"))
          * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))))
      .select(col("n1"), col("n2"),
        round(col("p1"), 6).as("rate_heavy"),
        round(col("p2"), 6).as("rate_light"),
        round(col("z"), 4).as("z_stat"),
        (abs(col("z")) > lit(1.96)).as("rates_differ_p05"))
  }

  private val twoProportionZSql =
    """WITH c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN l_quantity > 25 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
      |    CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN l_quantity <= 25 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x2,
      |    CAST(sum(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM lineitem),
      |z AS (
      |  SELECT n1, n2,
      |    CAST(x1 AS DOUBLE) / n1 AS p1, CAST(x2 AS DOUBLE) / n2 AS p2,
      |    CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp
      |  FROM c),
      |f AS (
      |  SELECT n1, n2, p1, p2,
      |    (p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)) AS zz
      |  FROM z)
      |SELECT n1, n2, round(p1, 6) AS rate_heavy, round(p2, 6) AS rate_light,
      |  round(zz, 4) AS z_stat, abs(zz) > 1.96 AS rates_differ_p05
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Cohen's d / Hedges' g: the PARAMETRIC effect size between returned
  // ('R') and accepted ('A') line quantities — the companion number to
  // agg_cliffs_delta's ordinal δ (d answers "how many pooled SDs apart
  // are the means"). Quantities are integers, so n, Σx, Σx² are exact
  // BIGINT per group from one aggregate; the variances, pooled SD, d,
  // and the small-sample Hedges correction g = d·(1 − 3/(4N−9)) are one
  // final double expression shared verbatim with the oracle.
  // ------------------------------------------------------------------
  def cohensD(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .withColumn("q", col("l_quantity").cast("long"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n1"),
        sum(when(col("l_returnflag") === "R", col("q")).otherwise(0L)).as("s1"),
        sum(when(col("l_returnflag") === "R", col("q") * col("q")).otherwise(0L)).as("q1"),
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("n2"),
        sum(when(col("l_returnflag") === "A", col("q")).otherwise(0L)).as("s2"),
        sum(when(col("l_returnflag") === "A", col("q") * col("q")).otherwise(0L)).as("q2"))
      .withColumn("m1", col("s1").cast("double") / col("n1"))
      .withColumn("m2", col("s2").cast("double") / col("n2"))
      .withColumn("v1", (col("q1").cast("double")
        - col("s1").cast("double") * col("s1").cast("double") / col("n1"))
        / (col("n1") - lit(1L)))
      .withColumn("v2", (col("q2").cast("double")
        - col("s2").cast("double") * col("s2").cast("double") / col("n2"))
        / (col("n2") - lit(1L)))
      .withColumn("sp", sqrt(((col("n1") - lit(1L)) * col("v1")
        + (col("n2") - lit(1L)) * col("v2"))
        / (col("n1") + col("n2") - lit(2L)).cast("double")))
      .withColumn("d", (col("m1") - col("m2")) / col("sp"))
      .select(col("n1"), col("n2"),
        round(col("m1"), 4).as("mean_returned"),
        round(col("m2"), 4).as("mean_accepted"),
        round(col("d"), 6).as("cohens_d"),
        round(col("d") * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("n1") + col("n2")) - lit(9.0))), 6).as("hedges_g"))
  }

  private val cohensDSql =
    """WITH c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
      |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s2,
      |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q2
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
      |m AS (
      |  SELECT n1, n2,
      |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
      |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) AS v1,
      |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1) AS v2
      |  FROM c),
      |d AS (
      |  SELECT n1, n2, m1, m2,
      |    (m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
      |      / CAST(n1 + n2 - 2 AS DOUBLE)) AS dd
      |  FROM m)
      |SELECT n1, n2, round(m1, 4) AS mean_returned, round(m2, 4) AS mean_accepted,
      |  round(dd, 6) AS cohens_d,
      |  round(dd * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g
      |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // Odds ratio with a Wald 95% CI: the 2×2 association between heavy
  // lines (quantity > 25) and returns, on the multiplicative scale
  // epidemiology and ranking-experiment readouts use. The four cell
  // counts are exact BIGINT; OR = ad/bc is an exact integer cross-
  // product divided once; ln, the SE √(1/a+1/b+1/c+1/d) and the exp
  // bounds are the identical final tree on both engines. The
  // significance call is CI-excludes-1.
  // ------------------------------------------------------------------
  def oddsRatio(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .agg(
        sum(when(col("l_quantity") > 25 && col("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("l_quantity") > 25 && col("l_returnflag") =!= "R", 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("l_quantity") <= 25 && col("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("l_quantity") <= 25 && col("l_returnflag") =!= "R", 1L)
          .otherwise(0L)).as("d"))
      .withColumn("or_", (col("a") * col("d")).cast("double")
        / (col("b") * col("c")).cast("double"))
      .withColumn("se", sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
        + lit(1.0) / col("c") + lit(1.0) / col("d")))
      .withColumn("lo", exp(log(col("or_")) - lit(1.96) * col("se")))
      .withColumn("hi", exp(log(col("or_")) + lit(1.96) * col("se")))
      .select(col("a"), col("b"), col("c"), col("d"),
        round(col("or_"), 6).as("odds_ratio"),
        round(col("lo"), 6).as("ci_lo"),
        round(col("hi"), 6).as("ci_hi"),
        (col("lo") > lit(1.0) || col("hi") < lit(1.0)).as("assoc_p05"))
  }

  private val oddsRatioSql =
    """WITH c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN l_quantity > 25 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN l_quantity > 25 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN l_quantity <= 25 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN l_quantity <= 25 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM lineitem),
      |o AS (
      |  SELECT a, b, c, d,
      |    CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE) AS orr,
      |    sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se
      |  FROM c),
      |ci AS (
      |  SELECT a, b, c, d, orr,
      |    exp(ln(orr) - 1.96 * se) AS lo, exp(ln(orr) + 1.96 * se) AS hi
      |  FROM o)
      |SELECT a, b, c, d, round(orr, 6) AS odds_ratio,
      |  round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi,
      |  (lo > 1.0 OR hi < 1.0) AS assoc_p05
      |FROM ci""".stripMargin

  // ------------------------------------------------------------------
  // G-test of independence (the likelihood-ratio sibling of
  // agg_chi_square, additive across partitions of the table): G =
  // 2·Σ O·ln(O·N/(R·C)) over the (returnflag × linestatus) grid.
  // Only OBSERVED cells contribute (TPC-H's grid is structurally
  // sparse — O·ln O → 0 as O → 0, the same zero-cell convention the KL
  // operators use); df stays (r−1)(c−1) from the marginal alphabets.
  // The per-cell ln work is |grid|-bounded; the fold over cells is
  // ORDERED (sorted collect + aggregate) so no cross-row double sum
  // depends on partitioning. χ²(2) 0.05 cutoff 5.991.
  // ------------------------------------------------------------------
  def gTest(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("o"))
    val margins = cells
      .withColumn("r", sum("o").over(Window.partitionBy("l_returnflag")))
      .withColumn("c", sum("o").over(Window.partitionBy("l_linestatus")))
    margins
      .agg(
        countDistinct("l_returnflag").as("n_rows_alpha"),
        countDistinct("l_linestatus").as("n_cols_alpha"),
        sum("o").as("n"),
        expr("""aggregate(
          |  array_sort(collect_list(named_struct(
          |    'k', concat(l_returnflag, l_linestatus),
          |    'v', CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE) /
          |      (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))))),
          |  0D, (a, e) -> a + e.v)""".stripMargin).as("olno"))
      // Σ O·ln(O·N/(R·C)) = Σ O·ln(O/(R·C)) + N·ln N — the N·ln N term is
      // pulled out so the fold's per-cell value needs no N reference
      .withColumn("g", lit(2.0) * (col("olno")
        + col("n").cast("double") * log(col("n").cast("double"))))
      .select(
        ((col("n_rows_alpha") - 1) * (col("n_cols_alpha") - 1)).as("df"),
        col("n").as("n_rows"),
        round(col("g"), 4).as("g_stat"),
        (col("g") > lit(5.991)).as("dependent_p05"))
  }

  private val gTestSql =
    """WITH cells AS (
      |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS o
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT l_returnflag, l_linestatus, o,
      |    sum(o) OVER (PARTITION BY l_returnflag) AS r,
      |    sum(o) OVER (PARTITION BY l_linestatus) AS c
      |  FROM cells),
      |tot AS (
      |  SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nra,
      |    CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nca,
      |    CAST(sum(o) AS BIGINT) AS n,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE)
      |        / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
      |        ORDER BY l_returnflag || l_linestatus)),
      |      (a, v) -> a + v) AS olno
      |  FROM m),
      |g AS (
      |  SELECT (nra - 1) * (nca - 1) AS df, n,
      |    2.0 * (olno + CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS g
      |  FROM tot)
      |SELECT df, n AS n_rows, round(g, 4) AS g_stat, g > 5.991 AS dependent_p05
      |FROM g""".stripMargin

  // ------------------------------------------------------------------
  // Mantel–Haenszel pooled odds ratio: the heavy-line × return
  // association CONTROLLED for order year — the stratified version of
  // agg_odds_ratio that a confounded rollout readout needs (each year is
  // a stratum; OR_MH = Σaᵢdᵢ/nᵢ ÷ Σbᵢcᵢ/nᵢ weights strata by size
  // without modeling). Per-stratum cells are exact BIGINT; the two
  // cross-product sums fold ORDERED over the |years|-bounded frame.
  // ------------------------------------------------------------------
  def mantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.lineitem(s, dir)
      .groupBy(year(col("l_shipdate")).as("yr"))
      .agg(
        sum(when(col("l_quantity") > 25 && col("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("l_quantity") > 25 && col("l_returnflag") =!= "R", 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("l_quantity") <= 25 && col("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("l_quantity") <= 25 && col("l_returnflag") =!= "R", 1L)
          .otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    strata.agg(
        count(lit(1)).as("n_strata"),
        expr("""aggregate(array_sort(collect_list(named_struct('k', yr,
          |  'v', CAST(a * d AS DOUBLE) / CAST(n AS DOUBLE)))),
          |  0D, (acc, e) -> acc + e.v)""".stripMargin).as("num"),
        expr("""aggregate(array_sort(collect_list(named_struct('k', yr,
          |  'v', CAST(b * c AS DOUBLE) / CAST(n AS DOUBLE)))),
          |  0D, (acc, e) -> acc + e.v)""".stripMargin).as("den"))
      .select(col("n_strata"),
        round(col("num") / col("den"), 6).as("or_mh"))
  }

  private val mantelHaenszelSql =
    """WITH strata AS (
      |  SELECT year(CAST(l_shipdate AS DATE)) AS yr,
      |    CAST(sum(CASE WHEN l_quantity > 25 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN l_quantity > 25 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN l_quantity <= 25 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN l_quantity <= 25 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM lineitem GROUP BY 1),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(a * d AS DOUBLE) / (a + b + c + d) ORDER BY yr)),
      |      (acc, v) -> acc + v) AS num,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(b * c AS DOUBLE) / (a + b + c + d) ORDER BY yr)),
      |      (acc, v) -> acc + v) AS den
      |  FROM strata)
      |SELECT n_strata, round(num / den, 6) AS or_mh FROM t""".stripMargin

  // ------------------------------------------------------------------
  // Friedman test: do the seven line positions (l_linenumber 1–7) rank
  // consistently by monthly revenue across the twelve ship months? — the
  // repeated-measures rank ANOVA (blocks = months, treatments = line
  // positions; first lines carry more revenue than seventh lines in
  // every month if order composition is stable), the WITHIN-subjects
  // complement of agg_kruskal_wallis and the significance test behind
  // agg_kendalls_w-style concordance. Cell values are exact revenue
  // cents; within-block ranks use the doubled-average-rank discipline
  // (ties exact, though cents make them measure-zero), so ΣRⱼ² is exact
  // BIGINT (÷4 for the doubling at the end). χ²_F compared to the
  // df = k−1 = 6 cutoff 12.592 — the value agg_kruskal_wallis wrongly
  // carried for df=11, correct HERE because this grid really is 7-way.
  // ------------------------------------------------------------------
  def friedmanTest(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .groupBy(month(col("l_shipdate")).as("blk"), col("l_linenumber"))
      .agg(sum(expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
        .as("v"))
    val dr = cells.withColumn("dr",
      rank().over(Window.partitionBy("blk").orderBy("v")) * 2
        + count(lit(1)).over(Window.partitionBy("blk", "v")) - 1)
    val rsum = dr.groupBy("l_linenumber").agg(sum("dr").as("r2"),
      count(lit(1)).as("nblk"))
    rsum.agg(count(lit(1)).as("k"), max("nblk").as("n"), min("nblk").as("n_min"),
        sum(col("r2") * col("r2")).as("sr2"))
      // balanced-panel guard: every mode must appear in every month
      .withColumn("chi2", lit(12.0)
        / (col("n").cast("double") * col("k").cast("double") * (col("k") + 1))
        * (col("sr2").cast("double") / lit(4.0))
        - lit(3.0) * col("n").cast("double") * (col("k") + 1).cast("double"))
      .select(col("k").as("n_treatments"), col("n").as("n_blocks"),
        (col("n") === col("n_min")).as("balanced"),
        round(col("chi2"), 4).as("friedman_chi2"),
        (col("chi2") > lit(12.592)).as("ranks_differ_p05"))
  }

  private val friedmanTestSql =
    """WITH cells AS (
      |  SELECT month(CAST(l_shipdate AS DATE)) AS blk, l_linenumber,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM lineitem GROUP BY 1, 2),
      |dr AS (
      |  SELECT blk, l_linenumber,
      |    rank() OVER (PARTITION BY blk ORDER BY v) * 2
      |      + count(*) OVER (PARTITION BY blk, v) - 1 AS dr
      |  FROM cells),
      |rsum AS (
      |  SELECT l_linenumber, CAST(sum(dr) AS BIGINT) AS r2,
      |    CAST(count(*) AS BIGINT) AS nblk
      |  FROM dr GROUP BY 1),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(nblk) AS BIGINT) AS n,
      |    CAST(min(nblk) AS BIGINT) AS n_min,
      |    CAST(sum(r2 * r2) AS BIGINT) AS sr2
      |  FROM rsum),
      |f AS (
      |  SELECT k, n, n_min,
      |    12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * (k + 1))
      |      * (CAST(sr2 AS DOUBLE) / 4.0)
      |      - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE) AS chi2
      |  FROM t)
      |SELECT k AS n_treatments, n AS n_blocks, n = n_min AS balanced,
      |  round(chi2, 4) AS friedman_chi2, chi2 > 12.592 AS ranks_differ_p05
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Dickey–Fuller unit-root test: is daily order revenue stationary, or
  // a random walk? — the gate before any mean-reverting alert (CUSUM,
  // z-score bands) is trusted on a metric: those assume shocks decay,
  // and a unit root means they don't. Lag-0 DF: regress Δxₜ on xₜ₋₁
  // with intercept; τ = β̂/SE(β̂) against the asymptotic 5% critical
  // value −2.86 (more negative ⇒ reject unit root ⇒ stationary). All
  // moment sums are exact DECIMAL(38,0) over the days-bounded frame
  // (the ljung-box discipline); β, SE, τ are one shared final tree.
  // ------------------------------------------------------------------
  def dickeyFuller(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    val w = Window.orderBy("day")
    val pairs = daily.withColumn("z", lag("x", 1).over(w))
      .filter(col("z").isNotNull)
      .withColumn("y", col("x") - col("z"))
    def d(c: String) = s"CAST($c AS DECIMAL(38,0))"
    val sums = pairs.agg(count(lit(1)).as("m"),
      sum(expr(d("z"))).as("sz"), sum(expr(d("y"))).as("sy"),
      sum(expr(s"${d("z")} * ${d("y")}")).as("szy"),
      sum(expr(s"${d("z")} * ${d("z")}")).as("szz"),
      sum(expr(s"${d("y")} * ${d("y")}")).as("syy"))
    sums
      .withColumn("czz", expr("CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / m"))
      .withColumn("czy", expr("CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE) / m"))
      .withColumn("cyy", expr("CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / m"))
      .withColumn("beta", col("czy") / col("czz"))
      .withColumn("se", sqrt(((col("cyy") - col("beta") * col("czy"))
        / (col("m") - lit(2L))) / col("czz")))
      .select(col("m").as("n_diffs"),
        round(col("beta"), 6).as("beta"),
        round(col("beta") / col("se"), 4).as("tau_stat"),
        (col("beta") / col("se") < lit(-2.86)).as("stationary_p05"))
  }

  private val dickeyFullerSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT x, lag(x) OVER (ORDER BY day) AS z,
      |    x - lag(x) OVER (ORDER BY day) AS y
      |  FROM daily QUALIFY z IS NOT NULL),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS m,
      |    sum(CAST(z AS HUGEINT)) AS sz, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(z AS HUGEINT) * CAST(y AS HUGEINT)) AS szy,
      |    sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz,
      |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM pairs),
      |c AS (
      |  SELECT m,
      |    CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / m AS czz,
      |    CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE) / m AS czy,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / m AS cyy
      |  FROM sums),
      |f AS (
      |  SELECT m, czy / czz AS beta,
      |    sqrt(((cyy - (czy / czz) * czy) / (m - 2)) / czz) AS se
      |  FROM c)
      |SELECT m AS n_diffs, round(beta, 6) AS beta,
      |  round(beta / se, 4) AS tau_stat,
      |  beta / se < -2.86 AS stationary_p05
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // Partial autocorrelation (Durbin–Levinson, lags 1–3) of daily
  // revenue: the AR-order diagnostic — ACF says "correlated at lag k",
  // PACF says "correlated at lag k AFTER removing lags < k", which is
  // what picks the AR(p) model and explains whether yesterday's alert
  // already accounts for the week's drift. ρₖ come from the exact
  // DECIMAL(38,0) deviation products (the ljung-box discipline); the
  // three Durbin–Levinson levels are one shared closed-form tree.
  // ------------------------------------------------------------------
  def pacfDurbin(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    val w = Window.orderBy("day")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lagged = daily
      .select(col("day") +: col("x") +:
        (1 to 3).map(k => lag("x", k).over(w).as(s"x$k")): _*)
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("sx", sum("x").over(full))
    def dev(c: String) = s"(CAST(n AS DECIMAL(38,0)) * CAST($c AS DECIMAL(38,0))" +
      s" - CAST(sx AS DECIMAL(38,0)))"
    val sumCols = sum(expr(s"${dev("x")} * ${dev("x")}")).as("c0") +:
      (1 to 3).map(k => sum(expr(s"${dev("x")} * ${dev(s"x$k")}")).as(s"c$k"))
    val sums = lagged.agg(sumCols.head, sumCols.tail: _*)
    sums
      .withColumn("r1", expr("CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)"))
      .withColumn("r2", expr("CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE)"))
      .withColumn("r3", expr("CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE)"))
      // Durbin–Levinson: φ11 = ρ1; v1 = 1−ρ1²; φ22 = (ρ2−ρ1²)/v1;
      // φ21 = φ11−φ22·φ11; v2 = v1(1−φ22²); φ33 = (ρ3−φ21ρ2−φ22ρ1)/v2
      .withColumn("p11", col("r1"))
      .withColumn("v1", lit(1.0) - col("r1") * col("r1"))
      .withColumn("p22", (col("r2") - col("r1") * col("r1")) / col("v1"))
      .withColumn("p21", col("p11") - col("p22") * col("p11"))
      .withColumn("v2", col("v1") * (lit(1.0) - col("p22") * col("p22")))
      .withColumn("p33", (col("r3") - col("p21") * col("r2")
        - col("p22") * col("r1")) / col("v2"))
      .select(round(col("p11"), 4).as("pacf1"),
        round(col("p22"), 4).as("pacf2"),
        round(col("p33"), 4).as("pacf3"))
  }

  private val pacfDurbinSql = {
    def dev(c: String) =
      s"(CAST(n AS HUGEINT) * CAST($c AS HUGEINT) - CAST(sx AS HUGEINT))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT x, lag(x, 1) OVER (ORDER BY day) AS x1,
       |    lag(x, 2) OVER (ORDER BY day) AS x2,
       |    lag(x, 3) OVER (ORDER BY day) AS x3,
       |    count(*) OVER () AS n, sum(x) OVER () AS sx
       |  FROM daily),
       |sums AS (
       |  SELECT sum(${dev("x")} * ${dev("x")}) AS c0,
       |    sum(${dev("x")} * ${dev("x1")}) AS c1,
       |    sum(${dev("x")} * ${dev("x2")}) AS c2,
       |    sum(${dev("x")} * ${dev("x3")}) AS c3
       |  FROM lagged),
       |r AS (
       |  SELECT CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
       |    CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
       |    CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3
       |  FROM sums),
       |dl AS (
       |  SELECT r1 AS p11, 1.0 - r1 * r1 AS v1,
       |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22, r1, r2, r3
       |  FROM r),
       |dl2 AS (
       |  SELECT p11, p22, r1, r2, r3,
       |    p11 - p22 * p11 AS p21, v1 * (1.0 - p22 * p22) AS v2
       |  FROM dl)
       |SELECT round(p11, 4) AS pacf1, round(p22, 4) AS pacf2,
       |  round((r3 - p21 * r2 - p22 * r1) / v2, 4) AS pacf3
       |FROM dl2""".stripMargin
  }

  // ------------------------------------------------------------------
  // MASE + sMAPE forecast backtest: how good is the 7-day moving-average
  // forecast of daily revenue, scaled against the seasonal-naive (lag-7)
  // baseline? — the two standard scale-free backtest metrics (pinball
  // covers quantile forecasts; these cover point forecasts). Exactness:
  // with S = the trailing-7 sum, |xₜ − S/7| = |7xₜ − S|/7 — so the MASE
  // numerator Σ|7xₜ−S| and denominator Σ|xₜ−xₜ₋₇| are EXACT BIGINT
  // sums; sMAPE's per-day ratios 2|7x−S|/(7x+S) fold ORDERED over the
  // days-bounded frame.
  // ------------------------------------------------------------------
  def maseSmape(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    val w = Window.orderBy("day")
    val eval = daily
      .withColumn("sw", sum("x").over(w.rowsBetween(-7, -1)))
      .withColumn("cnt", count("x").over(w.rowsBetween(-7, -1)))
      .withColumn("x7", lag("x", 7).over(w))
      .filter(col("cnt") === 7 && col("x7").isNotNull)
    eval.agg(count(lit(1)).as("n_eval"),
        sum(abs(lit(7L) * col("x") - col("sw"))).as("ae_model7"),
        sum(abs(col("x") - col("x7"))).as("ae_naive"),
        expr("""aggregate(array_sort(collect_list(named_struct('k', day,
          |  'v', 2.0 * abs(7 * x - sw) / CAST(7 * x + sw AS DOUBLE)))),
          |  0D, (a, e) -> a + e.v)""".stripMargin).as("smape_sum"))
      .select(col("n_eval"),
        round(col("ae_model7").cast("double")
          / (lit(7.0) * col("ae_naive").cast("double")), 6).as("mase"),
        round(col("smape_sum") / col("n_eval"), 6).as("smape"))
  }

  private val maseSmapeSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |ev AS (
      |  SELECT day, x,
      |    sum(x) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sw,
      |    count(x) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS cnt,
      |    lag(x, 7) OVER (ORDER BY day) AS x7
      |  FROM daily QUALIFY cnt = 7 AND x7 IS NOT NULL),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
      |    CAST(sum(abs(7 * x - sw)) AS BIGINT) AS ae_model7,
      |    CAST(sum(abs(x - x7)) AS BIGINT) AS ae_naive,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(2.0 * abs(7 * x - sw) / CAST(7 * x + sw AS DOUBLE) ORDER BY day)),
      |      (a, v) -> a + v) AS smape_sum
      |  FROM ev)
      |SELECT n_eval,
      |  round(CAST(ae_model7 AS DOUBLE) / (7.0 * CAST(ae_naive AS DOUBLE)), 6) AS mase,
      |  round(smape_sum / n_eval, 6) AS smape
      |FROM t""".stripMargin

  // ------------------------------------------------------------------
  // Weekly spectral power: the periodogram ordinate of daily revenue at
  // the 1/7 frequency, as a share of total variance — "how much of this
  // metric is just the weekly cycle", the quantitative version of
  // win_seasonality_dow's eyeball table. Exact integer DFT: the cos/sin
  // weights for t mod 7 are SHARED 1e-6-unit integer literals (never
  // runtime trig — libm differs across engines), daily cents are
  // BIGINT, deviations use the n·x − Σx form, so both Fourier sums are
  // exact DECIMAL(38,0) products; doubles appear only in the final
  // power/share expression.
  // ------------------------------------------------------------------
  def spectralWeekly(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(s, dir)
    val w = Window.orderBy("day")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // round(cos(2πk/7)·1e6), round(sin(2πk/7)·1e6) for k = 0..6
    val cosT = "array(1000000L, 623490L, -222521L, -900969L, -900969L, -222521L, 623490L)"
    val sinT = "array(0L, 781831L, 974928L, 433884L, -433884L, -974928L, -781831L)"
    val t = daily
      .withColumn("t", row_number().over(w) - 1)
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("sx", sum("x").over(full))
      .withColumn("dev", expr("CAST(n AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))" +
        " - CAST(sx AS DECIMAL(38,0))"))
      .withColumn("c6", expr(s"element_at($cosT, CAST(t % 7 AS INT) + 1)"))
      .withColumn("s6", expr(s"element_at($sinT, CAST(t % 7 AS INT) + 1)"))
    t.agg(max("n").as("n"),
        sum(expr("dev * CAST(c6 AS DECIMAL(38,0))")).as("cc"),
        sum(expr("dev * CAST(s6 AS DECIMAL(38,0))")).as("ss"),
        sum(expr("dev * dev")).as("ssq"))
      // de-scale: dev carries a factor n, the weights 1e6
      .withColumn("cd", expr("CAST(cc AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)"))
      .withColumn("sd", expr("CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)"))
      .withColumn("sst", expr("CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"))
      .select(col("n").as("n_days"),
        round((col("cd") * col("cd") + col("sd") * col("sd")) / col("n"), 4)
          .as("weekly_power"),
        round(lit(2.0) * (col("cd") * col("cd") + col("sd") * col("sd"))
          / (col("n") * col("sst")), 6).as("weekly_var_share"))
  }

  private val spectralWeeklySql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |t AS (
      |  SELECT x, row_number() OVER (ORDER BY day) - 1 AS t,
      |    count(*) OVER () AS n, sum(x) OVER () AS sx
      |  FROM daily),
      |d AS (
      |  SELECT n,
      |    CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - CAST(sx AS HUGEINT) AS dev,
      |    [CAST(1000000 AS HUGEINT), 623490, -222521, -900969, -900969, -222521, 623490][CAST(t % 7 AS INT) + 1] AS c6,
      |    [CAST(0 AS HUGEINT), 781831, 974928, 433884, -433884, -974928, -781831][CAST(t % 7 AS INT) + 1] AS s6
      |  FROM t),
      |sums AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n, sum(dev * c6) AS cc,
      |    sum(dev * s6) AS ss, sum(dev * dev) AS ssq
      |  FROM d),
      |f AS (
      |  SELECT n,
      |    CAST(cc AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS cd,
      |    CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS sd,
      |    CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS sst
      |  FROM sums)
      |SELECT n AS n_days,
      |  round((cd * cd + sd * sd) / n, 4) AS weekly_power,
      |  round(2.0 * (cd * cd + sd * sd) / (n * sst), 6) AS weekly_var_share
      |FROM f""".stripMargin

  // ------------------------------------------------------------------
  // KPSS stationarity test: the REVERSED-null complement of
  // agg_dickey_fuller (DF's null is a unit root, KPSS's null is
  // stationarity — agreeing verdicts from both is the standard
  // two-sided evidence before trusting mean-reversion). η = ΣS_t² /
  // (n²·σ̂²_lr) with S_t the partial sums of deviations and σ̂²_lr the
  // Bartlett long-run variance at l = 4. Exactness: dev_t = n·x_t − Σx
  // keeps everything integer; with S'_t = cumsum(dev) and
  // c_j = Σ dev·dev_lag, η = 5·ΣS'² / (n·(5c₀ + 2Σ(5−j)c_j)) — ONE
  // double division at the end, both sides exact DECIMAL(38,0).
  // Level-stationarity 5% critical value 0.463 (η below ⇒ stationary).
  // ------------------------------------------------------------------
  def kpssTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100").as("x"))
    val w = Window.orderBy("day")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def dev(c: String) = s"(CAST(n AS DECIMAL(38,0)) * CAST($c AS DECIMAL(38,0))" +
      s" - CAST(sx AS DECIMAL(38,0)))"
    val lagged = daily
      .select(col("day") +: col("x") +:
        (1 to 4).map(k => lag("x", k).over(w).as(s"x$k")): _*)
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("sx", sum("x").over(full))
      .withColumn("sp", sum(expr(dev("x")))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val sumCols = max("n").as("n") +:
      sum(expr("sp * sp")).as("ssp") +:
      sum(expr(s"${dev("x")} * ${dev("x")}")).as("c0") +:
      (1 to 4).map(k => sum(expr(s"${dev("x")} * ${dev(s"x$k")}")).as(s"c$k"))
    lagged.agg(sumCols.head, sumCols.tail: _*)
      .withColumn("eta", expr(
        """5.0 * CAST(ssp AS DOUBLE)
          | / (CAST(n AS DOUBLE) * CAST(5 * c0 + 2 * (4 * c1 + 3 * c2 + 2 * c3 + 1 * c4)
          |     AS DOUBLE))""".stripMargin))
      .select(col("n").as("n_days"),
        round(col("eta"), 6).as("kpss_eta"),
        (col("eta") < lit(0.463)).as("level_stationary_p05"))
  }

  private val kpssTestSql = {
    def dev(c: String) =
      s"(CAST(n AS HUGEINT) * CAST($c AS HUGEINT) - CAST(sx AS HUGEINT))"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT day, x, lag(x, 1) OVER (ORDER BY day) AS x1,
       |    lag(x, 2) OVER (ORDER BY day) AS x2,
       |    lag(x, 3) OVER (ORDER BY day) AS x3,
       |    lag(x, 4) OVER (ORDER BY day) AS x4,
       |    count(*) OVER () AS n, sum(x) OVER () AS sx
       |  FROM daily),
       |cum AS (
       |  SELECT *, sum(${dev("x")}) OVER (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp
       |  FROM lagged),
       |sums AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n, sum(sp * sp) AS ssp,
       |    sum(${dev("x")} * ${dev("x")}) AS c0,
       |    sum(${dev("x")} * ${dev("x1")}) AS c1,
       |    sum(${dev("x")} * ${dev("x2")}) AS c2,
       |    sum(${dev("x")} * ${dev("x3")}) AS c3,
       |    sum(${dev("x")} * ${dev("x4")}) AS c4
       |  FROM cum),
       |f AS (
       |  SELECT n, 5.0 * CAST(ssp AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(5 * c0 + 2 * (4 * c1 + 3 * c2 + 2 * c3 + 1 * c4)
       |       AS DOUBLE)) AS eta
       |  FROM sums)
       |SELECT n AS n_days, round(eta, 6) AS kpss_eta,
       |  eta < 0.463 AS level_stationary_p05
       |FROM f""".stripMargin
  }

  // ------------------------------------------------------------------
  // Tukey HSD (honestly significant difference): WHICH of the seven
  // line positions differ in mean quantity, after agg_anova_f says SOME
  // do — the post-hoc pairwise step every ANOVA needs, with the
  // familywise error held at 0.05 by the studentized-range cutoff
  // instead of 21 uncorrected t-tests. Per-group (n, Σx, Σx²) are exact
  // BIGINT from one aggregate; the 21 Tukey–Kramer comparisons are a
  // broadcast self-join of the 7-row collapsed frame. q₀.₀₅(7, ∞) =
  // 4.170 — the ∞-df studentized-range value, appropriate at this
  // error df (~N−7) and shared as a literal with the oracle.
  // ------------------------------------------------------------------
  def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .withColumn("q", col("l_quantity").cast("long"))
      .groupBy(col("l_linenumber").as("grp"))
      .agg(count(lit(1)).as("n"), sum("q").as("sx"),
        sum(col("q") * col("q")).as("sxx"))
    val mse = g.agg(
      count(lit(1)).as("k"), sum("n").as("nt"),
      expr("""aggregate(array_sort(collect_list(named_struct('k', grp,
        |  'v', CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n))),
        |  0D, (a, e) -> a + e.v)""".stripMargin).as("sse"))
      .withColumn("mse", col("sse") / (col("nt") - col("k")).cast("double"))
    val a = g.select(col("grp").as("g1"), col("n").as("n1"),
      (col("sx").cast("double") / col("n")).as("m1"))
    val b = g.select(col("grp").as("g2"), col("n").as("n2"),
      (col("sx").cast("double") / col("n")).as("m2"))
    a.join(b, col("g1") < col("g2"))
      .crossJoin(broadcast(mse.select("mse")))
      .withColumn("diff", col("m1") - col("m2"))
      .withColumn("crit", lit(4.170)
        * sqrt(col("mse") / lit(2.0)
          * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))))
      .select(col("g1"), col("g2"),
        round(col("diff"), 4).as("mean_diff"),
        round(col("crit"), 4).as("hsd_critical"),
        (abs(col("diff")) > col("crit")).as("differs_p05"))
      .orderBy("g1", "g2")
  }

  private val tukeyHsdSql =
    """WITH g AS (
      |  SELECT l_linenumber AS grp, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
      |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nt,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
      |        ORDER BY grp)), (a, v) -> a + v) AS sse
      |  FROM g),
      |mse AS (SELECT sse / CAST(nt - k AS DOUBLE) AS mse FROM m)
      |SELECT a.grp AS g1, b.grp AS g2,
      |  round(CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n, 4) AS mean_diff,
      |  round(4.170 * sqrt(mse / 2.0 * (1.0 / a.n + 1.0 / b.n)), 4) AS hsd_critical,
      |  abs(CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
      |    > 4.170 * sqrt(mse / 2.0 * (1.0 / a.n + 1.0 / b.n)) AS differs_p05
      |FROM g a JOIN g b ON a.grp < b.grp, mse
      |ORDER BY g1, g2""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("agg_tukey_hsd", tukeyHsd, Some(tukeyHsdSql)),
    QueryDef("agg_kpss_test", kpssTest, Some(kpssTestSql)),
    QueryDef("agg_dickey_fuller", dickeyFuller, Some(dickeyFullerSql)),
    QueryDef("win_pacf_durbin", pacfDurbin, Some(pacfDurbinSql)),
    QueryDef("win_mase_smape", maseSmape, Some(maseSmapeSql)),
    QueryDef("win_spectral_weekly", spectralWeekly, Some(spectralWeeklySql)),
    QueryDef("agg_two_proportion_z", twoProportionZ, Some(twoProportionZSql)),
    QueryDef("agg_cohens_d", cohensD, Some(cohensDSql)),
    QueryDef("agg_odds_ratio", oddsRatio, Some(oddsRatioSql)),
    QueryDef("agg_g_test", gTest, Some(gTestSql)),
    QueryDef("agg_mantel_haenszel", mantelHaenszel, Some(mantelHaenszelSql)),
    QueryDef("agg_friedman_test", friedmanTest, Some(friedmanTestSql)),
    QueryDef("agg_lorenz_deciles", lorenzDeciles, Some(lorenzDecilesSql)),
    QueryDef("agg_tail_index_hill", tailIndexHill, Some(tailIndexHillSql)),
    QueryDef("agg_pinball_backtest", pinballBacktest, Some(pinballBacktestSql)),
    QueryDef("win_granger_causality", grangerCausality, Some(grangerCausalitySql)),
    QueryDef("agg_dispersion_index", dispersionIndex, Some(dispersionIndexSql)),
    QueryDef("agg_poisson_rate_test", poissonRateTest, Some(poissonRateTestSql)),
    QueryDef("agg_gumbel_maxima", gumbelMaxima, Some(gumbelMaximaSql)),
    QueryDef("agg_jarque_bera", jarqueBera, Some(jarqueBeraSql)),
    QueryDef("agg_runs_test", runsTest, Some(runsTestSql)),
    QueryDef("agg_wilson_ci", wilsonCi, Some(wilsonCiSql)),
    QueryDef("win_kalman_level", kalmanLevel, Some(kalmanLevelSql)),
    QueryDef("win_holt_winters", holtWinters, Some(holtWintersSql)),
    QueryDef("agg_durbin_watson", durbinWatson, Some(durbinWatsonSql)),
    QueryDef("agg_kruskal_wallis", kruskalWallis, Some(kruskalWallisSql)),
    QueryDef("agg_cliffs_delta", cliffsDelta, Some(cliffsDeltaSql)),
    QueryDef("agg_ljung_box", ljungBox, Some(ljungBoxSql)),
    QueryDef("agg_kendalls_w", kendallsW, Some(kendallsWSql)),
    QueryDef("agg_cronbach_alpha", cronbachAlpha, Some(cronbachAlphaSql)),
    QueryDef("win_page_hinkley", pageHinkley, Some(pageHinkleySql)),
    QueryDef("misc_ab_sprt", abSprt, Some(abSprtSql)),
    QueryDef("agg_levene_test", leveneTest, Some(leveneTestSql)),
    QueryDef("agg_tost_equivalence", tostEquivalence, Some(tostEquivalenceSql)),
    QueryDef("win_holt_linear", holtLinear, Some(holtLinearSql)),
    QueryDef("agg_cochran_armitage", cochranArmitage, Some(cochranArmitageSql)),
    QueryDef("agg_power_mde", powerMde, Some(powerMdeSql)),
    QueryDef("agg_cohens_kappa", cohensKappa, Some(cohensKappaSql)),
    QueryDef("misc_growth_accounting", growthAccounting, Some(growthAccountingSql)),
    QueryDef("win_stochastic_osc", stochasticOsc, Some(stochasticOscSql)),
    QueryDef("agg_jackknife_se", jackknifeSe, Some(jackknifeSeSql)),
    QueryDef("agg_mcnemar_test", mcnemarTest, Some(mcnemarTestSql)),
    QueryDef("agg_capture_recapture", captureRecapture, Some(captureRecaptureSql)),
    QueryDef("agg_kendall_tau", kendallTau, Some(kendallTauSql)),
    QueryDef("misc_srm_check", srmCheck, Some(srmCheckSql)),
    QueryDef("win_bollinger_bands", bollingerBands, Some(bollingerBandsSql)),
    QueryDef("win_rsi_signal", rsiSignal, Some(rsiSignalSql)),
    QueryDef("win_peak_detection", peakDetection, Some(peakDetectionSql)),
    QueryDef("misc_heavy_change", heavyChange, Some(heavyChangeSql)),
    QueryDef("curation_weighted_reservoir", weightedReservoir,
      Some(weightedReservoirSql)),
    QueryDef("agg_conditional_entropy", conditionalEntropy,
      Some(conditionalEntropySql)),
    QueryDef("curation_curriculum_order", curriculumOrder,
      Some(curriculumOrderSql)),
    QueryDef("agg_burstiness_fano", burstinessFano, Some(burstinessFanoSql)),
    QueryDef("misc_incremental_agg", incrementalAgg, Some(incrementalAggSql)),
    QueryDef("win_rolling_active_users", rollingActiveUsers,
      Some(rollingActiveUsersSql)),
    QueryDef("agg_cramers_v", cramersV, Some(cramersVSql)),
    QueryDef("agg_autocorr_lag", autocorrLag, Some(autocorrLagSql)),
    QueryDef("agg_theil_sen_trend", theilSenTrend, Some(theilSenTrendSql)),
    QueryDef("agg_winsorized_stats", winsorizedStats, Some(winsorizedStatsSql)),
    QueryDef("agg_mann_kendall", mannKendall, Some(mannKendallSql)),
    QueryDef("misc_ab_test_cuped", cupedAdjust, Some(cupedAdjustSql)),
    QueryDef("agg_permutation_test", permutationTest, Some(permutationTestSql)),
    QueryDef("agg_hodges_lehmann", hodgesLehmann, Some(hodgesLehmannSql)),
    QueryDef("win_changepoint_mean", changepointMean, Some(changepointMeanSql)),
    QueryDef("win_pettitt_changepoint", pettittChangepoint, Some(pettittChangepointSql)),
    QueryDef("win_sma_crossover", smaCrossover, Some(smaCrossoverSql)),
    QueryDef("win_hampel_outliers", hampelOutliers, Some(hampelOutliersSql)),
    QueryDef("win_seasonal_decompose", seasonalDecompose, Some(seasonalDecomposeSql)),
    QueryDef("agg_bh_fdr", bhFdr, Some(bhFdrSql)),
    QueryDef("agg_weighted_median", weightedMedian, Some(weightedMedianSql)),
    QueryDef("misc_market_basket", marketBasket, Some(marketBasketSql)),
    QueryDef("sim_reciprocal_nn", reciprocalNn, Some(reciprocalNnSql)),
    QueryDef("text_hashing_features", hashingFeatures, Some(hashingFeaturesSql)),
    QueryDef("win_rfm_segmentation", rfmSegmentation, Some(rfmSegmentationSql)),
    QueryDef("agg_cohort_ltv", cohortLtv, Some(cohortLtvSql)),
    QueryDef("agg_bootstrap_ci", bootstrapCi, Some(bootstrapCiSql)),
    QueryDef("agg_hhi_concentration", hhiConcentration, Some(hhiConcentrationSql)),
    QueryDef("win_seasonality_dow", seasonalityDow, Some(seasonalityDowSql)),
    QueryDef("agg_spearman_corr", spearmanCorr, Some(spearmanCorrSql)),
    QueryDef("agg_anova_f", anovaF, Some(anovaFSql)),
    QueryDef("misc_interval_merge", intervalMerge, Some(intervalMergeSql)),
    QueryDef("win_ohlc_bars", ohlcBars, Some(ohlcBarsSql)),
    QueryDef("text_pmi_collocations", pmiCollocations, Some(pmiCollocationsSql)),
    QueryDef("curation_epoch_plan", epochPlan, Some(epochPlanSql))
  )
}
