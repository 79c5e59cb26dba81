package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pivot/unpivot, UDF surface, try_-functions, bit manipulation, and
  * explicit repartitioning (SURVEY.md §2 remainder).
  */
object MiscQueries extends QueryModule {

  /** Pivot (explicit value list for a deterministic schema): order counts
    * and spend per segment × status.
    */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("c_mktsegment")

  private val pivotStatusSql =
    """SELECT c_mktsegment,
      |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
      |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
      |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Unpivot (melt): wide lineitem metrics to long (key, metric, value). */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 500 === 0 && col("l_linenumber") === 1)
      .select(col("l_orderkey"), round(col("l_quantity"), 2).as("quantity"),
        round(col("l_extendedprice"), 2).as("extendedprice"),
        round(col("l_discount"), 2).as("discount"), round(col("l_tax"), 2).as("tax"))
      .unpivot(Array(col("l_orderkey")), "metric", "value")
      .orderBy("l_orderkey", "metric")

  private val unpivotMetricsSql =
    """SELECT l_orderkey, metric, value FROM (
      |  SELECT l_orderkey, 'quantity' AS metric, round(l_quantity, 2) AS value
      |  FROM lineitem WHERE l_orderkey % 500 = 0 AND l_linenumber = 1
      |  UNION ALL
      |  SELECT l_orderkey, 'extendedprice', round(l_extendedprice, 2)
      |  FROM lineitem WHERE l_orderkey % 500 = 0 AND l_linenumber = 1
      |  UNION ALL
      |  SELECT l_orderkey, 'discount', round(l_discount, 2)
      |  FROM lineitem WHERE l_orderkey % 500 = 0 AND l_linenumber = 1
      |  UNION ALL
      |  SELECT l_orderkey, 'tax', round(l_tax, 2)
      |  FROM lineitem WHERE l_orderkey % 500 = 0 AND l_linenumber = 1
      |) ORDER BY l_orderkey, metric""".stripMargin

  /** Scala UDF surface (udf() registration). Built-ins are preferred
    * everywhere else (SURVEY.md §2 "UDF surface") — this declares the
    * escape hatch works and stays oracle-parity when the logic is pure.
    */
  def udfTokenRatio(s: SparkSession, dir: String): DataFrame = {
    val tokenRatio = udf { (text: String) =>
      if (text == null) 0.0
      else {
        val toks = text.split(" ", -1).filter(_.nonEmpty)
        if (toks.isEmpty) 0.0 else toks.distinct.length.toDouble / toks.length
      }
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), round(tokenRatio(col("text")), 4).as("token_ratio"))
      .orderBy("doc_id")
  }

  private val udfTokenRatioSql =
    """SELECT doc_id,
      |  round(CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) = 0 THEN 0.0
      |    ELSE CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
      |       / len(list_filter(string_split(text, ' '), t -> t <> '')) END, 4) AS token_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  /** try_* family: errors become nulls instead of task failures (the
    * batch analogue of the reference's poison-record skip [REF A9]).
    *
    * The try_* projection sits ABOVE the global sort (optimization r17,
    * guide §1/§2): a range-partitioned Sort samples its child once for
    * partition boundaries and then computes it again for the shuffle, so
    * an expensive projection below the sort runs TWICE over the corpus —
    * try_to_timestamp over a never-matching string is the costliest
    * expression in this module. Sorting the narrow source columns first
    * and projecting after evaluates each try_* exactly once; the rows and
    * their total (event_id) order are unchanged.
    */
  def tryFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("value"), col("props"))
      .orderBy("event_id")
      .select(
        col("event_id"),
        round(expr("try_divide(value, CAST(event_id % 5 AS DOUBLE))"), 4)
          .as("div_or_null"),
        expr("try_cast(concat('x', event_id) AS INT)").as("bad_cast"),
        expr("try_cast(event_id AS INT)").as("good_cast"),
        expr("try_to_timestamp(props)").cast("string").as("bad_ts"))

  private val tryFuncsSql =
    """SELECT event_id,
      |  round(CASE WHEN event_id % 5 = 0 THEN NULL
      |    ELSE value / CAST(event_id % 5 AS DOUBLE) END, 4) AS div_or_null,
      |  try_cast(concat('x', event_id) AS INT) AS bad_cast,
      |  try_cast(event_id AS INT) AS good_cast,
      |  CAST(NULL AS VARCHAR) AS bad_ts
      |FROM events ORDER BY event_id""".stripMargin

  /** Bit manipulation: shifts, and/or/xor, hex rendering. */
  def bitFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .select(
        col("n_nationkey"),
        expr("shiftleft(CAST(n_nationkey AS BIGINT), 3)").as("shl3"),
        expr("shiftright(CAST(n_nationkey AS BIGINT), 1)").as("shr1"),
        expr("CAST(n_nationkey AS BIGINT) & 6").as("band"),
        expr("CAST(n_nationkey AS BIGINT) | 9").as("bor"),
        expr("CAST(n_nationkey AS BIGINT) ^ 21").as("bxor"),
        lower(hex(col("n_nationkey").cast("long"))).as("hexed"))
      .orderBy("n_nationkey")

  private val bitFuncsSql =
    """SELECT n_nationkey,
      |  CAST(n_nationkey AS BIGINT) << 3 AS shl3,
      |  CAST(n_nationkey AS BIGINT) >> 1 AS shr1,
      |  CAST(n_nationkey AS BIGINT) & 6 AS band,
      |  CAST(n_nationkey AS BIGINT) | 9 AS bor,
      |  xor(CAST(n_nationkey AS BIGINT), 21) AS bxor,
      |  lower(to_hex(CAST(n_nationkey AS BIGINT))) AS hexed
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** Explicit repartition + partition-local sort: same result as the plain
    * aggregate (the oracle), but the plan pins the partitioning — the knob
    * used to co-locate joins / bucket writes at scale.
    */
  def repartitionAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .repartition(8, col("l_suppkey"))
      .sortWithinPartitions("l_suppkey", "l_orderkey")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("l_suppkey")

  private val repartitionAggSql =
    """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** Salted skew join, declared as a first-class query: the fact side gets
    * a deterministic salt (linenumber mod 4), the dim side is replicated
    * across all salt values, and the join key becomes (key, salt) — the
    * standard hot-key defuser when one join key carries a disproportionate
    * share of rows. AQE's skew-join split handles runtime skew; explicit
    * salting is the plan-level form that also fixes skewed AGGREGATES.
    * Results are identical to the unsalted join, which is the oracle.
    */
  def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    val salts = 4
    val fact = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"),
        pmod(col("l_linenumber"), lit(salts)).as("salt"))
    val dim = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        explode(expr(s"sequence(0, ${salts - 1})")).as("salt"))
    fact.join(dim,
        col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        SharedExprs.sumCents("l_extendedprice").as("total_price"))
      .orderBy("o_orderpriority")
  }

  private val saltedJoinSql =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
      |  ${SharedExprs.dSumCentsSql("l_extendedprice")} AS total_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Nested-struct family: construction (named_struct/struct), field
    * access, arrays_zip, struct comparison, and inline explode of a
    * struct array.
    */
  def structFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .select(
        col("n_nationkey"),
        struct(col("n_name").as("name"), col("n_regionkey").as("rk")).as("info"),
        expr("named_struct('a', n_nationkey * 2, 'b', upper(n_name))").as("pair"))
      .select(
        col("n_nationkey"),
        col("info.name").as("info_name"),
        (col("info.rk") + col("pair.a")).cast("long").as("mixed"),
        expr("info = named_struct('name', info.name, 'rk', info.rk)").as("struct_eq"),
        expr("arrays_zip(sequence(1, 3), sequence(4, 6))").as("zipped"))
      .select(
        col("n_nationkey"), col("info_name"), col("mixed"), col("struct_eq"),
        expr("aggregate(zipped, 0L, (acc, p) -> acc + p['0'] * p['1'])").as("zip_dot"))
      .orderBy("n_nationkey")

  private val structFuncsSql =
    """SELECT n_nationkey, n_name AS info_name,
      |  CAST(n_regionkey + n_nationkey * 2 AS BIGINT) AS mixed,
      |  true AS struct_eq,
      |  CAST(1*4 + 2*5 + 3*6 AS BIGINT) AS zip_dot
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** The full generator (UDTF-shaped) surface beyond plain explode:
    * posexplode_outer (positions + a NULL row for a NULL input array),
    * inline (array-of-struct flattening), and stack (constant unpivot) —
    * normalized into one (doc_id, gen, pos, value) table. Generators are
    * per-row lateral expansions: embarrassingly parallel, no shuffle
    * except the declared output sort. The fixture guarantees ≥10 tokens
    * per doc, so every slice below is total.
    */
  def generatorFuncs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .withColumn("tk", expr("array_remove(split(text, ' ', -1), '')"))
    // posexplode_outer: non-en docs get a NULL array -> one all-NULL row
    val posOuter = docs
      .select(col("doc_id"), lit("pos_outer").as("gen"),
        posexplode_outer(expr("CASE WHEN lang = 'en' THEN slice(tk, 1, 3) END")))
      .select(col("doc_id"), col("gen"), col("pos"), col("col").as("value"))
    // inline: flatten an array of (token, next-token) structs
    val inl = docs
      .select(col("doc_id"), lit("inline").as("gen"),
        expr("inline(arrays_zip(slice(tk, 1, 2), slice(tk, 2, 2)))"))
      .select(col("doc_id"), col("gen"), lit(null).cast("int").as("pos"),
        concat(col("0"), lit("+"), col("1")).as("value"))
    // stack: constant-width unpivot of (first, last) token
    val stk = docs
      .select(col("doc_id"), lit("stack").as("gen"),
        expr("stack(2, 'first', element_at(tk, 1), 'last', element_at(tk, size(tk)))"))
      .select(col("doc_id"), col("gen"), lit(null).cast("int").as("pos"),
        concat(col("col0"), lit("="), col("col1")).as("value"))
    posOuter.unionByName(inl).unionByName(stk)
      .orderBy(col("doc_id"), col("gen"), col("pos").asc_nulls_first, col("value").asc_nulls_first)
  }

  private val generatorFuncsSql =
    """WITH docs AS (
      |  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents WHERE doc_id < 100
      |), pos_outer AS (
      |  SELECT doc_id, 'pos_outer' AS gen, CAST(p AS INT) AS pos, tk[p + 1] AS value
      |  FROM docs, unnest(range(0, 3)) AS u(p) WHERE lang = 'en'
      |  UNION ALL
      |  SELECT doc_id, 'pos_outer', NULL, NULL FROM docs WHERE lang <> 'en'
      |), inl AS (
      |  SELECT doc_id, 'inline' AS gen, CAST(NULL AS INT) AS pos,
      |    tk[i] || '+' || tk[i + 1] AS value
      |  FROM docs, unnest(range(1, 3)) AS u(i)
      |), stk AS (
      |  SELECT doc_id, 'stack', CAST(NULL AS INT), 'first=' || tk[1] FROM docs
      |  UNION ALL
      |  SELECT doc_id, 'stack', CAST(NULL AS INT), 'last=' || tk[len(tk)] FROM docs)
      |SELECT * FROM (
      |  SELECT * FROM pos_outer UNION ALL SELECT * FROM inl UNION ALL SELECT * FROM stk)
      |ORDER BY doc_id, gen, pos NULLS FIRST, value NULLS FIRST""".stripMargin

  /** MERGE / upsert semantics without a table format: base ⟗ updates on
    * the key, COALESCE picks the update when present, and the action
    * column classifies each output row (update / insert / keep) — the
    * composed form of `MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    * THEN INSERT`. Base = orders outside the update keyspace ∪ a
    * deterministic "stale" slice; updates = every 5th order re-priced.
    * Scale shape: ONE key-partitioned shuffle for the full-outer join
    * (broadcast if the update side is small; here both sides shuffle —
    * the general case); the rollup keeps the declared output bounded.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val base = orders.filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val updates = orders.filter(col("o_orderkey") % 5 === 0)
      // +100 instead of a multiplicative bump: scaling 2-dp prices lands
      // on .xx5 rounding boundaries where the engines' double rounding
      // disagrees row-by-row; an exact additive re-price keeps the merged
      // values bit-identical on both sides
      .select(col("o_orderkey"), lit("X").as("u_status"),
        (col("o_totalprice") + 100.0).as("u_price"))
    base.join(updates, Seq("o_orderkey"), "full_outer")
      .withColumn("action",
        when(col("u_status").isNotNull && col("status").isNotNull, "update")
          .when(col("status").isNull, "insert")
          .otherwise("keep"))
      .select(col("o_orderkey"),
        coalesce(col("u_status"), col("status")).as("status"),
        coalesce(col("u_price"), col("price")).as("price"),
        col("action"))
      .groupBy("status", "action")
      .agg(count(lit(1)).as("n"), SharedExprs.sumCents("price").as("total_price"))
      .orderBy("status", "action")
  }

  private val mergeUpsertSql =
    s"""WITH base AS (
      |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 10 <> 3
      |), updates AS (
      |  SELECT o_orderkey, 'X' AS u_status, o_totalprice + 100.0 AS u_price
      |  FROM orders WHERE o_orderkey % 5 = 0
      |), merged AS (
      |  SELECT coalesce(u_status, status) AS status,
      |    coalesce(u_price, price) AS price,
      |    CASE WHEN u_status IS NOT NULL AND status IS NOT NULL THEN 'update'
      |         WHEN status IS NULL THEN 'insert' ELSE 'keep' END AS action
      |  FROM base FULL OUTER JOIN updates USING (o_orderkey))
      |SELECT status, action, CAST(count(*) AS BIGINT) AS n,
      |  ${SharedExprs.dSumCentsSql("price")} AS total_price
      |FROM merged GROUP BY 1, 2 ORDER BY status, action""".stripMargin

  /** URL function family (`parse_url`): HOST / PATH / QUERY / named query
    * parameter over deterministically derived URLs (same device as the
    * curation queries — the fixture has no URL column). The oracle
    * replays the extraction with regexes, with '' → NULL fixed up where
    * parse_url returns NULL for an absent component. Per-row projection,
    * shuffle-free.
    */
  def urlFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("url", concat(
        lit("https://"),
        format_string("host%02d.example.com/%s/doc/%d", col("doc_id") % 13,
          col("source"), col("doc_id")),
        when(col("doc_id") % 4 === 0,
          format_string("?utm_source=feed&sid=%d", col("doc_id"))).otherwise(lit(""))))
      .select(
        col("doc_id"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'sid')").as("sid"),
        expr("parse_url(url, 'PROTOCOL')").as("protocol"))
      .orderBy("doc_id")

  private val urlFuncsSql =
    """WITH u AS (
      |  SELECT doc_id,
      |    concat('https://',
      |      printf('host%02d.example.com/%s/doc/%d', doc_id % 13, source, doc_id),
      |      CASE WHEN doc_id % 4 = 0 THEN printf('?utm_source=feed&sid=%d', doc_id)
      |           ELSE '' END) AS url
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_extract(url, 'https://([^/?#]+)', 1) AS host,
      |  regexp_extract(url, 'https://[^/?#]+([^?#]*)', 1) AS path,
      |  CASE WHEN url LIKE '%?%'
      |    THEN regexp_extract(url, '\?(.*)$', 1) END AS query,
      |  CASE WHEN url LIKE '%?%'
      |    THEN regexp_extract(url, 'sid=([^&]*)', 1) END AS sid,
      |  'https' AS protocol
      |FROM u ORDER BY doc_id""".stripMargin

  /** XML function family: rows serialized to XML then pulled back out with
    * the xpath family (`xpath_string` / `xpath_long` / `xpath_boolean`) —
    * the round-trip proves the parse, and the oracle just projects the
    * original columns. Per-row projection, shuffle-free.
    */
  def xmlFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // a deterministic quarter of the corpus: Spark's xpath_* family
      // DOM-parses per evaluation through the JVM-global (lock-guarded)
      // javax.xml factories, so row count — not core count — is the cost;
      // the declared surface needs the functions, not the full corpus
      .filter(col("doc_id") % 4 === 0)
      .repartition(col("doc_id"))
      .withColumn("xml", concat(
        lit("<doc><id>"), col("doc_id"), lit("</id><lang>"), col("lang"),
        lit("</lang><n>"), col("n_chars"), lit("</n><src>"), col("source"),
        lit("</src></doc>")))
      .select(
        col("doc_id"),
        expr("xpath_long(xml, '/doc/id')").as("xml_id"),
        expr("xpath_string(xml, '/doc/lang')").as("xml_lang"),
        expr("xpath_long(xml, '/doc/n')").as("xml_n"),
        expr("xpath_boolean(xml, '/doc/src')").as("has_src"),
        expr("CAST(size(xpath(xml, '/doc/*')) AS BIGINT)").as("n_elems"))
      .orderBy("doc_id")

  private val xmlFuncsSql =
    """SELECT doc_id, doc_id AS xml_id, lang AS xml_lang, n_chars AS xml_n,
      |  true AS has_src, CAST(4 AS BIGINT) AS n_elems
      |FROM documents WHERE doc_id % 4 = 0 ORDER BY doc_id""".stripMargin

  /** VARIANT surface (Spark 4): `parse_json` to the semi-structured
    * VARIANT type, typed extraction via `variant_get` / `try_variant_get`
    * (the wrong-type probe returns NULL instead of failing). The output
    * schema is all plain scalars, so the oracle is ordinary JSON
    * extraction. Per-row projection, shuffle-free.
    */
  def variantFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("v", expr("parse_json(props)"))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.k', 'int')").as("k_int"),
        expr("variant_get(v, '$.k', 'string')").as("k_str"),
        expr("try_variant_get(v, '$.missing', 'int')").as("k_missing"),
        expr("is_variant_null(variant_get(v, '$.k'))").as("k_is_null"))
      .orderBy("event_id")

  private val variantFuncsSql =
    """SELECT event_id,
      |  CAST(props ->> '$.k' AS INT) AS k_int,
      |  CAST(CAST(props ->> '$.k' AS INT) AS VARCHAR) AS k_str,
      |  CAST(NULL AS INT) AS k_missing,
      |  false AS k_is_null
      |FROM events ORDER BY event_id""".stripMargin

  /** SCD type-2 history build — the warehouse pattern for tracking
    * attribute changes over time: each customer's order-status stream is
    * snapshotted at daily grain (last order of the day wins, by max
    * orderkey — so intervals are always well-formed), consecutive
    * duplicates are compressed away, and each surviving change becomes a
    * versioned row with [effective_from, effective_to] and an is_current
    * flag (open-ended NULL on the latest). Scale shape: one key-grain
    * aggregation plus two windows over the SAME per-customer partitioning
    * — a single shuffle reused by every step.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    scd2Frame(s, dir)
      .select(col("custkey"), col("version"), col("status"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("effective_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("effective_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("custkey", "version")

  /** The date-typed SCD2 frame behind [[scd2History]] — also the build
    * side of the point-in-time join ([[JoinQueries.pointInTimeJoin]]).
    * Columns: custkey, version, status, valid_from, valid_to (date; NULL
    * = current open row).
    */
  def scd2Frame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("custkey").orderBy("day")
    // one shuffle for the whole query: hash(custkey) satisfies the
    // clustering the (custkey, day) aggregation needs AND the per-custkey
    // windows' — so the daily snapshot, the change filter, and both
    // windows all reuse this single exchange (pinned in PlanSpec)
    val daily = Tables.orders(s, dir)
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey").as("custkey"),
        col("o_orderdate").cast("date").as("day"))
      .agg(expr("max_by(o_orderstatus, o_orderkey)").as("status"))
    daily
      .withColumn("prev_status", lag("status", 1).over(w))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("status"))
      .withColumn("version", row_number().over(w))
      .withColumn("next_from", lead("day", 1).over(w))
      .select(col("custkey"), col("version"), col("status"),
        col("day").as("valid_from"),
        date_sub(col("next_from"), 1).as("valid_to"))
  }

  private val scd2HistorySql =
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
      |), versioned AS (
      |  SELECT custkey, status, day,
      |    row_number() OVER w AS version,
      |    lead(day) OVER w AS next_from
      |  FROM changes WINDOW w AS (PARTITION BY custkey ORDER BY day))
      |SELECT custkey, CAST(version AS INT) AS version, status,
      |  strftime(day, '%Y-%m-%d') AS effective_from,
      |  strftime(next_from - INTERVAL 1 DAY, '%Y-%m-%d') AS effective_to,
      |  next_from IS NULL AS is_current
      |FROM versioned ORDER BY custkey, version""".stripMargin

  /** Join-key skew diagnostics — the profiling query a data engineer runs
    * BEFORE picking a join strategy at 100 TB: per-key group sizes for the
    * three hot join keys, reduced to the decision numbers (key count,
    * max/mean group size, p99, top-key share, skew ratio). A skew ratio
    * near 1 says plain shuffle join; a heavy tail says salt the key or
    * lean on AQE's skew split (both of which this engine pins elsewhere —
    * misc_salted_join / ScalePatternsSpec). Scale shape: one count
    * aggregation per key with map-side combine, then a scalar rollup of
    * the (much smaller) group-size frame — never wider than the key
    * cardinality.
    */
  def skewDiagnostics(s: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, key: String, label: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .agg(
          lit(label).as("join_key"),
          count(lit(1)).as("n_keys"),
          max("n").as("max_group"),
          round(avg(col("n").cast("double")), 4).as("avg_group"),
          round(expr("percentile(n, 0.99)"), 4).as("p99_group"),
          round(max("n") / sum("n").cast("double"), 6).as("top_key_share"),
          round(max("n") / avg(col("n").cast("double")), 4).as("skew_ratio"))
    profile(Tables.lineitem(s, dir), "l_orderkey", "lineitem.l_orderkey")
      .unionAll(profile(Tables.lineitem(s, dir), "l_suppkey", "lineitem.l_suppkey"))
      .unionAll(profile(Tables.orders(s, dir), "o_custkey", "orders.o_custkey"))
      .orderBy("join_key")
  }

  private val skewDiagnosticsSql = {
    def one(table: String, key: String) =
      s"""SELECT '$table.$key' AS join_key,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(max(n) AS BIGINT) AS max_group,
         |  round(avg(CAST(n AS DOUBLE)), 4) AS avg_group,
         |  round(quantile_cont(n, 0.99), 4) AS p99_group,
         |  round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_key_share,
         |  round(max(n) / avg(CAST(n AS DOUBLE)), 4) AS skew_ratio
         |FROM (SELECT $key, count(*) AS n FROM $table GROUP BY 1)""".stripMargin
    s"""${one("lineitem", "l_orderkey")}
       |UNION ALL
       |${one("lineitem", "l_suppkey")}
       |UNION ALL
       |${one("orders", "o_custkey")}
       |ORDER BY join_key""".stripMargin
  }

  /** Contiguous global row numbering WITHOUT a single-partition window —
    * the scalable replacement for `row_number() OVER (ORDER BY …)` (which
    * funnels 100 TB through one task) and for zipWithIndex (which is RDD
    * API). Three steps, all distributed: (1) order-preserving range
    * buckets (here doc_id div 64; in production a range partitioner's
    * sampled bounds), (2) per-bucket local row_number — windows over
    * small partitions, (3) cumulative bucket offsets — a window over the
    * BUCKET-COUNT frame only (one row per bucket), broadcast back. The
    * same decomposition `dedup_sorted_neighborhood` uses internally,
    * declared here as a first-class operator with the ORDER BY oracle.
    */
  def globalIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), (col("doc_id") / 64).cast("long").as("bucket"))
    val local = docs.withColumn("local_rank",
      row_number().over(Window.partitionBy("bucket").orderBy("doc_id")))
    val offsets = docs.groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum("n").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "offset")
    local.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("n_chars"),
        (col("offset") + col("local_rank") - 1).as("global_idx"))
      .orderBy("doc_id")
  }

  private val globalIndexSql =
    """SELECT doc_id, n_chars,
      |  row_number() OVER (ORDER BY doc_id) - 1 AS global_idx
      |FROM documents ORDER BY doc_id""".stripMargin

  /** `Dataset.observe` — pipeline health metrics collected as a SIDE
    * EFFECT of a pass the job is already making, the monitoring surface a
    * production ingest needs (the reference's consumer logs per-record
    * progress; this is the declarative equivalent). The metrics ride the
    * existing scan as an accumulator-backed aggregate — no second job, no
    * extra shuffle — and the terminal action is the `noop` sink (all the
    * I/O of a real write path, none of the output). The observed values
    * are then surfaced as a one-row frame so the oracle can check them
    * exactly: observe metrics are only trustworthy if they equal what a
    * dedicated aggregation would have computed.
    */
  def observeMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation("lineitem_ingest_health")
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
        SharedExprs.sumCents("l_extendedprice").as("price_mass"),
        min("ship_day").as("first_ship_day"),
        max("ship_day").as("last_ship_day"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long],
      m("n_returned").asInstanceOf[Long],
      m("price_mass").asInstanceOf[Double],
      m("first_ship_day").asInstanceOf[String],
      m("last_ship_day").asInstanceOf[String]))
      .toDF("n_rows", "n_returned", "price_mass", "first_ship_day", "last_ship_day")
  }

  private val observeMetricsSql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
      |  ${SharedExprs.dSumCentsSql("l_extendedprice")} AS price_mass,
      |  min(strftime(l_shipdate, '%Y-%m-%d')) AS first_ship_day,
      |  max(strftime(l_shipdate, '%Y-%m-%d')) AS last_ship_day
      |FROM lineitem""".stripMargin

  /** Z-order layout analyzer — the dry-run behind a `OPTIMIZE ... ZORDER
    * BY (part, supplier)` style rewrite: interleave the low 10 bits of
    * both keys into a single Morton key, cut it into up-to-256 layout
    * buckets (≙ output files), and report each bucket's min/max on BOTH
    * dimensions plus how much of a representative 2-dim box predicate the
    * resulting file-level stats would skip. On linear (single-key) sort
    * the second dimension's per-file range is the full domain — skip rate
    * ~0 on that axis; Morton buckets bound both, which is exactly why the
    * layout pays for itself at 100 TB scan time. The write path is
    * `repartitionByRange(zbucket) + sortWithinPartitions(z)` feeding
    * parquet min/max row-group stats; this query computes the decision
    * table (deterministic arithmetic only, so it is oracle-checkable —
    * the write itself is exercised by the src_* round-trips).
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val bits = 10
    val z = (0 until bits).map { i =>
      (shiftright(col("pk"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(col("sk"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
    Tables.lineitem(s, dir)
      .select((col("l_partkey") % 1024).as("pk"), (col("l_suppkey") % 1024).as("sk"))
      // integer floor-div: Column./ is double division and a bare cast
      // would also round on the oracle side — keep both engines on floor
      .withColumn("zbucket", floor(z / lit(1L << (2 * bits - 8))).cast("long"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"),
        min("pk").as("pk_min"), max("pk").as("pk_max"),
        min("sk").as("sk_min"), max("sk").as("sk_max"))
      // a file skips the box predicate pk∈[256,383] ∧ sk∈[50,99] when its
      // stats exclude either dimension — the parquet row-group rule. Both
      // sk bounds are off the domain edge so all four min/max comparisons
      // are live (sk ≥ 0 always, which made a 0 lower bound vacuous)
      .withColumn("skips_probe_box",
        col("pk_max") < 256 || col("pk_min") > 383 ||
          col("sk_max") < 50 || col("sk_min") > 99)
      .orderBy("zbucket")
  }

  private val zorderLayoutSql = {
    val zTerms = (0 until 10).map { i =>
      s"((pk >> $i) & 1) * ${1L << (2 * i)} + ((sk >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    s"""WITH keyed AS (
       |  SELECT l_partkey % 1024 AS pk, l_suppkey % 1024 AS sk FROM lineitem
       |), z AS (
       |  SELECT pk, sk, CAST(floor(($zTerms) / ${(1L << 12).toDouble}) AS BIGINT) AS zbucket FROM keyed)
       |SELECT zbucket, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(pk) AS pk_min, max(pk) AS pk_max,
       |  min(sk) AS sk_min, max(sk) AS sk_max,
       |  (max(pk) < 256 OR min(pk) > 383 OR max(sk) < 50 OR min(sk) > 99)
       |    AS skips_probe_box
       |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
  }

  /** `DataFrameStatFunctions.crosstab` — the contingency-table profiler
    * (status × priority here). Same Expand-based single pass as the pivot
    * query, exposed through the stat API; column count = distinct values
    * of the second key, so it is for dimension-cardinality pairs (the
    * profiler precondition, same as pivot's explicit value list).
    */
  def crosstabStatus(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .stat.crosstab("o_orderstatus", "o_orderpriority")
      .orderBy("o_orderstatus_o_orderpriority")

  private val crosstabStatusSql =
    """SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
      |  CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS "1-URGENT",
      |  CAST(count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS "2-HIGH",
      |  CAST(count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS "3-MEDIUM",
      |  CAST(count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS "4-NOT SPECIFIED",
      |  CAST(count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS "5-LOW"
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------------------------
  // Decision-tree split finder: the best quantity threshold for
  // predicting the return flag — THE inner-loop primitive of
  // distributed tree training (every boosted-tree library spends its
  // time exactly here), expressed as one value-collapsed pass. The
  // corpus-sized work is a single (quantity, class) count aggregate;
  // every candidate split is then a row of the ≤50-value frame with
  // per-class cumulative counts from 3 windows, and the weighted Gini
  // impurity n·G = (n_L² − Σc_L²)/n_L + (n_R² − Σc_R²)/n_R derives
  // from exact DECIMAL(38,0) squares (n² overflows BIGINT past ~3G
  // rows), cast to double with the identical op order on both engines,
  // so the argmin flag compares identical doubles (split value breaks
  // ties). Emits the full split table — the shape a tree trainer's
  // histogram exchange actually ships.
  // ------------------------------------------------------------------
  def giniSplit(s: SparkSession, dir: String): DataFrame = {
    val vc = Tables.lineitem(s, dir)
      .groupBy(expr("CAST(l_quantity AS BIGINT)").as("v"))
      .agg(
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cn"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"))
    val w = Window.orderBy("v")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = vc
      .withColumn("la", sum("ca").over(w)).withColumn("na", sum("ca").over(full))
      .withColumn("ln", sum("cn").over(w)).withColumn("nn", sum("cn").over(full))
      .withColumn("lr", sum("cr").over(w)).withColumn("nr", sum("cr").over(full))
      .withColumn("nl", col("la") + col("ln") + col("lr"))
      .withColumn("n", col("na") + col("nn") + col("nr"))
      .filter(col("nl") < col("n")) // a split must leave both sides non-empty
    def d38(e: String) = s"CAST($e AS DECIMAL(38,0))"
    def side(n: String, a: String, b: String, c: String) =
      s"(CAST(${d38(n)} * ${d38(n)} - (${d38(a)} * ${d38(a)} + ${d38(b)} * ${d38(b)}" +
        s" + ${d38(c)} * ${d38(c)}) AS DOUBLE) / CAST($n AS DOUBLE))"
    val scored = cum.withColumn("gw", expr(
      "(" + side("nl", "la", "ln", "lr") + " + " +
        side("(n - nl)", "(na - la)", "(nn - ln)", "(nr - lr)") + ") / CAST(n AS DOUBLE)"))
    scored
      .withColumn("best", min("gw").over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("v").as("split_at"), col("nl").as("n_left"),
        (col("n") - col("nl")).as("n_right"),
        round(col("gw"), 4).as("weighted_gini"),
        (col("gw") === col("best")).as("is_best"))
      .orderBy("split_at")
  }

  private val giniSplitSql = {
    def d38(e: String) = s"CAST($e AS HUGEINT)"
    def side(n: String, a: String, b: String, c: String) =
      s"(CAST(${d38(n)} * ${d38(n)} - (${d38(a)} * ${d38(a)} + ${d38(b)} * ${d38(b)}" +
        s" + ${d38(c)} * ${d38(c)}) AS DOUBLE) / CAST($n AS DOUBLE))"
    s"""WITH vc AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS v,
       |    CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT v,
       |    sum(ca) OVER (ORDER BY v) AS la, sum(ca) OVER () AS na,
       |    sum(cn) OVER (ORDER BY v) AS ln, sum(cn) OVER () AS nn,
       |    sum(cr) OVER (ORDER BY v) AS lr, sum(cr) OVER () AS nr
       |  FROM vc),
       |sides AS (
       |  SELECT v, la + ln + lr AS nl, na + nn + nr AS n,
       |    la, ln, lr, na, nn, nr
       |  FROM cum WHERE la + ln + lr < na + nn + nr),
       |scored AS (
       |  SELECT v, nl, n,
       |    (${side("nl", "la", "ln", "lr")} + ${side("(n - nl)", "(na - la)", "(nn - ln)", "(nr - lr)")})
       |      / CAST(n AS DOUBLE) AS gw
       |  FROM sides)
       |SELECT v AS split_at, CAST(nl AS BIGINT) AS n_left,
       |  CAST(n - nl AS BIGINT) AS n_right,
       |  round(gw, 4) AS weighted_gini,
       |  gw = min(gw) OVER () AS is_best
       |FROM scored ORDER BY split_at""".stripMargin
  }

  // ------------------------------------------------------------------
  // 2-D skyline (Pareto frontier): parts not dominated on (minimize
  // retail price, maximize size) — the multi-objective shortlist query
  // ("no other part is both cheaper and larger"). The textbook
  // dominance formulation is an O(n²) self-join; this is the sort-sweep
  // form: collapse to distinct (price, size) VALUE pairs first (price
  // domain is bounded, the repo's value-collapse discipline), order by
  // price, and a point is on the frontier iff its size strictly exceeds
  // the running max of every cheaper point — one window over the
  // collapsed frame, no pair join anywhere. Exact integer cents and
  // sizes end to end; ties (same price) keep only the largest size via
  // the collapse.
  // ------------------------------------------------------------------
  def skyline2d(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(s, dir)
      .select(expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_c"),
        col("p_size").cast("long").as("size"))
      .groupBy("price_c").agg(max("size").as("size"))
    val w = Window.orderBy("price_c")
      .rowsBetween(Window.unboundedPreceding, -1)
    pts
      .withColumn("prev_max", max("size").over(w))
      .filter(col("prev_max").isNull || col("size") > col("prev_max"))
      .select(round(expr("CAST(price_c AS DOUBLE) / 100.0"), 2).as("price"),
        col("size"))
      .orderBy("price")
  }

  private val skyline2dSql =
    """WITH pts AS (
      |  SELECT price_c, CAST(max(size) AS BIGINT) AS size FROM (
      |    SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
      |      CAST(p_size AS BIGINT) AS size
      |    FROM part)
      |  GROUP BY price_c),
      |sweep AS (
      |  SELECT price_c, size,
      |    max(size) OVER (ORDER BY price_c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM pts)
      |SELECT round(CAST(price_c AS DOUBLE) / 100.0, 2) AS price, size
      |FROM sweep
      |WHERE prev_max IS NULL OR size > prev_max
      |ORDER BY price""".stripMargin

  // ------------------------------------------------------------------
  // Equi-depth histogram construction (10 buckets over order totals) —
  // the ANALYZE-TABLE statistics primitive a cost-based optimizer feeds
  // on: bucket b spans ranks ((b−1)·n DIV 10, b·n DIV 10]. Built the
  // value-collapsed way: collapse to DISTINCT cent values with counts
  // first (price-domain-bounded — the corpus-sized pass is one
  // hash-agg), then ONE window walks the distinct values assigning each
  // to the bucket of its last rank. Exact integers end to end: rank
  // arithmetic is n·b DIV 10, bucket populations are count sums, and
  // boundaries are actual data values — no interpolation, no doubles
  // except display.
  // ------------------------------------------------------------------
  def histogramEquiDepth(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(s, dir)
      .groupBy(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .agg(count(lit(1)).as("cnt"))
    val tot = vals.agg(sum("cnt").as("n"))
    val w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    vals
      .withColumn("cum", sum("cnt").over(w))
      .crossJoin(broadcast(tot))
      // bucket of a value = bucket of its LAST occupied rank: the smallest
      // b with cum ≤ b·n DIV 10 — ceil-style integer search via (10·cum +
      // n − 1) DIV n clamps ties onto the same boundary both engines use
      .withColumn("bucket", expr("least(CAST((10 * cum + n - 1) DIV n AS BIGINT), 10L)"))
      .groupBy("bucket")
      .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_distinct"),
        min("cents").as("locents"), max("cents").as("hicents"))
      .select(col("bucket"), col("n_rows"), col("n_distinct"),
        round(expr("CAST(locents AS DOUBLE) / 100.0"), 2).as("lo"),
        round(expr("CAST(hicents AS DOUBLE) / 100.0"), 2).as("hi"))
      .orderBy("bucket")
  }

  private val histogramEquiDepthSql =
    """WITH vals AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vals),
      |cum AS (
      |  SELECT cents, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM vals),
      |bkt AS (
      |  SELECT cents, cnt,
      |    least(CAST((10 * cum + n - 1) // n AS BIGINT), 10) AS bucket
      |  FROM cum, tot)
      |SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  round(CAST(min(cents) AS DOUBLE) / 100.0, 2) AS lo,
      |  round(CAST(max(cents) AS DOUBLE) / 100.0, 2) AS hi
      |FROM bkt GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Referential-integrity audit — the data-quality sweep a warehouse
    * runs before trusting a snapshot: orphan counts across the four FK
    * edges (lineitem→orders, lineitem→part, lineitem→supplier,
    * orders→customer), null-FK counts, and duplicate-primary-key counts
    * on both fact PKs. One row per check with the checked population, so
    * a clean snapshot still pins every edge's row count (the audit's
    * value is the zeros being PROVEN zeros, not assumed). Scale shape:
    * each orphan check is a left-anti join on the FK (broadcast for the
    * dim-sized sides, shuffled-keyed for fact-fact), each dup check one
    * hash-agg; checks are independent 1-row aggregates unioned at the
    * end — nothing global, nothing quadratic.
    */
  def integrityAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    def one(name: String, violations: DataFrame, checked: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("n_violations"))
        .crossJoin(checked.agg(count(lit(1)).as("n_checked")))
        .select(lit(name).as("check_name"), col("n_violations"), col("n_checked"))
    val checks = Seq(
      one("lineitem_orphan_orderkey",
        li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti"), li),
      one("lineitem_orphan_partkey",
        li.join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"),
          "left_anti"), li),
      one("lineitem_orphan_suppkey",
        li.join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"),
          "left_anti"), li),
      one("orders_orphan_custkey",
        o.join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"),
          "left_anti"), o),
      one("orders_null_custkey", o.filter(col("o_custkey").isNull), o),
      one("orders_dup_orderkey",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("c")).filter(col("c") > 1), o),
      one("lineitem_dup_pk",
        li.groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1), li))
    checks.reduce(_ unionByName _).orderBy("check_name")
  }

  private val integrityAuditSql =
    """WITH checks AS (
      |  SELECT 'lineitem_orphan_orderkey' AS check_name,
      |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
      |    (SELECT count(*) FROM lineitem) AS n_checked
      |  UNION ALL
      |  SELECT 'lineitem_orphan_partkey',
      |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
      |    (SELECT count(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'lineitem_orphan_suppkey',
      |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
      |    (SELECT count(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'orders_orphan_custkey',
      |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |    (SELECT count(*) FROM orders)
      |  UNION ALL
      |  SELECT 'orders_null_custkey',
      |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
      |    (SELECT count(*) FROM orders)
      |  UNION ALL
      |  SELECT 'orders_dup_orderkey',
      |    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |       GROUP BY 1 HAVING count(*) > 1)),
      |    (SELECT count(*) FROM orders)
      |  UNION ALL
      |  SELECT 'lineitem_dup_pk',
      |    (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      |       GROUP BY 1, 2 HAVING count(*) > 1)),
      |    (SELECT count(*) FROM lineitem))
      |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
      |  CAST(n_checked AS BIGINT) AS n_checked
      |FROM checks ORDER BY check_name""".stripMargin

  /** Business-day arithmetic — weekday-only order-to-ship latency, the
    * SLA metric fulfilment reporting actually uses (calendar datediff
    * overstates latency across weekends). No per-day explode: the
    * weekday count uses the closed form W(d) = 5·(n div 7) +
    * least(n mod 7, 5) with n = days since a fixed Monday epoch
    * (1990-01-01) + 1 — W counts weekdays in [epoch, d], so the latency
    * is W(ship) − W(order), exact integer arithmetic identical in both
    * engines (all fixture dates are after the epoch, so div/mod stay
    * non-negative). Per order-month census over the exact per-line
    * business-day counts. Scale shape: one orderkey join + one
    * month-keyed hash-agg.
    */
  def businessDays(s: SparkSession, dir: String): DataFrame = {
    def wd(dcol: String): String =
      s"""(5 * ((datediff($dcol, DATE'1990-01-01') + 1) div 7)
         | + least((datediff($dcol, DATE'1990-01-01') + 1) % 7, 5))""".stripMargin
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(
        date_format(col("o_orderdate").cast("date"), "yyyy-MM").as("order_month"),
        (expr(wd("CAST(l_shipdate AS DATE)")) - expr(wd("CAST(o_orderdate AS DATE)")))
          .cast("long").as("bd"))
      .groupBy("order_month")
      .agg(count(lit(1)).as("n_lines"),
        sum("bd").as("bd_total"),
        max("bd").cast("long").as("max_bd"))
      .select(col("order_month"), col("n_lines"),
        round(col("bd_total").cast("double") / col("n_lines").cast("double"), 4)
          .as("avg_business_days"),
        col("max_bd"))
      .orderBy("order_month")
  }

  private val businessDaysSql = {
    val wd = (d: String) =>
      s"""(5 * ((date_diff('day', DATE '1990-01-01', $d) + 1) // 7)
         | + least((date_diff('day', DATE '1990-01-01', $d) + 1) % 7, 5))""".stripMargin
    s"""WITH b AS (
       |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
       |    ${wd("CAST(l_shipdate AS DATE)")} - ${wd("CAST(o_orderdate AS DATE)")} AS bd
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       |SELECT order_month, CAST(count(*) AS BIGINT) AS n_lines,
       |  round(CAST(sum(bd) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS avg_business_days,
       |  CAST(max(bd) AS BIGINT) AS max_bd
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("misc_business_days", businessDays, Some(businessDaysSql)),
    QueryDef("misc_integrity_audit", integrityAudit, Some(integrityAuditSql)),
    QueryDef("misc_histogram_equi_depth", histogramEquiDepth,
      Some(histogramEquiDepthSql)),
    QueryDef("misc_skyline_2d", skyline2d, Some(skyline2dSql)),
    QueryDef("misc_gini_split", giniSplit, Some(giniSplitSql)),
    QueryDef("misc_crosstab", crosstabStatus, Some(crosstabStatusSql)),
    QueryDef("misc_observe_metrics", observeMetrics, Some(observeMetricsSql)),
    QueryDef("misc_zorder_layout", zorderLayout, Some(zorderLayoutSql)),
    QueryDef("misc_global_index", globalIndex, Some(globalIndexSql)),
    QueryDef("misc_skew_diagnostics", skewDiagnostics, Some(skewDiagnosticsSql)),
    QueryDef("misc_scd2_history", scd2History, Some(scd2HistorySql)),
    QueryDef("misc_url_funcs", urlFuncs, Some(urlFuncsSql)),
    QueryDef("misc_xml_funcs", xmlFuncs, Some(xmlFuncsSql)),
    QueryDef("misc_variant_funcs", variantFuncs, Some(variantFuncsSql)),
    QueryDef("misc_merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    QueryDef("misc_generator_funcs", generatorFuncs, Some(generatorFuncsSql)),
    QueryDef("misc_salted_join", saltedJoin, Some(saltedJoinSql)),
    QueryDef("misc_struct_funcs", structFuncs, Some(structFuncsSql)),
    QueryDef("misc_pivot_status", pivotStatus, Some(pivotStatusSql)),
    QueryDef("misc_unpivot_metrics", unpivotMetrics, Some(unpivotMetricsSql)),
    QueryDef("misc_udf_token_ratio", udfTokenRatio, Some(udfTokenRatioSql)),
    QueryDef("misc_try_funcs", tryFuncs, Some(tryFuncsSql)),
    QueryDef("misc_bit_funcs", bitFuncs, Some(bitFuncsSql)),
    QueryDef("misc_repartition_agg", repartitionAgg, Some(repartitionAggSql))
  )
}
