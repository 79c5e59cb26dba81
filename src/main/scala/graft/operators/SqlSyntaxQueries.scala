package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Modern SQL-surface features beyond the classic SELECT shape: the Spark 4
  * operator pipe syntax (`|>`) and lateral column aliases. Both are parser /
  * analyzer features — they lower onto exactly the same Catalyst logical
  * plans as the classic form, so the 100 TB story (pushdown, pruning,
  * whole-stage codegen) is identical; the declared queries pin that the
  * lowering is value-identical to the ANSI equivalent the oracle runs.
  */
object SqlSyntaxQueries extends QueryModule {

  private def sql(s: SparkSession, dir: String, q: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(q)
  }

  /** SQL pipe syntax (SIGMOD'24 "Pipe Syntax in SQL", shipped in Spark
    * 4.0): each `|>` stage is one relational operator applied top-down.
    * EXTEND adds a computed column (the pipe analogue of a lateral alias),
    * AGGREGATE ... GROUP BY emits grouping keys then aggregates. The plan
    * is the same Filter→Project→Aggregate→Sort chain as the ANSI form —
    * pushdown and codegen are unaffected.
    */
  private def pipeSyntax(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      s"""FROM lineitem
        ||> WHERE l_shipdate >= TIMESTAMP'1995-01-01 00:00:00'
        ||> EXTEND l_extendedprice * (1 - l_discount) AS net
        ||> AGGREGATE count(*) AS n_items, ${SharedExprs.sumCentsSql("net")} AS revenue
        |   GROUP BY l_returnflag
        ||> ORDER BY l_returnflag""".stripMargin)

  private val pipeSyntaxSql =
    s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
      |  ${SharedExprs.dSumCentsSql("l_extendedprice * (1 - l_discount)")} AS revenue
      |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Lateral column aliases (Spark 3.4+): a SELECT item referencing a
    * sibling alias defined earlier in the same list. The analyzer expands
    * the reference into a nested Project — no re-evaluation of the source
    * expression per reference. DuckDB supports the same feature natively,
    * so the oracle is written in the identical shape.
    */
  private def lateralAlias(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) * 12 AS qty_dozen,
        |  qty_dozen * qty_dozen + l_linenumber AS chained,
        |  CAST(chained > 250000 AS BOOLEAN) AS big_item
        |FROM lineitem WHERE l_orderkey % 1000 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  // integer-valued arithmetic end to end: multiplicative math on 2-dp
  // doubles lands on engine-divergent .xx5 rounding boundaries (the
  // misc_merge_upsert lesson), so the alias chain demos on exact values
  private val lateralAliasSql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(l_quantity AS BIGINT) * 12 AS qty_dozen,
      |  qty_dozen * qty_dozen + l_linenumber AS chained,
      |  chained > 250000 AS big_item
      |FROM lineitem WHERE l_orderkey % 1000 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Recursive CTE (Spark 4.x `WITH RECURSIVE`): iteration whose DEPTH is
    * data-dependent — the class of computation the unrolled-loop queries
    * (pagerank's 5 fixed iterations) cannot express. The demo is an
    * amortization walk: every 500th order's balance halves per step until
    * it drops under 100, so each key recurses to its own depth. Engine
    * execution is iterative union: each step is one distributed
    * self-project of the previous frontier — no driver loop; the frontier
    * shrinks monotonically because the recursion predicate is strictly
    * decreasing. Halving doubles is EXACT binary arithmetic, so both
    * engines agree bit-for-bit at every depth.
    */
  private def recursiveCte(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """WITH RECURSIVE amort(o_orderkey, balance, step) AS (
        |  SELECT o_orderkey, o_totalprice, 0
        |  FROM orders WHERE o_orderkey % 500 = 0
        |  UNION ALL
        |  SELECT o_orderkey, balance / 2, step + 1
        |  FROM amort WHERE balance >= 100.0)
        |SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_steps,
        |  round(min(balance), 4) AS final_balance
        |FROM amort GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)

  private val recursiveCteSql =
    """WITH RECURSIVE amort(o_orderkey, balance, step) AS (
      |  SELECT o_orderkey, o_totalprice, 0
      |  FROM orders WHERE o_orderkey % 500 = 0
      |  UNION ALL
      |  SELECT o_orderkey, balance / 2, step + 1
      |  FROM amort WHERE balance >= 100.0)
      |SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_steps,
      |  round(min(balance), 4) AS final_balance
      |FROM amort GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** SQL-defined functions (Spark 4.x `CREATE FUNCTION ... RETURN`): a
    * scalar UDF and a table UDF authored IN SQL — unlike JVM UDFs these
    * are macro-expanded into the plan by the analyzer, so they stay inside
    * whole-stage codegen and keep pushdown/pruning intact (the UDF escape
    * hatch without the UDF tax). The oracle inlines both bodies, which is
    * exactly what the analyzer does.
    */
  private def sqlFunctions(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION acct_tier(bal DOUBLE)
            |RETURNS STRING
            |RETURN CASE WHEN bal < 0 THEN 'debt'
            |            WHEN bal < 5000 THEN 'mid' ELSE 'prime' END""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION nation_customers(nk BIGINT)
            |RETURNS TABLE(c_custkey BIGINT, c_acctbal DOUBLE)
            |RETURN SELECT c_custkey, c_acctbal FROM customer
            |       WHERE c_nationkey = nk""".stripMargin)
    s.sql("""SELECT acct_tier(c_acctbal) AS tier,
            |  CAST(count(*) AS BIGINT) AS n_customers,
            |  round(sum(c_acctbal), 2) AS tier_balance
            |FROM nation_customers(7)
            |GROUP BY tier ORDER BY tier""".stripMargin)
  }

  private val sqlFunctionsSql =
    """SELECT CASE WHEN c_acctbal < 0 THEN 'debt'
      |            WHEN c_acctbal < 5000 THEN 'mid' ELSE 'prime' END AS tier,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  round(sum(c_acctbal), 2) AS tier_balance
      |FROM customer WHERE c_nationkey = 7
      |GROUP BY tier ORDER BY tier""".stripMargin

  /** Session variables (Spark 4.x `DECLARE VARIABLE` / `SET VARIABLE`):
    * the parameterization surface for templated jobs — constants resolved
    * at analysis time, so the variable reference constant-folds and the
    * filter still pushes down to the scan. The oracle inlines the values.
    */
  private def sessionVariables(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql("DECLARE OR REPLACE VARIABLE min_price DOUBLE DEFAULT 0.0")
    s.sql("DECLARE OR REPLACE VARIABLE status_of_interest STRING")
    s.sql("SET VARIABLE min_price = 150000.0")
    s.sql("SET VARIABLE status_of_interest = 'O'")
    s.sql("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
            |  round(sum(o_totalprice), 2) AS total_price
            |FROM orders
            |WHERE o_totalprice >= min_price AND o_orderstatus = status_of_interest
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  private val sessionVariablesSql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'O'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** `IDENTIFIER()` templating (Spark 4) + `GROUP BY ALL` / `ORDER BY
    * ALL`: table and column names injected from session variables as
    * IDENTIFIERS, not string-spliced SQL — the injection-safe way to
    * write one parameterized job that runs across many tables. Resolution
    * happens in the analyzer, so the resulting plan is byte-identical to
    * the literal query (pushdown, pruning, codegen all unchanged).
    */
  private def identifierTemplating(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql("DECLARE OR REPLACE VARIABLE tpl_table STRING DEFAULT 'orders'")
    s.sql("DECLARE OR REPLACE VARIABLE tpl_key STRING DEFAULT 'o_orderstatus'")
    s.sql("DECLARE OR REPLACE VARIABLE tpl_measure STRING DEFAULT 'o_totalprice'")
    s.sql(
      """SELECT IDENTIFIER(tpl_key) AS grp,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(IDENTIFIER(tpl_measure)), 2) AS total
        |FROM IDENTIFIER(tpl_table)
        |GROUP BY ALL ORDER BY ALL""".stripMargin)
  }

  private val identifierTemplatingSql =
    """SELECT o_orderstatus AS grp, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin

  /** GROUP BY ALL (Spark 3.4+ / DuckDB): the grouping key is inferred as
    * every non-aggregate SELECT item — both engines run the literal same
    * statement, so the oracle IS the query.
    */
  private def groupByAll(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  private val groupByAllSql =
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY ALL
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Named WINDOW clause: two frames share one PARTITION/ORDER definition,
    * which the planner recognizes as a single sort — the SQL-surface twin
    * of the "both windows ride one partitioning" plan discipline. The
    * running sum is on integer cents so the frame-by-frame accumulation is
    * exact in both engines.
    *
    * Output types are pinned on BOTH sides (r7's only red gate lived here):
    * `rk` is INT — Spark's rank() is IntegerType, so the oracle casts down
    * to match — and `run_spend` is DOUBLE — Spark's BIGINT / 100.0 (a
    * decimal literal) otherwise yields DECIMAL(24,2), which hash-diverges
    * from the oracle's DOUBLE even though every value prints identically.
    * The r7 driver fail was the decimal, not the rank width: the driver
    * passed int64-vs-int32 on src_json_roundtrip the same round. The local
    * gate (tools/check.py) is now dtype-strict on both, a superset of the
    * driver's sensitivity.
    */
  private def windowClause(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT o_custkey, o_orderkey, rank() OVER w AS rk,
        |  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w2
        |    AS DOUBLE) / 100.0, 2) AS run_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey LIMIT 500""".stripMargin)

  private val windowClauseSql =
    """SELECT o_custkey, o_orderkey, CAST(rank() OVER w AS INT) AS rk,
      |  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w2
      |    AS DOUBLE) / 100.0, 2) AS run_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey LIMIT 500""".stripMargin

  /** Star-EXCEPT projection + LIMIT/OFFSET pagination (both Spark 4
    * parser surface): `SELECT * EXCEPT (cols)` keeps a wide-table
    * projection maintainable when one column must be dropped (the
    * blob/PII column pattern), and OFFSET is keyset-free pagination.
    * Column pruning still applies — the excluded column never reaches
    * the scan. DuckDB spells the same star modifier EXCLUDE, so the
    * oracle is the identical shape under its dialect.
    */
  def starExceptOffset(s: SparkSession, dir: String): DataFrame =
    sql(s, dir,
      """SELECT * EXCEPT (c_acctbal, c_name) FROM customer
        |ORDER BY c_custkey LIMIT 10 OFFSET 5""".stripMargin)

  private val starExceptOffsetSql =
    """SELECT * EXCLUDE (c_acctbal, c_name) FROM customer
      |ORDER BY c_custkey LIMIT 10 OFFSET 5""".stripMargin

  /** Named parameter markers (Spark 3.4+ `spark.sql(query, args)`): the
    * SQL-injection-safe way to template a query over runtime values — the
    * parameters bind as LITERALS in the parsed plan (foldable, so
    * constant-folding and pushdown see the value, unlike a genuinely
    * late-bound variable), and a marker can never splice syntax. The
    * oracle inlines the same literals, which is exactly the semantics the
    * binding guarantees.
    */
  private def parameterMarkers(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= CAST(:lo AS TIMESTAMP)
        |  AND o_orderdate < CAST(:hi AS TIMESTAMP)
        |  AND o_orderstatus = :status
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      Map("lo" -> "1995-01-01", "hi" -> "1996-01-01", "status" -> "F"))
  }

  private val parameterMarkersSql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderdate >= CAST('1995-01-01' AS TIMESTAMP)
      |  AND o_orderdate < CAST('1996-01-01' AS TIMESTAMP)
      |  AND o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** EXECUTE IMMEDIATE (Spark 4.0): dynamic SQL executed from a string
    * expression with USING parameter binding — the stored-procedure-style
    * escape hatch for query text assembled at runtime (a BI tool's saved
    * query, a metadata-driven report). The inner text binds `?` markers
    * positionally from session variables; same literal-binding semantics
    * as [[parameterMarkers]].
    */
  private def execImmediate(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql("DECLARE OR REPLACE VARIABLE seg STRING")
    s.sql("SET VAR seg = 'BUILDING'")
    s.sql(
      """EXECUTE IMMEDIATE
        |  'SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |     round(sum(c_acctbal), 2) AS total_balance
        |   FROM customer WHERE c_mktsegment = ?
        |   GROUP BY c_nationkey ORDER BY c_nationkey'
        |  USING seg""".stripMargin)
  }

  private val execImmediateSql =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
      |  round(sum(c_acctbal), 2) AS total_balance
      |FROM customer WHERE c_mktsegment = 'BUILDING'
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("sql_parameter_markers", parameterMarkers, Some(parameterMarkersSql)),
    QueryDef("sql_exec_immediate", execImmediate, Some(execImmediateSql)),
    QueryDef("sql_star_except_offset", starExceptOffset, Some(starExceptOffsetSql)),
    QueryDef("sql_group_by_all", groupByAll, Some(groupByAllSql)),
    QueryDef("sql_window_clause", windowClause, Some(windowClauseSql)),
    QueryDef("sql_identifier_templating", identifierTemplating,
      Some(identifierTemplatingSql)),
    QueryDef("sql_pipe_syntax", pipeSyntax, Some(pipeSyntaxSql)),
    QueryDef("sql_lateral_alias", lateralAlias, Some(lateralAliasSql)),
    QueryDef("sql_recursive_cte", recursiveCte, Some(recursiveCteSql)),
    QueryDef("sql_create_function", sqlFunctions, Some(sqlFunctionsSql)),
    QueryDef("sql_session_variables", sessionVariables, Some(sessionVariablesSql))
  )
}
