package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sort / limit / set operators (SURVEY.md §2 Part B "Sort / limit / set ops").
  *
  * Limits ride on unique total orders so the selected set is deterministic;
  * Catalyst plans orderBy+limit as TakeOrderedAndProject (per-partition
  * top-k + driver merge — no global sort). Set ops are shuffles on the full
  * row; EXCEPT/INTERSECT ALL preserve multiset counts.
  */
object SetOpQueries extends QueryModule {

  /** Multi-key global sort with explicit null placement (nulls synthesized
    * via nullif so the fixture's non-null data still exercises the path).
    */
  def sortNulls(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(asc_nulls_first("seg_or_null"), desc("acctbal"), asc("c_custkey"))

  private val sortNullsSql =
    """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
      |  round(c_acctbal, 2) AS acctbal
      |FROM customer
      |ORDER BY seg_or_null ASC NULLS FIRST, acctbal DESC, c_custkey ASC""".stripMargin

  /** Top-k: orderBy + limit → TakeOrderedAndProject. */
  def topOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(desc("price"), asc("o_orderkey"))
      .limit(10)

  private val topOrdersSql =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders ORDER BY price DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** UNION (distinct): nation keys present in either segment. */
  def unionSegNations(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val a = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_nationkey"))
    val b = c.filter(col("c_mktsegment") === "FURNITURE").select(col("c_nationkey"))
    a.union(b).distinct().orderBy("c_nationkey")
  }

  private val unionSegNationsSql =
    """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |UNION
      |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'FURNITURE'
      |ORDER BY c_nationkey""".stripMargin

  /** UNION ALL keeps duplicates: count per nation across both branches. */
  def unionAllCounts(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val a = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_nationkey"))
    val b = c.filter(col("c_mktsegment") === "FURNITURE").select(col("c_nationkey"))
    a.unionAll(b).groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  private val unionAllCountsSql =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |  UNION ALL
      |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'FURNITURE'
      |) GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** INTERSECT: customers in one segment who also have open orders. */
  def intersectCustkeys(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(s, dir).filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey").as("custkey"))
    val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    a.intersect(b).orderBy("custkey")
  }

  private val intersectCustkeysSql =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY custkey""".stripMargin

  /** EXCEPT (distinct): machinery customers with no open order. */
  def exceptCustkeys(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(s, dir).filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey").as("custkey"))
    val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    a.except(b).orderBy("custkey")
  }

  private val exceptCustkeysSql =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY custkey""".stripMargin

  /** INTERSECT ALL (multiset): part keys shipped in both years, with
    * multiplicity preserved; folded to counts to keep output bounded.
    */
  def intersectAllParts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val y1 = li.filter(year(col("l_shipdate")) === 1998).select(col("l_partkey"))
    val y2 = li.filter(year(col("l_shipdate")) === 1999).select(col("l_partkey"))
    y1.intersectAll(y2).groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .orderBy("l_partkey")
  }

  private val intersectAllPartsSql =
    """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1998
      |  INTERSECT ALL
      |  SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1999
      |) GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  /** EXCEPT ALL (multiset difference), folded to counts. */
  def exceptAllParts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val y1 = li.filter(year(col("l_shipdate")) === 1998).select(col("l_partkey"))
    val y2 = li.filter(year(col("l_shipdate")) === 1999).select(col("l_partkey"))
    y1.exceptAll(y2).groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .orderBy("l_partkey")
  }

  private val exceptAllPartsSql =
    """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1998
      |  EXCEPT ALL
      |  SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1999
      |) GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  /** DISTINCT via dropDuplicates on a column subset (keys only, so the
    * result is the same as DISTINCT and fully deterministic).
    */
  def distinctFlagStatus(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus")
      .dropDuplicates("l_returnflag", "l_linestatus")
      .orderBy("l_returnflag", "l_linestatus")

  private val distinctFlagStatusSql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** unionByName: columns matched by name across differently-ordered
    * projections (schema evolution path).
    */
  def unionByNameSpend(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"), round(col("o_totalprice"), 2).as("spend"))
    val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
      .select(round(col("o_totalprice"), 2).as("spend"), col("o_custkey").as("custkey"))
    a.unionByName(b).groupBy("custkey")
      .agg(SharedExprs.sumCents("spend").as("total_spend"), count(lit(1)).as("n"))
      .orderBy("custkey")
  }

  private val unionByNameSpendSql =
    s"""SELECT custkey, ${SharedExprs.dSumCentsSql("spend")} AS total_spend, CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT o_custkey AS custkey, round(o_totalprice, 2) AS spend FROM orders
      |  WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT o_custkey AS custkey, round(o_totalprice, 2) AS spend FROM orders
      |  WHERE o_orderstatus = 'P'
      |) GROUP BY custkey ORDER BY custkey""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("sort_multikey_nulls", sortNulls, Some(sortNullsSql)),
    QueryDef("limit_top_orders", topOrders, Some(topOrdersSql)),
    QueryDef("set_union_seg_nations", unionSegNations, Some(unionSegNationsSql)),
    QueryDef("set_union_all_counts", unionAllCounts, Some(unionAllCountsSql)),
    QueryDef("set_intersect_custkeys", intersectCustkeys, Some(intersectCustkeysSql)),
    QueryDef("set_except_custkeys", exceptCustkeys, Some(exceptCustkeysSql)),
    QueryDef("set_intersect_all_parts", intersectAllParts, Some(intersectAllPartsSql)),
    QueryDef("set_except_all_parts", exceptAllParts, Some(exceptAllPartsSql)),
    QueryDef("set_distinct_flag_status", distinctFlagStatus, Some(distinctFlagStatusSql)),
    QueryDef("set_union_by_name_spend", unionByNameSpend, Some(unionByNameSpendSql))
  )
}
