package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed-Dataset row models (SURVEY.md §1.3: "typed Dataset[T] facades"). */
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_totalprice: Double,
    o_orderstatus: String)
case class EventRow2(event_id: Long, user_id: Long, value: Double)
case class OrderCents(status: String, cents: Long)
case class SpendStats(n: Long, cents: Long, min_cents: Long, max_cents: Long)

/** Typed Dataset surface: compile-time-checked filter/map pipelines,
  * groupByKey + reduceGroups, and cogroup. These compile to the same
  * Catalyst plans as the untyped forms (deserialization happens only at
  * the lambda boundaries), so the oracle is plain SQL.
  */
object TypedQueries extends QueryModule {

  /** filter → map → groupByKey → reduceGroups, fully typed. The total is
    * summed as integer micros ([[SharedExprs.microsSql]]'s rounding, on
    * the JVM), so it does not depend on the order of the reduction.
    */
  def typedPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .as[OrderRow]
      .filter(_.o_totalprice > 100000)
      .map(o => (o.o_orderstatus, math.round(o.o_totalprice * 0.9 * 1e6), 1L))
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, a._2 + b._2, a._3 + b._3))
      .map { case (status, (_, total, n)) => (status, total, n) }
      .toDF("status", "micros", "n")
      .select(col("status"), SharedExprs.roundCents(col("micros") / 1e6).as("discounted_total"), col("n"))
      .orderBy("status")
  }

  private val typedPipelineSql =
    s"""SELECT o_orderstatus AS status,
      |  ${SharedExprs.dSumCentsSql("o_totalprice * 0.9")} AS discounted_total,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM orders WHERE o_totalprice > 100000
      |GROUP BY o_orderstatus ORDER BY status""".stripMargin

  /** cogroup: per-entity merge of two differently-shaped datasets (orders
    * by customer, events by user) without materializing a join — each key's
    * two iterators are folded in one pass.
    */
  def typedCogroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .as[OrderRow]
      .groupByKey(_.o_custkey)
    val events = Tables.events(s, dir)
      .select("event_id", "user_id", "value")
      .as[EventRow2]
      .groupByKey(_.user_id)
    orders.cogroup(events) { (key, os, es) =>
      val (nOrders, spend) = os.foldLeft((0L, 0.0)) { case ((n, t), o) => (n + 1, t + o.o_totalprice) }
      val nEvents = es.size.toLong
      Iterator((key, nOrders, spend, nEvents))
    }
      .toDF("entity_id", "n_orders", "spend", "n_events")
      .select(col("entity_id"), col("n_orders"), round(col("spend"), 2).as("spend"),
        col("n_events"))
      .orderBy("entity_id")
  }

  private val typedCogroupSql =
    """SELECT coalesce(o.k, e.k) AS entity_id,
      |  coalesce(o.n_orders, 0) AS n_orders,
      |  round(coalesce(o.spend, 0), 2) AS spend,
      |  coalesce(e.n_events, 0) AS n_events
      |FROM (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders,
      |        sum(o_totalprice) AS spend FROM orders GROUP BY 1) o
      |FULL JOIN (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_events
      |        FROM events GROUP BY 1) e
      |  ON o.k = e.k
      |ORDER BY entity_id""".stripMargin

  /** Custom typed [[org.apache.spark.sql.expressions.Aggregator]] — the
    * type-safe UDAF surface: a compile-time-checked (zero/reduce/merge/
    * finish) aggregation with product encoders, registered per group via
    * `KeyValueGroupedDataset.agg(toColumn)`. The input rows pre-project
    * price to EXACT cents (the SQL-semantics round happens in Catalyst,
    * before the typed boundary), so the aggregator's state is pure
    * integer arithmetic — merge-order-free, hence deterministic under any
    * partial-aggregation schedule, which is exactly the property a
    * production Aggregator must have. The oracle is the plain SQL
    * aggregate over the same cents.
    */
  def typedAggregator(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.expressions.Aggregator
    object SpendAgg extends Aggregator[OrderCents, SpendStats, SpendStats] {
      def zero: SpendStats = SpendStats(0L, 0L, Long.MaxValue, Long.MinValue)
      def reduce(b: SpendStats, a: OrderCents): SpendStats =
        SpendStats(b.n + 1, b.cents + a.cents,
          math.min(b.min_cents, a.cents), math.max(b.max_cents, a.cents))
      def merge(x: SpendStats, y: SpendStats): SpendStats =
        SpendStats(x.n + y.n, x.cents + y.cents,
          math.min(x.min_cents, y.min_cents), math.max(x.max_cents, y.max_cents))
      def finish(r: SpendStats): SpendStats = r
      def bufferEncoder: Encoder[SpendStats] = Encoders.product[SpendStats]
      def outputEncoder: Encoder[SpendStats] = Encoders.product[SpendStats]
    }
    Tables.orders(s, dir)
      .select(col("o_orderstatus").as("status"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .as[OrderCents]
      .groupByKey(_.status)
      .agg(SpendAgg.toColumn.name("stats"))
      .map { case (status, st) =>
        (status, st.n, st.cents, st.min_cents, st.max_cents)
      }
      .toDF("status", "n_orders", "cents", "min_cents", "max_cents")
      .select(col("status"), col("n_orders"),
        round(col("cents") / 100.0, 2).as("total_price"),
        round(col("min_cents") / 100.0, 2).as("min_price"),
        round(col("max_cents") / 100.0, 2).as("max_price"))
      .orderBy("status")
  }

  private val typedAggregatorSql =
    """WITH c AS (
      |  SELECT o_orderstatus AS status,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(cents) / 100.0, 2) AS total_price,
      |  round(min(cents) / 100.0, 2) AS min_price,
      |  round(max(cents) / 100.0, 2) AS max_price
      |FROM c GROUP BY status ORDER BY status""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("typed_pipeline", typedPipeline, Some(typedPipelineSql)),
    QueryDef("typed_cogroup", typedCogroup, Some(typedCogroupSql)),
    QueryDef("typed_custom_aggregator", typedAggregator, Some(typedAggregatorSql))
  )
}
