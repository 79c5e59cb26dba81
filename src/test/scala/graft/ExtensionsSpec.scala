package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: injected functions resolve in SQL, the
  * SimplifySelfCosine optimizer rule rewrites self-similarity without
  * changing results, and a stream's batch timestamp stays out of its
  * generated code.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.session("local[2]", "graft-ext-test")

  test("injected functions resolve without manual registration") {
    import spark.implicits._
    val df = Seq((Seq(1f, 2f), Seq(2f, 4f))).toDF("a", "b")
    df.createOrReplaceTempView("ext_vecs")
    val cos = spark.sql("SELECT cosine_sim(a, b) c FROM ext_vecs").as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12) // colinear vectors
    val dot = spark.sql("SELECT dot_product(a, b) d FROM ext_vecs").as[Double].head()
    assert(math.abs(dot - 10.0) < 1e-12)
  }

  test("SimplifySelfCosine rewrites cosine_sim(x, x) and preserves values") {
    import spark.implicits._
    // range (not a literal LocalRelation) so the optimizer can't just
    // constant-fold the whole projection away
    val df = spark.range(3).select(
      expr("transform(sequence(0, 2), i -> CAST(id * i AS FLOAT))").as("v"))
    val q = df.select(expr("cosine_sim(v, v)").as("c"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"), s"rule did not fire:\n$optimized")
    assert(optimized.contains("dot_product"), s"expected dot_product guard:\n$optimized")
    val got = q.as[Double].collect().toList
    // id=0 → zero vector → 0.0; id>0 → self-similarity 1.0
    assert(got == List(0.0, 1.0, 1.0))
  }

  test("rule does not fire for distinct inputs") {
    import spark.implicits._
    val df = spark.range(1).select(
      expr("transform(sequence(0, 2), i -> CAST(id + i AS FLOAT))").as("a"),
      expr("transform(sequence(0, 2), i -> CAST(id + i + 1 AS FLOAT))").as("b"))
    val q = df.select(expr("cosine_sim(a, b)").as("c"))
    assert(q.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
    // id=0: a=[0,1,2], b=[1,2,3] → 8 / (sqrt(5)*sqrt(14))
    assert(math.abs(q.as[Double].head() - 8.0 / math.sqrt(70.0)) < 1e-12)
  }

  /** The plain theta band join used by RewriteBandJoin's tests. */
  private def bandJoin(n: Int, gap: Double) = {
    import spark.implicits._
    val l = (0 until n).map(i => (i.toLong, i * gap)).toDF("l_id", "l_v")
    val r = (0 until n).map(i => (i.toLong, i * gap + 0.3)).toDF("r_id", "r_v")
    l.join(r, col("l_v") >= col("r_v") - 100 && col("l_v") <= col("r_v") + 100)
  }

  test("RewriteBandJoin turns a pure band join into a binned equi join") {
    spark.conf.set(plans.RewriteBandJoin.ConfKey, "true")
    try {
      val q = bandJoin(200, 7.0).groupBy("l_id").count()
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"band join not rewritten:\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
      // and VALUES are identical to the un-rewritten nested-loop plan
      val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set(plans.RewriteBandJoin.ConfKey, "false")
      val want = bandJoin(200, 7.0).groupBy("l_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, "rewrite changed the join result")
    } finally spark.conf.unset(plans.RewriteBandJoin.ConfKey)
  }

  test("RewriteBandJoin leaves equi-conjunct joins and stays off by default") {
    // off by default: the theta shape keeps its nested loop
    val pOff = bandJoin(50, 7.0).queryExecution.executedPlan.toString
    assert(pOff.contains("BroadcastNestedLoopJoin"), pOff)
    // on, but an equality conjunct already links the sides: not our case
    spark.conf.set(plans.RewriteBandJoin.ConfKey, "true")
    try {
      import spark.implicits._
      val l = (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("l_id", "l_v")
      val r = (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("r_id", "r_v")
      val q = l.join(r, col("l_id") === col("r_id") &&
        col("l_v") >= col("r_v") - 10 && col("l_v") <= col("r_v") + 10)
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("graft_band_bin"), s"rule fired despite equi key:\n$p")
    } finally spark.conf.unset(plans.RewriteBandJoin.ConfKey)
  }

  private val PerBatch = 10L

  /** Waits until `q` has finished micro-batch `id`. */
  private def awaitBatch(q: StreamingQuery, id: Long): Unit = {
    val deadline = System.nanoTime() + 60e9.toLong
    while (Option(q.lastProgress).forall(_.batchId < id)) {
      assert(q.isActive && System.nanoTime() < deadline, s"${q.name} stalled before batch $id")
      Thread.sleep(20)
    }
  }

  /** A sink row: the rate source's value, then its `current_timestamp()`
    * in µs, `current_date()` and `localtimestamp()`.
    */
  private type Stamped = (Long, Long, java.time.LocalDate, java.time.LocalDateTime)

  /** `rate-micro-batch` → (value, current_timestamp(), current_date(),
    * localtimestamp()) → memory sink, run until at least five micro-batches
    * have finished. Returns the codegen compiles made after the first batch
    * finished, the sink's rows, and each batch's timestamp in µs as the
    * offset log records it.
    */
  private def stampedStream(name: String): (Long, Seq[Stamped], Map[Long, Long]) = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ext_ts_")
    val q = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", PerBatch).option("numPartitions", 2).load()
      .select(col("value"), current_timestamp(), current_date(), localtimestamp())
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val compiles = try {
      awaitBatch(q, 0)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      awaitBatch(q, 4)
      q.stop()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    } finally q.stop()
    val rows = spark.table(name).collect().map { r =>
      (r.getLong(0), DateTimeUtils.instantToMicros(r.getTimestamp(1).toInstant),
        r.getDate(2).toLocalDate, r.getAs[java.time.LocalDateTime](3))
    }.toSeq
    val BatchTs = """"batchTimestampMs":(\d+)""".r
    val stamps = ckpt.resolve("offsets").toFile.listFiles().filter(_.getName.forall(_.isDigit))
      .map { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        f.getName.toLong -> BatchTs.findFirstMatchIn(text).get.group(1).toLong * 1000L
      }.toMap
    (compiles, rows, stamps)
  }

  /** Every row carries the timestamp its batch's offset-log entry records,
    * and that timestamp's date and local time in the session zone (UTC).
    */
  private def assertStampedByBatch(rows: Seq[Stamped], stamps: Map[Long, Long]): Unit = {
    val batches = rows.groupBy(_._1 / PerBatch)
    assert(batches.size >= 5, s"only ${batches.size} batches reached the sink")
    batches.foreach { case (b, rs) =>
      val local = DateTimeUtils.microsToLocalDateTime(stamps(b))
      assert(rs.size == PerBatch, s"batch $b has ${rs.size} rows")
      assert(rs.forall(r => r._2 == stamps(b) && r._3 == local.toLocalDate && r._4 == local),
        s"batch $b rows $rs, offset log ${stamps(b)}")
    }
  }

  test("a stream's batch timestamp adds no compiles after its first batch") {
    val (compiles, rows, stamps) = stampedStream("ext_batch_ts")
    assert(compiles == 0, s"$compiles classes compiled after the first batch")
    assertStampedByBatch(rows, stamps)
    // with the rule left out each batch's sink stage spells its timestamp
    // as a literal and compiles again; the stamps are the same
    val rule = plans.BatchTimestampAsConstant.ruleName
    spark.conf.set("spark.sql.optimizer.excludedRules", rule)
    val (literalCompiles, literalRows, literalStamps) = try stampedStream("ext_batch_ts_literal")
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(literalCompiles >= 3, s"$literalCompiles compiles without $rule")
    assertStampedByBatch(literalRows, literalStamps)
  }

  test("a filter on the batch timestamp stays above a stream's stateful aggregate") {
    // pushed below the aggregate, the filter would drop rows before they
    // update state, and windows that ended in an earlier batch would stay
    // in the complete-mode output
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ext_ts_agg_")
    val q = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", PerBatch).load()
      .groupBy(window(col("timestamp"), "1 minute")).count()
      .where(col("window.end") > current_timestamp())
      .writeStream.format("memory").queryName("ext_batch_ts_agg").outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val plan = try {
      awaitBatch(q, 1)
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
    } finally q.stop()
    val onStamp = plan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[plans.BatchConstant]) => f
    }
    assert(onStamp.nonEmpty, s"no filter on the batch timestamp:\n$plan")
    assert(onStamp.forall(_.child.exists(_.isInstanceOf[Aggregate])),
      s"the batch-timestamp filter moved below the aggregate:\n$plan")
  }

  test("a batch query's current_timestamp() stays a literal") {
    val plan = spark.range(1).select(current_timestamp().as("ts")).queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.exists {
      case Literal(_, TimestampType) => true
      case _ => false
    }, plan.toString)
    assert(!exprs.exists(_.isInstanceOf[plans.BatchConstant]), plan.toString)
  }
}
