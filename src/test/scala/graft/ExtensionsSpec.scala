package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: injected functions resolve in SQL, and the
  * SimplifySelfCosine optimizer rule rewrites self-similarity without
  * changing results.
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
}
