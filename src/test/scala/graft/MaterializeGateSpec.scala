package graft

import org.scalatest.funsuite.AnyFunSuite

/** Focused guards for the reuse policy in [[operators.Materialize]]:
  * both sides of each size gate must produce identical rows, the
  * above-gate path must actually switch representation (scratch parquet
  * scan instead of pinned checkpoint blocks) — the property the 100 TB
  * claim rests on, which the fixture-scale sweeps never exercise — no
  * builder may leave a cache behind, and no reuse call may grow back
  * outside `Materialize`.
  */
class MaterializeGateSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("Materialize.gated: parquet path above the gate, identical rows") {
    val input = Tables.documents(spark, dir)
    val frame = input.selectExpr("doc_id", "length(text) AS n")
    val below = operators.Materialize.gated(input, frame, "spec-below")
    spark.conf.set("graft.materialize.localMaxInputBytes", "0")
    try {
      val above = operators.Materialize.gated(input, frame, "spec-above")
      // representation switched: above the gate the frame is a file scan
      assert(above.queryExecution.optimizedPlan.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
        "above-gate materialization should read back from scratch parquet")
      // below the gate the frame is a checkpoint: pinned blocks, no scan
      assert(below.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD],
        "below-gate materialization should be a local checkpoint")
      val a = above.orderBy("doc_id").collect().toSeq
      val b = below.orderBy("doc_id").collect().toSeq
      assert(a == b, "gated paths must return identical rows")
    } finally spark.conf.unset("graft.materialize.localMaxInputBytes")
  }

  test("Materialize.gated fails closed: an input without stats takes the parquet path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val noStats = new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext = spark.sqlContext
      override def schema = StructType(Seq(StructField("x", LongType)))
      override def sizeInBytes: Long = throw new IllegalStateException("stats unavailable")
      override def buildScan() = spark.sparkContext.parallelize(Seq(Row(1L)))
    }
    val input = spark.baseRelationToDataFrame(noStats)
    intercept[IllegalStateException](input.queryExecution.optimizedPlan.stats)
    assert(operators.Materialize.inputBytes(input) == BigInt(Long.MaxValue),
      "an input without stats must read as large")
    val frame = Tables.documents(spark, dir).selectExpr("doc_id", "length(text) AS n")
    val gated = operators.Materialize.gated(input, frame, "spec-nostats")
    val plan = gated.queryExecution.optimizedPlan
    assert(plan.collectLeaves().exists(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
      "an input without stats must take the scratch-parquet path:\n" + plan)
    assert(!plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD], plan)
    assert(gated.orderBy("doc_id").collect().toSeq == frame.orderBy("doc_id").collect().toSeq)
  }

  test("harmonic centrality: shuffle-join fallback above the mask gate matches") {
    val base = operators.GraphQueries.harmonicCentrality(spark, dir).collect().toSeq
    spark.conf.set("graft.graph.maskBroadcastMaxBytes", "0")
    try {
      val gated = operators.GraphQueries.harmonicCentrality(spark, dir).collect().toSeq
      assert(gated == base,
        "mask-broadcast gate must not change harmonic centrality results")
    } finally spark.conf.unset("graft.graph.maskBroadcastMaxBytes")
  }

  test("no builder leaves a cache behind") {
    // a fresh session rebuilds every registry entry, so the scopes inside
    // memoized builders (labels, band and IVF indexes) run here too
    val s = spark.newSession()
    // CacheManager.numCachedEntries is package-private in Spark
    val cm = spark.sharedState.cacheManager
    val count = cm.getClass.getMethod("numCachedEntries")
    def entries: Int = count.invoke(cm).asInstanceOf[Int]
    // the one session-lived entry, armed first: its consumers reuse it
    operators.DedupQueries.batchSigs(s, dir)
    val armed = entries
    Seq("dedup_minhash_lsh", "curation_lsh_band_tuning", "dedup_lsh_recall_eval",
      "dedup_semantic", "dedup_incremental", "dedup_clusters",
      "dedup_clusters_incremental", "dedup_index_maintenance", "sim_ivf_topk",
      "graph_triangle_count", "graph_clustering_coeff", "graph_bfs_reach",
      "graph_kcore").foreach { q =>
      SparkEntry.queries(q)(s, dir).write.format("noop").mode("overwrite").save()
      assert(entries == armed, s"$q left ${entries - armed} cache entries behind")
    }
  }

  /** The lines of `src/main` (file, trimmed line) that may reuse or
    * release a frame outside `Materialize`, with the reason for each.
    */
  private val ReuseAllowlist: Map[(String, String), String] = Map(
    ("graft/operators/DedupQueries.scala",
      "if (frame.storageLevel == org.apache.spark.storage.StorageLevel.NONE) frame.cache()") ->
      ("DedupQueries.batchSigs: a session-lived lazy cache that keeps the batch " +
        "provenance visible to PlanSpec, re-armed after Bench's per-query clearCache()"))

  test("no frame is reused or released outside Materialize") {
    SourceSweep.guard("""\.(localCheckpoint|cache|persist|unpersist)\(""".r,
      "graft/operators/Materialize.scala", ReuseAllowlist)
  }
}
