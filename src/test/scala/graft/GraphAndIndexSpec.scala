package graft

import org.apache.spark.sql.functions._

/** Property pins for the round-4 surface: triangle counting, global
  * indexing, content-defined chunking, interval-overlap join, and
  * incremental dedup. (Value-level parity vs DuckDB is the oracle gate's
  * job; these pin the structural invariants the oracle can't see.)
  */
class GraphAndIndexSpec extends SparkSuite {

  test("oriented triangle count equals brute-force triple-join count") {
    // brute force: every edge triple (a<b<c) with all three edges present,
    // straight from the undirected edge list — no orientation involved
    val li = Tables.lineitem(spark, Sf)
      .filter(col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = li.select(col("ok"), col("pk").as("u"))
      .join(li.select(col("ok"), col("pk").as("v")), Seq("ok"))
      .where(col("u") < col("v")).select("u", "v").distinct().cache()
    val ab = e.select(col("u").as("a"), col("v").as("b"))
    val bc = e.select(col("u").as("b"), col("v").as("c"))
    val ac = e.select(col("u").as("a2"), col("v").as("c2"))
    val brute = ab.join(bc, "b")
      .join(ac, col("a") === col("a2") && col("c") === col("c2"))
      .count()
    val declared = operators.GraphQueries.triangleCount(spark, Sf)
      .select("n_triangles").head().getLong(0)
    assert(declared == brute, s"oriented=$declared brute=$brute")
    e.unpersist()
  }

  test("graph kernels reject containsNull arrays at analysis, not silently as zeros") {
    // array() of a nullable expression carries containsNull=true; getLong
    // on a null slot would read 0, so the kernel must refuse at analysis
    val nullable = spark.range(1).selectExpr(
      "array(CAST(NULL AS BIGINT), 2L, 3L) AS xs")
    for (call <- Seq("pair_combos(xs)", "sorted_intersect_count(xs, xs)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        nullable.selectExpr(call).collect()
      }
      assert(e.getMessage.contains("non-null elements"), s"$call: ${e.getMessage}")
    }
    // array_compact strips the nullability and the same calls analyze + run
    val compacted = nullable.selectExpr("array_compact(xs) AS xs")
    assert(compacted.selectExpr("size(pair_combos(xs))").head().getInt(0) == 1)
    assert(compacted.selectExpr("sorted_intersect_count(xs, xs)").head().getInt(0) == 2)
  }

  test("degree histogram accounts for every node exactly once") {
    val hist = operators.GraphQueries.degreeHistogram(spark, Sf)
    val totalNodes = hist.agg(sum("n_nodes")).head().getLong(0)
    val declaredNodes = operators.GraphQueries.triangleCount(spark, Sf)
      .select("n_nodes").head().getLong(0)
    assert(totalNodes == declaredNodes)
    // bucket bounds are consistent: min ≤ max and both inside [2^k, 2^(k+1))
    val bad = hist.filter(
      col("min_degree") > col("max_degree") ||
        col("min_degree") < pow(lit(2.0), col("log2_degree")) ||
        col("max_degree") >= pow(lit(2.0), col("log2_degree") + 1)).count()
    assert(bad == 0)
  }

  test("global index is exactly row_number over doc_id order") {
    val got = operators.MiscQueries.globalIndex(spark, Sf)
      .select("doc_id", "global_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expectedIds = got.map(_._1).sorted
    got.map(_._2).zipWithIndex.foreach { case (idx, i) =>
      assert(idx == i, s"doc ${expectedIds(i)} got index $idx expected $i")
    }
  }

  test("cdc chunks partition each document's token sequence contiguously") {
    val chunks = operators.CurationQueries.cdcChunks(spark, Sf).cache()
    // coverage: per doc, chunk token counts sum to the doc's token count
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum("n_tokens").as("covered"), min("start_pos").as("first"),
        max("end_pos").as("last"), count(lit(1)).as("n_chunks"))
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        size(expr("array_remove(split(text, ' ', -1), '')")).as("n_tok"))
      .filter(col("n_tok") >= 3)
    val bad = perDoc.join(docs, "doc_id")
      .filter(col("covered") =!= col("n_tok") || col("first") =!= 1 ||
        col("last") =!= col("n_tok")).count()
    assert(bad == 0)
    // contiguity: chunk k+1 starts right after chunk k ends
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("chunk_id")
    val gaps = chunks
      .withColumn("prev_end", lag("end_pos", 1).over(w))
      .filter(col("prev_end").isNotNull && col("start_pos") =!= col("prev_end") + 1)
      .count()
    assert(gaps == 0)
    chunks.unpersist()
  }

  test("cdc chunk boundaries are content-anchored (shift-invariance)") {
    // CDC's defining property: chunking a suffix yields the same chunk
    // boundaries once past the first boundary — verified by comparing
    // boundary positions of a doc against the same doc with 1 token
    // prepended (positions shift by exactly 1; identities re-align).
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 20
    import spark.implicits._
    val base = Seq((0L, text.trim)).toDF("doc_id", "text")
    val shifted = Seq((0L, "prefixtoken " + text.trim)).toDF("doc_id", "text")
    def boundaries(df: org.apache.spark.sql.DataFrame): Set[String] = {
      // fingerprint each boundary by its trailing 3-token window content
      df.select(col("doc_id"), expr("array_remove(split(text, ' ', -1), '')").as("tk"))
        .select(explode(expr("sequence(3, size(tk))")).as("p"), col("tk"))
        .withColumn("win", expr("concat_ws(' ', slice(tk, p - 2, 3))"))
        .filter(substring(md5(expr("CAST(win AS BINARY)")), 1, 1) === "0")
        .select("win").collect().map(_.getString(0)).toSet
    }
    val b1 = boundaries(base)
    val b2 = boundaries(shifted)
    assert(b1.nonEmpty, "fixture text produced no boundaries — pick longer text")
    assert(b1 == b2, "boundary windows must be identical under a 1-token shift")
  }

  test("interval overlap matches the unbinned theta join") {
    val got = operators.JoinQueries.intervalOverlap(spark, Sf)
      .select("window_id", "n_orders").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val windows = spark.range(0, 60).toDF("window_id")
      .select(col("window_id"), (lit(8760L) + col("window_id") * 30).as("w_start"),
        (lit(8760L) + col("window_id") * 30 + 14).as("w_end"))
    val o = Tables.orders(spark, Sf)
      .select(col("o_orderkey"), expr("unix_timestamp(o_orderdate) div 86400").as("o_start"))
      .withColumn("o_end", col("o_start") + col("o_orderkey") % 7 + 1)
    val brute = o.crossJoin(windows)
      .where(col("o_start") < col("w_end") && col("w_start") < col("o_end"))
      .groupBy("window_id").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == brute)
  }

  test("morton layout skips on the second dimension where a linear sort cannot") {
    // sf0.01 so both key domains are non-degenerate (pk 0..1023, sk 0..99;
    // sk bit 6 varies, which the z-bucket id captures). Probe box on the
    // SECOND dimension only: sk in [64, 99] — a pk-sorted layout leaves
    // every file's sk range at the full domain, so it can skip nothing,
    // while morton buckets bound sk and skip all sk<64 buckets.
    val dir = "/root/testdata/sf0.01"
    val z = operators.MiscQueries.zorderLayout(spark, dir)
      .select("zbucket", "n_rows", "sk_min", "sk_max").cache()
    val nz = z.count()
    val zSkips = z.filter(col("sk_max") < 64).count()
    assert(nz >= 16, s"expected a non-degenerate bucketing, got $nz buckets")
    assert(zSkips > 0, "morton buckets must bound sk tightly enough to skip")
    // linear layout, same bucket budget: bucket by pk range only
    val linear = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 1024).as("pk"), (col("l_suppkey") % 1024).as("sk"))
      .withColumn("bucket", floor(col("pk") / (lit(1024.0) / nz)).cast("long"))
      .groupBy("bucket").agg(min("sk").as("sk_min"), max("sk").as("sk_max"))
    val lSkips = linear.filter(col("sk_max") < 64).count()
    assert(lSkips == 0, "pk-sorted files cannot bound sk on this fixture")
    z.unpersist()
  }

  test("incremental dedup accounting partitions the batch") {
    val r = operators.DedupQueries.incrementalDedup(spark, Sf)
    val bad = r.filter(
      col("n_new") =!= col("n_exact_dup") + col("n_near_dup") + col("n_kept"))
    // near-dup and exact-dup are disjoint by construction (near runs on
    // exact-survivors only), so the three classes partition n_new —
    // unless a doc is BOTH, which the left-anti staging forbids
    assert(bad.count() == 0)
  }
}
