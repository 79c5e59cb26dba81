package graft

import org.apache.spark.sql.functions._

/** ANN quality: the approximate searchers against the exact brute force.
  * Everything is deterministic on the fixture, so the recall floors are
  * stable regression guards, not flaky statistics.
  */
class SimilaritySpec extends SparkSuite {

  private def topk(name: String): Map[Long, Seq[Long]] =
    SparkEntry.queries(name)(spark, Sf)
      .select(col("q_id"), col("c_id"), col("rn"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap

  test("bm25 postings materialization gate preserves results exactly") {
    // the size gate changes WHERE the postings come from (lazy lineage vs
    // scratch parquet), never what they contain — force both paths on the
    // same fixture and require row-identical output
    val viaLineage = SparkEntry.queries("sim_bm25_topk")(spark, Sf)
      .collect().map(_.toSeq).toSeq
    spark.conf.set("graft.bm25.materializeMinBytes", "0")
    try {
      val viaIndex = SparkEntry.queries("sim_bm25_topk")(spark, Sf)
        .collect().map(_.toSeq).toSeq
      assert(viaIndex == viaLineage)
    } finally spark.conf.unset("graft.bm25.materializeMinBytes")
  }

  test("LSH buckets partition the corpus and candidates stay blocked") {
    val df = SparkEntry.queries("sim_lsh_topk")(spark, Sf)
    assert(df.count() > 0, "no LSH candidates at all")
    // every query's matches come from its probe set (own cell + 4
    // Hamming-1 neighbors), never the whole corpus
    val buckets = df.select("q_id", "bucket").distinct().groupBy("q_id").count()
    assert(buckets.filter(col("count") > 5).count() == 0)
  }

  test("LSH recall vs brute force is above the pinned floor") {
    val brute = topk("sim_brute_topk")
    val lsh = topk("sim_lsh_topk")
    val recalls = brute.keys.toSeq.map { q =>
      val b = brute(q).toSet
      val l = lsh.getOrElse(q, Seq.empty).toSet
      (b & l).size.toDouble / b.size
    }
    val mean = recalls.sum / recalls.size
    // deterministic on the fixture; floor set from the observed value
    assert(mean >= 0.2, s"mean recall@3 = $mean (per-query: $recalls)")
  }

  test("mips norm-bound prune is exact: equals the unpruned dot top-5") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, Sf)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("dot_r"), asc("c_id"))
    val brute = cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("dot_r", round(expr("dot_product(q_emb, c_emb)"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), col("dot_r"), col("rn"))
    val mips = SparkEntry.queries("sim_mips_topk")(spark, Sf)
      .select(col("q_id"), col("c_id"), col("dot").as("dot_r"), col("rn"))
    assert(mips.exceptAll(brute).isEmpty && brute.exceptAll(mips).isEmpty,
      "pruned MIPS diverged from brute force")
  }

  test("IVF probes exactly one inverted list and finds in-list neighbors") {
    val ivf = SparkEntry.queries("sim_ivf_topk")(spark, Sf)
    val probes = ivf.select("q_id", "probe_label").distinct()
      .groupBy("q_id").count()
    assert(probes.filter(col("count") > 1).count() == 0)
    // ranks are contiguous from 1 per query
    val bad = ivf.groupBy("q_id")
      .agg(min("rn").as("mn"), max("rn").as("mx"), count(lit(1)).as("n"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(bad.count() == 0)
  }
}
