package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.VectorCentroid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY.md §2 LLM
  * extensions): brute-force cosine top-k as the exact baseline, and an
  * IVF-style variant (coarse quantizer = per-label centroids) as the scale
  * path — a query probes one inverted list instead of the whole corpus.
  *
  * Scale shape: the query set is small and broadcast; candidates stream
  * through a codegen'd cosine (custom Catalyst expression) and per-query
  * top-k is a bounded window. At 100 TB the same plan holds: broadcast
  * queries × partitioned candidate scan, no all-pairs shuffle.
  */
object SimilarityQueries extends QueryModule {

  private val cosineSqlDuck =
    """list_sum(list_transform(list_zip(QA, QB), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(QA, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(QB, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** Brute-force exact top-5 neighbors for each of 10 query vectors. */
  def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, c_emb)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cosine"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val bruteTopKSql = {
    val cos = cosineSqlDuck.replace("QA", "q.embedding").replace("QB", "c.embedding")
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cos AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT q_id, c_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
       |  FROM scored)
       |SELECT q_id, c_id, round(cos, 4) AS cosine, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** Diversified top-k retrieval: global top-8 under a per-facet cap of 2
    * (at most two results per label) — the category-capped re-ranking a
    * retrieval service applies so one dense cluster can't fill the whole
    * result page. Both stages run through the NATIVE two-phase
    * [[graft.plans.GroupTopK]] operator: stage 1 caps each (query, label)
    * list at 2 with partial per-partition heaps (the shuffle carries at
    * most 2·|labels| rows per query, not the scored corpus), stage 2
    * takes the global 8 from that already-tiny frame — no Window over the
    * full candidate set anywhere in the plan. Ranking is on round-6
    * cosine with a c_id tie-break, the established cross-engine rank
    * determinism discipline.
    */
  def diverseTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("label"),
      col("embedding").as("c_emb"))
    val scored = cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, c_emb)"), 6))
      .select("q_id", "c_id", "label", "cos_r")
    val perLabel = graft.plans.GroupTopK(scored, 2, Seq("q_id", "label"),
      Seq(desc("cos_r"), asc("c_id"))).drop("gtk_rank")
    graft.plans.GroupTopK(perLabel, 8, Seq("q_id"),
        Seq(desc("cos_r"), asc("c_id")))
      .withColumnRenamed("gtk_rank", "rn")
      .select(col("q_id"), col("rn"), col("c_id"), col("label"),
        round(col("cos_r"), 4).as("cosine"))
      .orderBy("q_id", "rn")
  }

  private val diverseTopKSql = {
    val cos = cosineSqlDuck.replace("QA", "q.embedding").replace("QB", "c.embedding")
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label,
       |    round($cos, 6) AS cos_r
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |), lr AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id, label
       |    ORDER BY cos_r DESC, c_id) AS rl
       |  FROM scored
       |), gr AS (
       |  SELECT q_id, c_id, label, cos_r,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, c_id) AS rn
       |  FROM lr WHERE rl <= 2)
       |SELECT q_id, CAST(rn AS INT) AS rn, c_id, label, round(cos_r, 4) AS cosine
       |FROM gr WHERE rn <= 8 ORDER BY q_id, rn""".stripMargin
  }

  /** Int8 scalar quantization fidelity report (SQ8 — the 4× memory
    * compression every large ANN deployment applies before anything
    * fancier): each dimension is linearly mapped to a 0..255 code against
    * per-dimension corpus min/max, dequantized, and the reconstruction
    * error reported per label. Determinism discipline: codes use
    * `floor`, not `round` (no half-way convention to disagree on); the
    * per-vector error is an ORDERED in-array fold (the cosine idiom —
    * never a row-exploded double sum); per-label aggregation is
    * avg/max of those per-vector doubles with ppm scaling so the 3-dp
    * round has ~50× headroom over accumulated summation error. Scale
    * shape: the bounds frame is |dims| rows collapsed to ONE broadcast
    * row; vectors stream through a codegen'd fold — no shuffle beyond
    * the per-label aggregate.
    */
  def scalarQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val bounds = e
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .agg(expr("array_sort(collect_list(struct(pos, lo, hi)))").as("b"))
      .select(expr("transform(b, x -> x.lo)").as("lo"),
        expr("transform(b, x -> x.hi)").as("hi"))
    e.crossJoin(broadcast(bounds))
      .withColumn("err2", expr(
        """aggregate(arrays_zip(embedding, lo, hi), 0D, (a, p) -> a +
          |  (CASE WHEN p.hi = p.lo THEN 0D ELSE
          |   pow(CAST(p.embedding AS DOUBLE) - (p.lo
          |     + floor((CAST(p.embedding AS DOUBLE) - p.lo) * 255.0 / (p.hi - p.lo))
          |       * (p.hi - p.lo) / 255.0), 2) END))""".stripMargin))
      .withColumn("vec_mse", col("err2") / size(col("embedding")).cast("double"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("vec_mse") * 1e6, 3).as("mse_ppm"),
        round(max("vec_mse") * 1e6, 4).as("max_mse_ppm"))
      .orderBy("label")
  }

  private val scalarQuantizeSql =
    """WITH dims AS (
      |  SELECT pos, CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
      |  FROM (SELECT unnest(embedding) AS v,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings)
      |  GROUP BY pos),
      |bounds AS (
      |  SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi
      |  FROM dims),
      |per AS (
      |  SELECT label,
      |    list_sum(list_transform(list_zip(embedding, lo, hi), p ->
      |      CASE WHEN CAST(p[3] AS DOUBLE) = CAST(p[2] AS DOUBLE) THEN 0.0 ELSE
      |        pow(CAST(p[1] AS DOUBLE) - (CAST(p[2] AS DOUBLE)
      |          + floor((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * 255.0
      |              / (CAST(p[3] AS DOUBLE) - CAST(p[2] AS DOUBLE)))
      |            * (CAST(p[3] AS DOUBLE) - CAST(p[2] AS DOUBLE)) / 255.0), 2)
      |      END)) / len(embedding) AS vec_mse
      |  FROM embeddings CROSS JOIN bounds)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  round(avg(vec_mse) * 1e6, 3) AS mse_ppm,
      |  round(max(vec_mse) * 1e6, 4) AS max_mse_ppm
      |FROM per GROUP BY label ORDER BY label""".stripMargin

  /** Maximum-inner-product search (MIPS — the retrieval objective when
    * embeddings are NOT normalized, e.g. recommendation scores): exact
    * top-5 by raw dot product with the classic norm-bound prune. Phase 1
    * scores only the 32 highest-norm candidates (one query-independent
    * TakeOrdered) and takes each query's 5th-best dot as a lower bound L;
    * phase 2 scans all candidates but skips every (q, c) with
    * ‖q‖·‖c‖ < L − ε, which is EXACT by Cauchy–Schwarz (dot ≤ ‖q‖‖c‖, so
    * nothing beating L is skipped). ε = 2·10⁻⁴ covers BOTH noise sources
    * at the boundary: the final ranking is on round(dot, 4) with an id
    * tie-break, so a candidate with dot as low as L − 10⁻⁴ can still tie
    * the 5th rounded score and win on id — the slack keeps every such
    * candidate, plus float-association differences in the norms, on both
    * engines. At 100 TB the bound-check is a codegen'd double compare
    * that rejects most of the scan before any 64-float dot runs, and the
    * high-norm seed set is the only extra state — 32 rows, broadcast.
    */
  def mipsTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("norm", sqrt(expr("dot_product(embedding, embedding)")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    val seeds = cand.orderBy(desc("c_norm"), asc("c_id")).limit(32)
    val wSeed = Window.partitionBy("q_id").orderBy(desc("dot"), asc("c_id"))
    val bounds = seeds.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("dot", expr("dot_product(q_emb, c_emb)"))
      .withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") === 5)
      .select(col("q_id"), col("dot").as("lb"))
    val w = Window.partitionBy("q_id").orderBy(desc("dot_r"), asc("c_id"))
    cand.join(broadcast(q.join(bounds, "q_id")),
        col("q_id") =!= col("c_id")
          && col("q_norm") * col("c_norm") >= col("lb") - 2e-4)
      .withColumn("dot_r", round(expr("dot_product(q_emb, c_emb)"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), col("dot_r").as("dot"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val mipsTopKSql = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    def nrm(a: String) =
      s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${nrm("embedding")} AS norm FROM embeddings
       |), q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
       |  FROM e WHERE vec_id < 10
       |), seeds AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM e ORDER BY norm DESC, vec_id ASC LIMIT 32
       |), sb AS (
       |  SELECT q_id, dot AS lb FROM (
       |    SELECT q.q_id, ${dot("q.q_emb", "s.c_emb")} AS dot,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${dot("q.q_emb", "s.c_emb")} DESC, s.c_id ASC) AS rn
       |    FROM seeds s JOIN q ON q.q_id <> s.c_id)
       |  WHERE rn = 5
       |), ranked AS (
       |  SELECT q_id, c_id, dot_r,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dot_r DESC, c_id ASC) AS rn
       |  FROM (
       |    SELECT q.q_id, c.vec_id AS c_id,
       |      round(${dot("q.q_emb", "c.embedding")}, 4) AS dot_r
       |    FROM e c JOIN q ON q.q_id <> c.vec_id
       |    JOIN sb ON sb.q_id = q.q_id AND q.q_norm * c.norm >= sb.lb - 2e-4))
       |SELECT q_id, c_id, dot_r AS dot, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** k-NN classification: each query vector takes the majority label of
    * its 5 nearest (cosine) neighbors, ties broken toward the smaller
    * label id — the standard embedding-space label-propagation /
    * auto-labeling step. Scale shape: the neighbor search is the proven
    * broadcast-queries × streamed-corpus plan; the vote is a
    * (query, label)-keyed hash-agg over ≤ 5·|queries| rows.
    */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("true_label"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("label").as("c_label"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos_r"), asc("c_id"))
    val nn = cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, c_emb)"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
    val wv = Window.partitionBy("q_id").orderBy(desc("votes"), asc("c_label"))
    nn.groupBy("q_id", "true_label", "c_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"),
        col("c_label").as("predicted_label"), col("votes"),
        (col("c_label") === col("true_label")).as("correct"))
      .orderBy("q_id")
  }

  private val knnClassifySql = {
    val cos = cosineSqlDuck.replace("QA", "q.q_emb").replace("QB", "c.c_emb")
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, label AS true_label
       |  FROM embeddings WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb, label AS c_label FROM embeddings
       |), nn AS (
       |  SELECT q_id, true_label, c_label FROM (
       |    SELECT q.q_id, q.true_label, c.c_label,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round($cos, 6) DESC, c.c_id ASC) AS rn
       |    FROM q JOIN c ON q.q_id <> c.c_id)
       |  WHERE rn <= 5
       |), votes AS (
       |  SELECT q_id, true_label, c_label, CAST(count(*) AS BIGINT) AS votes,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY count(*) DESC, c_label ASC) AS vr
       |  FROM nn GROUP BY 1, 2, 3)
       |SELECT q_id, true_label, c_label AS predicted_label, votes,
       |  c_label = true_label AS correct
       |FROM votes WHERE vr = 1 ORDER BY q_id""".stripMargin
  }

  /** Matryoshka-prefix evaluation: how much of the full-dimension top-5
    * does a 16-dim PREFIX of each embedding recover? Nested-dimension
    * (MRL-style) embeddings are the standard serving trick — retrieve on
    * a cheap prefix, rerank on the full vector — and this measures the
    * prefix's recall@5 against full-dimension ground truth per query.
    * Both arms are the proven broadcast-queries × streamed-corpus plan;
    * the recall join is (query, candidate)-keyed over two top-5 lists.
    */
  def matryoshkaPrefix(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    def topk(score: org.apache.spark.sql.Column) = {
      val w = Window.partitionBy("q_id").orderBy(desc("cos_r"), asc("c_id"))
      cand.join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("cos_r", score)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("q_id", "c_id")
    }
    val full = topk(round(expr("cosine_sim(q_emb, c_emb)"), 6))
    val prefix = topk(round(expr(
      "cosine_sim(slice(q_emb, 1, 16), slice(c_emb, 1, 16))"), 6))
    full.join(prefix.withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0))).as("recovered"),
        round(sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)), 4)
          .as("prefix_recall"))
      .orderBy("q_id")
  }

  private val matryoshkaPrefixSql = {
    val cosFull = cosineSqlDuck.replace("QA", "q.q_emb").replace("QB", "c.c_emb")
    val cosPre = cosineSqlDuck.replace("QA", "q.q_emb[1:16]").replace("QB", "c.c_emb[1:16]")
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |), full5 AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round($cosFull, 6) DESC, c.c_id ASC) AS rn
       |    FROM q JOIN c ON q.q_id <> c.c_id)
       |  WHERE rn <= 5
       |), pre5 AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round($cosPre, 6) DESC, c.c_id ASC) AS rn
       |    FROM q JOIN c ON q.q_id <> c.c_id)
       |  WHERE rn <= 5)
       |SELECT f.q_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS recovered,
       |  round(CAST(sum(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 4) AS prefix_recall
       |FROM full5 f LEFT JOIN pre5 p ON f.q_id = p.q_id AND f.c_id = p.c_id
       |GROUP BY f.q_id ORDER BY f.q_id""".stripMargin
  }

  /** IVF-style ANN: coarse centroids per label (computed with the
    * VectorCentroid typed Aggregator), each query probes only its nearest
    * list. Returns top-3 within the probed list.
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val centroidUdaf = udaf(new VectorCentroid, ExpressionEncoder[Seq[Float]]())
    val e = Tables.embeddings(s, dir)
    val centroids = e.groupBy("label")
      .agg(centroidUdaf(col("embedding")).as("centroid_d"))
      .withColumn("centroid", expr("transform(centroid_d, x -> CAST(x AS FLOAT))"))
      .select(col("label").as("c_label"), col("centroid"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // assign each query to its nearest centroid (probe 1 list)
    val wAssign = Window.partitionBy("q_id").orderBy(desc("c_cos"), asc("c_label"))
    val assigned = q.join(broadcast(centroids), lit(true))
      .withColumn("c_cos", expr("cosine_sim(q_emb, centroid)"))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("q_id"), col("q_emb"), col("c_label").as("probe_label"))
    val cand = e.select(col("label"), col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    cand.join(broadcast(assigned),
        col("label") === col("probe_label") && col("q_id") =!= col("c_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, c_emb)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("probe_label"), col("c_id"),
        round(col("cos"), 4).as("cosine"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val ivfTopKSql = {
    // centroid in double (avg per dimension), then cast to float to match
    // the Spark side's FloatType centroid column before the double cosine.
    val cosQC = cosineSqlDuck.replace("QA", "q.embedding").replace("QB", "c.centroid")
    val cosQE = cosineSqlDuck.replace("QA", "a.q_emb").replace("QB", "e.embedding")
    s"""WITH centroids AS (
       |  SELECT label AS c_label,
       |    list_transform(list(avg_v ORDER BY dim), x -> CAST(x AS FLOAT)) AS centroid
       |  FROM (
       |    SELECT label, dim, avg(CAST(v AS DOUBLE)) AS avg_v
       |    FROM (SELECT label, unnest(embedding) AS v,
       |            generate_subscripts(embedding, 1) AS dim
       |          FROM embeddings)
       |    GROUP BY label, dim)
       |  GROUP BY label
       |), assigned AS (
       |  SELECT q_id, q_emb, c_label AS probe_label FROM (
       |    SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.c_label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cosQC DESC, c.c_label ASC) AS arn
       |    FROM embeddings q CROSS JOIN centroids c
       |    WHERE q.vec_id < 10)
       |  WHERE arn = 1
       |), ranked AS (
       |  SELECT a.q_id, a.probe_label, e.vec_id AS c_id, $cosQE AS cos,
       |    row_number() OVER (PARTITION BY a.q_id ORDER BY $cosQE DESC, e.vec_id ASC) AS rn
       |  FROM assigned a JOIN embeddings e
       |    ON e.label = a.probe_label AND e.vec_id <> a.q_id)
       |SELECT q_id, probe_label, c_id, round(cos, 4) AS cosine, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
  }

  /** Two unrolled Lloyd iterations of k-means (k = 8, seeds = the 8
    * lowest vec_ids) — the clustering step under SemDeDup / IVF-index
    * training, declared as a query so the iteration itself is
    * oracle-checked (assignments, centroid recompute, convergence
    * movement). Scale shape per round: assignment is a broadcast of k
    * centroid rows against the streamed corpus (fan-out ×k, argmin as a
    * map-side-combinable min_by — no per-vector sort window), and the
    * centroid recompute is one (cluster, dim)-keyed hash-agg. That is the
    * canonical distributed k-means plan; more rounds = more passes, never
    * a bigger shuffle. Determinism: distances round to 6 before the
    * argmin with a cluster-id tie-break (the repo's float-ordering rule),
    * the recomputed centroid goes through the same double-avg → FLOAT
    * cast on both engines, and inertia sums exact integer micros.
    */
  def kmeansLloyd(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val seeds = e.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val asg1 = e.crossJoin(broadcast(seeds))
      .withColumn("d", round(expr("l2_sq(embedding, cemb)"), 6))
      .groupBy("vec_id")
      .agg(expr("min_by(cid, struct(d, cid))").as("a1"),
        first(col("embedding")).as("embedding"))
    val cent2 = asg1
      .select(col("a1").as("cid2"), posexplode(col("embedding")))
      .groupBy("cid2", "pos")
      .agg(avg(col("col").cast("double")).as("avg_v"))
      .groupBy("cid2")
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, avg_v))), p -> CAST(p.avg_v AS FLOAT))")
        .as("cemb2"))
    asg1.crossJoin(broadcast(cent2))
      .withColumn("d", round(expr("l2_sq(embedding, cemb2)"), 6))
      .groupBy("vec_id")
      .agg(expr("min_by(struct(cid2, d), struct(d, cid2))").as("best"),
        first(col("a1")).as("a1"))
      .select(col("vec_id"), col("a1"), col("best.cid2").as("cluster"),
        col("best.d").as("d2"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(expr("CAST(round(d2 * 1e6) AS BIGINT)")) / 1e6, 4).as("inertia"),
        count(when(col("a1") =!= col("cluster"), 1)).as("n_moved"))
      .orderBy("cluster")
  }

  private val kmeansLloydSql = {
    def l2(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin
    s"""WITH seeds AS (
       |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |  ORDER BY vec_id LIMIT 8
       |), asg1 AS (
       |  SELECT vec_id, embedding, cid AS a1 FROM (
       |    SELECT e.vec_id, e.embedding, s.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${l2("e.embedding", "s.cemb")}, 6) ASC, s.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN seeds s)
       |  WHERE rn = 1
       |), cent2 AS (
       |  SELECT a1 AS cid2,
       |    list_transform(list(avg_v ORDER BY dim), x -> CAST(x AS FLOAT)) AS cemb2
       |  FROM (
       |    SELECT a1, dim, avg(CAST(v AS DOUBLE)) AS avg_v
       |    FROM (SELECT a1, unnest(embedding) AS v,
       |            generate_subscripts(embedding, 1) AS dim
       |          FROM asg1)
       |    GROUP BY a1, dim)
       |  GROUP BY a1
       |), asg2 AS (
       |  SELECT vec_id, a1, cid2 AS cluster, d2 FROM (
       |    SELECT t.vec_id, t.a1, c.cid2,
       |      round(${l2("t.embedding", "c.cemb2")}, 6) AS d2,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY round(${l2("t.embedding", "c.cemb2")}, 6) ASC, c.cid2 ASC) AS rn
       |    FROM asg1 t CROSS JOIN cent2 c)
       |  WHERE rn = 1)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
       |  round(sum(CAST(round(d2 * 1e6) AS BIGINT)) / 1e6, 4) AS inertia,
       |  CAST(count(CASE WHEN a1 <> cluster THEN 1 END) AS BIGINT) AS n_moved
       |FROM asg2 GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  /** Per-label centroid vectors themselves, exploded per dimension —
    * exercises the typed Aggregator end-to-end against an avg-per-dim
    * oracle.
    */
  def centroids(s: SparkSession, dir: String): DataFrame = {
    val centroidUdaf = udaf(new VectorCentroid, ExpressionEncoder[Seq[Float]]())
    Tables.embeddings(s, dir)
      .groupBy("label")
      .agg(centroidUdaf(col("embedding")).as("centroid"), count(lit(1)).as("n_vectors"))
      .select(col("label"), col("n_vectors"), posexplode(col("centroid")))
      .select(col("label"), col("n_vectors"), col("pos").as("dim"),
        round(col("col"), 6).as("val"))
      .orderBy("label", "dim")
  }

  private val centroidsSql =
    """SELECT label, n_vectors, dim, round(avg_v, 6) AS val
      |FROM (
      |  SELECT label, CAST(dim - 1 AS INT) AS dim, avg(CAST(v AS DOUBLE)) AS avg_v,
      |    CAST(count(*) AS BIGINT) AS n_vectors
      |  FROM (SELECT label, unnest(embedding) AS v,
      |          generate_subscripts(embedding, 1) AS dim
      |        FROM embeddings)
      |  GROUP BY label, dim)
      |ORDER BY label, dim""".stripMargin

  /** Random-hyperplane LSH ANN (the other scale path besides IVF):
    * 4 signed pseudo-random hyperplanes bucket every vector into one of 16
    * cells; a query probes its own cell plus the 4 Hamming-1 neighbors
    * (multi-probe, the standard recall/latency dial). The ±1 plane
    * coefficients come from the parity of the first md5 nibble of "p:d" —
    * *portable* arithmetic, so the same bucketing runs in DuckDB and the
    * query is oracle-checked; recall vs. exact brute-force stays pinned in
    * SimilaritySpec.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    // native codegen'd bucket (functions.HyperplaneOps): the md5-parity
    // sign matrix is computed once per shape, each row costs 4×64 fused
    // multiply-adds — bit-identical to the HOF/oracle arithmetic, and
    // immune to being inlined into the broadcast join condition (which
    // made the interpreted HOF form re-evaluate per candidate×probe pair)
    val bucketExpr = expr("hyperplane_bucket(embedding, 4)")
    val e = Tables.embeddings(s, dir).withColumn("bucket", bucketExpr)
    // multi-probe: the query's own cell plus its 4 Hamming-1 neighbors —
    // the standard recall/latency dial for hyperplane LSH
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(expr("array(bucket, bucket ^ 1, bucket ^ 2, bucket ^ 4, bucket ^ 8)"))
          .as("probe"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("bucket"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    cand.join(broadcast(q), col("bucket") === col("probe") && col("q_id") =!= col("c_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, c_emb)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("bucket"), col("c_id"),
        round(col("cos"), 4).as("cosine"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val lshTopKSql = {
    val cos = cosineSqlDuck.replace("QA", "p.q_emb").replace("QB", "c.embedding")
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(0, 4), p ->
       |      CASE WHEN list_sum(list_transform(list_zip(embedding, range(0, len(embedding))),
       |        pr -> CAST(pr[1] AS DOUBLE) *
       |          (CASE WHEN (instr('0123456789abcdef',
       |             substr(md5(concat_ws(':', p, pr[2])), 1, 1)) - 1) % 2 = 0
       |           THEN 1 ELSE -1 END))) > 0
       |      THEN (1 << CAST(p AS INT)) ELSE 0 END)) AS INT) AS bucket
       |  FROM embeddings
       |), probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |    unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS probe
       |  FROM bucketed WHERE vec_id < 10
       |), ranked AS (
       |  SELECT p.q_id, c.bucket, c.vec_id AS c_id, $cos AS cos,
       |    row_number() OVER (PARTITION BY p.q_id ORDER BY $cos DESC, c.vec_id ASC) AS rn
       |  FROM probes p JOIN bucketed c ON c.bucket = p.probe AND c.vec_id <> p.q_id
       |)
       |SELECT q_id, bucket, c_id, round(cos, 4) AS cosine, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
  }

  /** ANN quality evaluation as a query: recall@3 of the hyperplane-LSH
    * index against the brute-force ground truth, per query vector — the
    * eval loop every production ANN deployment runs on a held-out slice.
    * Reuses [[bruteTopK]] / [[lshTopK]] unchanged (ground truth and
    * candidate index are the SAME plans the declared queries run) and
    * joins their top-3 sets on (query, candidate); a left join keeps
    * zero-hit queries visible. Fixture recall is high but not perfect —
    * the metric is non-degenerate.
    */
  def recallEval(s: SparkSession, dir: String): DataFrame = {
    val truth = bruteTopK(s, dir).filter(col("rn") <= 3).select(col("q_id"), col("c_id"))
    val approx = lshTopK(s, dir).select(col("q_id"), col("c_id"), lit(1).as("hit"))
    truth.join(approx, Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits") / 3.0, 4).as("recall_at_3"))
      .orderBy("q_id")
  }

  private val recallEvalSql = {
    val cosB = cosineSqlDuck.replace("QA", "q.embedding").replace("QB", "c.embedding")
    val cosL = cosineSqlDuck.replace("QA", "p.q_emb").replace("QB", "c.embedding")
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cosB AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |), truth AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
       |    FROM scored)
       |  WHERE rn <= 3
       |), bucketed AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(0, 4), p ->
       |      CASE WHEN list_sum(list_transform(list_zip(embedding, range(0, len(embedding))),
       |        pr -> CAST(pr[1] AS DOUBLE) *
       |          (CASE WHEN (instr('0123456789abcdef',
       |             substr(md5(concat_ws(':', p, pr[2])), 1, 1)) - 1) % 2 = 0
       |           THEN 1 ELSE -1 END))) > 0
       |      THEN (1 << CAST(p AS INT)) ELSE 0 END)) AS INT) AS bucket
       |  FROM embeddings
       |), probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |    unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS probe
       |  FROM bucketed WHERE vec_id < 10
       |), approx AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT p.q_id, c.vec_id AS c_id, $cosL AS cos,
       |      row_number() OVER (PARTITION BY p.q_id ORDER BY $cosL DESC, c.vec_id ASC) AS rn
       |    FROM probes p JOIN bucketed c ON c.bucket = p.probe AND c.vec_id <> p.q_id)
       |  WHERE rn <= 3
       |)
       |SELECT t.q_id,
       |  CAST(count(a.c_id) AS BIGINT) AS n_hits,
       |  round(count(a.c_id) / 3.0, 4) AS recall_at_3
       |FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.c_id = a.c_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  }

  /** Int8 scalar quantization — the 4× storage/bandwidth reduction step a
    * 100 TB vector corpus runs before indexing. Symmetric per-vector scale
    * (max|x|/127), round-half-up to match both engines, then measure the
    * cosine drift of the dequantized vector against the original. All in
    * codegen'd HOFs; parity is exact because both sides quantize in double.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .withColumn("scale", expr(
        "aggregate(embedding, 0D, (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) / 127D"))
      .withColumn("q", expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT))"))
      .withColumn("dq", expr("transform(q, v -> CAST(v * scale AS FLOAT))"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale"),
        expr("aggregate(q, 0, (a, v) -> greatest(a, abs(v)))").as("max_q"),
        round(expr("cosine_sim(embedding, dq)"), 4).as("cos_vs_original"))
      .orderBy("vec_id")
  }

  private val quantizeInt8Sql = {
    val cos = cosineSqlDuck.replace("QA", "embedding").replace("QB", "dq")
    s"""SELECT vec_id, round(scale, 6) AS scale,
       |  CAST(list_max(list_transform(q, v -> abs(v))) AS INT) AS max_q,
       |  round($cos, 4) AS cos_vs_original
       |FROM (
       |  SELECT vec_id, embedding, scale,
       |    list_transform(q, v -> CAST(v * scale AS FLOAT)) AS dq, q
       |  FROM (
       |    SELECT vec_id, embedding, scale,
       |      list_transform(embedding,
       |        x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT)) AS q
       |    FROM (
       |      SELECT vec_id, embedding,
       |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
       |      FROM embeddings)))
       |ORDER BY vec_id""".stripMargin
  }

  /** Product quantization (PQ) with asymmetric distance computation — the
    * third ANN scale path next to IVF and LSH, and the compression step an
    * IVF-PQ index runs at 100 TB: 8 subspaces × 8 dims, each subvector
    * replaced by the id of its nearest sub-codeword (here: the per-label
    * centroid slice — a deterministic codebook both engines can derive),
    * so a 64×float32 vector stores as 8 bytes. Scoring is ADC: the RAW
    * query against each candidate's RECONSTRUCTED vector.
    *
    * Scale shape: encoding is the one-time index build (candidates ×
    * small broadcast codebook, embarrassingly parallel); the query path is
    * broadcast queries × candidate scan over 8-byte codes + one shared
    * codebook lookup — no all-pairs shuffle anywhere. Ranking follows the
    * float-ordering rule (rounded distance, id tie-break); double→float
    * centroid cast collapses engine ulp drift exactly as in [[ivfTopK]].
    */
  def pqAdcTopK(s: SparkSession, dir: String): DataFrame = {
    val centroidUdaf = udaf(new VectorCentroid, ExpressionEncoder[Seq[Float]]())
    val e = Tables.embeddings(s, dir)
    // codebook: per-label 64-dim centroid (float), sliced into 8 codewords
    val codebook = e.groupBy("label")
      .agg(centroidUdaf(col("embedding")).as("centroid_d"))
      .withColumn("centroid", expr("transform(centroid_d, x -> CAST(x AS FLOAT))"))
      .select(col("label").as("cw_id"), explode(expr(
        "transform(sequence(0, 7), m -> struct(m AS m, slice(centroid, m * 8 + 1, 8) AS cw))"))
        .as("sub"))
      .select(col("cw_id"), col("sub.m").as("m"), col("sub.cw").as("cw"))
    // encode: nearest codeword per (vector, subspace) — L2² through the
    // codegen'd l2_sq kernel (bit-identical to the HOF/oracle fold);
    // rounded-argmin with codeword-id tie-break (the float-ordering rule),
    // computed as a map-side-combining min_by over a lexicographic struct
    // rather than a sort window
    val subs = e.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), m -> struct(m AS m, slice(embedding, m * 8 + 1, 8) AS sv))"))
        .as("sub"))
      .select(col("vec_id"), col("sub.m").as("m"), col("sub.sv").as("sv"))
    val codes = subs.join(broadcast(codebook), "m")
      .withColumn("d2", round(expr("l2_sq(sv, cw)"), 6))
      .groupBy("vec_id", "m")
      .agg(expr("min_by(cw, struct(d2, cw_id))").as("cw"))
    // reconstruct each candidate from its codewords (ordered concat)
    val recon = codes.groupBy("vec_id")
      .agg(flatten(expr("transform(array_sort(collect_list(struct(m, cw))), s -> s.cw)"))
        .as("rvec"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(asc("adc_dist"), asc("c_id"))
    recon.select(col("vec_id").as("c_id"), col("rvec"))
      .join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("adc_dist", round(expr("l2_sq(q_emb, rvec)"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("c_id"), col("adc_dist"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val pqAdcTopKSql = {
    def l2(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin
    s"""WITH centroids AS (
       |  SELECT label AS cw_id,
       |    list_transform(list(avg_v ORDER BY dim), x -> CAST(x AS FLOAT)) AS centroid
       |  FROM (
       |    SELECT label, dim, avg(CAST(v AS DOUBLE)) AS avg_v
       |    FROM (SELECT label, unnest(embedding) AS v,
       |            generate_subscripts(embedding, 1) AS dim
       |          FROM embeddings)
       |    GROUP BY label, dim)
       |  GROUP BY label
       |), codebook AS (
       |  SELECT cw_id, m, centroid[m * 8 + 1 : m * 8 + 8] AS cw
       |  FROM centroids CROSS JOIN (SELECT unnest(range(0, 8)) AS m)
       |), subs AS (
       |  SELECT vec_id, m, embedding[m * 8 + 1 : m * 8 + 8] AS sv
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS m)
       |), codes AS (
       |  SELECT vec_id, m, cw FROM (
       |    SELECT s.vec_id, s.m, b.cw,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY round(${l2("s.sv", "b.cw")}, 6) ASC, b.cw_id ASC) AS rn
       |    FROM subs s JOIN codebook b ON s.m = b.m)
       |  WHERE rn = 1
       |), recon AS (
       |  SELECT vec_id, flatten(list(cw ORDER BY m)) AS rvec
       |  FROM codes GROUP BY vec_id
       |), ranked AS (
       |  SELECT q.vec_id AS q_id, r.vec_id AS c_id,
       |    round(${l2("q.embedding", "r.rvec")}, 4) AS adc_dist,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${l2("q.embedding", "r.rvec")}, 4) ASC, r.vec_id ASC) AS rn
       |  FROM embeddings q JOIN recon r ON q.vec_id < 10 AND q.vec_id <> r.vec_id)
       |SELECT q_id, c_id, adc_dist, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
  }

  /** BM25 lexical retrieval (k1 = 1.2, b = 0.75) — the sparse-retrieval
    * complement to the dense top-k queries: a FIXED 50-probe query
    * workload (the first 50 doc_id % 100 = 0 documents by id — the
    * retrieval-bench contract: the query set stays constant while the
    * corpus grows, so scoring work scales with the postings list, never
    * quadratically with corpus size); candidates are scored through the
    * classic inverted-index shape (postings keyed by term, query term set
    * broadcast), so the only wide shuffle is the per-(query, doc)
    * partial-sum aggregation — the same plan a 100 TB corpus would run,
    * with the postings list disk-resident and the query side always the
    * broadcast side. Ranking follows the float-ordering rule: row_number
    * over the ROUNDED score with a doc-id tie-break, identical in both
    * engines.
    */
  /** Input-size threshold above which [[bm25TopK]] materializes its
    * postings list instead of recomputing the lineage per consumer.
    * Overridable per session (`graft.bm25.materializeMinBytes`). The
    * crossover is measured: at sf0.1 (~0.6 MB of documents) the lazy
    * recompute beats materialization ~2× (codegen'd re-scan vs parquet
    * round-trip), but at 10× the corpus the four consumers re-exploding
    * the term frame inverts hard (21.4× wall-time scaling measured in the
    * r5 sweep). The default sits between those two measured points.
    */
  private[graft] def bm25MaterializeMinBytes(s: SparkSession): Long =
    s.conf.getOption("graft.bm25.materializeMinBytes")
      .map(_.toLong).getOrElse(4L << 20)

  /** The shared BM25 inverted-index frames — (tf postings with the doc
    * length inline, document frequencies, corpus stats) — size-gated
    * exactly as before; factored out so [[prfExpansion]] and
    * [[hybridRrf]] reuse one index build.
    *
    * The postings build is MAP-ONLY (optimization r17, guide §2.4): per-doc
    * (term, tf) counting is intra-row work over the sorted token array
    * (run-length boundaries via codegen'd HOFs), where the previous
    * explode + groupBy(doc_id, term) shuffled every token INSTANCE of the
    * corpus just to count within single documents. dl (doc length = Σ tf =
    * token count) rides along from size(), so scoring never joins a
    * separate doc-length frame — one join and one corpus-sized exchange
    * removed from every consumer, at any scale.
    */
  private def bm25Index(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = "array_remove(split(text, ' ', -1), '')"
    val docsRel = Tables.documents(s, dir)
    // the postings list (doc, term, tf, dl). Several consumers derive from
    // it (query side, scoring join, document frequency), so the build is
    // SIZE-GATED like the graph broadcasts: below the threshold the
    // lineage stays lazy (recompute inside whole-stage codegen beats a
    // materialization round-trip at bench scale — and is now shuffle-free);
    // above it the postings are written ONCE to scratch parquet and every
    // consumer scans the materialized index — the disk-resident inverted
    // index every retrieval system builds once per corpus, which is the
    // only shape that survives 100 TB (four full re-tokenizations of the
    // corpus do not).
    val tfLineage = docsRel
      .select(col("doc_id"), expr(s"array_sort($toks)").as("srt"))
      .filter(size(col("srt")) > 0)
      .withColumn("bs", expr(SharedExprs.runLengthBounds("srt")))
      .select(col("doc_id"), size(col("srt")).cast("long").as("dl"),
        explode(expr(SharedExprs.runLengthCounts("srt", "bs", "term", "tf")))
          .as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"),
        col("dl"))
    val tf =
      if (Materialize.inputBytes(docsRel) <= bm25MaterializeMinBytes(s)) tfLineage
      else Materialize.toScratch(tfLineage, "bm25-postings")
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = tf.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl").cast("double")).as("avgdl"))
    (tf, dfT, stats)
  }

  /** Per-posting BM25 weight columns: idf(term) and tfn(term, doc)
    * computed ONCE on the |postings| rows (optimization r18, guide §2.3
    * compute-before-the-expansion): idf depends only on the term and tfn
    * only on the posting, but the old shape computed both AFTER the query
    * join — on the fixture that is 4.48M pair rows re-deriving the
    * log()/division arithmetic that 116k posting rows determine (38×
    * redundant scalar work, and the df/stats joins ran per pair frame
    * instead of per postings frame). Contribution values are bit-identical
    * (same expressions over the same inputs in the same order), so every
    * consumer's rounded sums are unchanged — oracle-verified at both SFs.
    */
  private def bm25Weights(tf: DataFrame, dfT: DataFrame, stats: DataFrame): DataFrame =
    tf.join(dfT, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("tfn",
        col("tf") * 2.2 / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .select(col("doc_id"), col("term"), col("idf"), col("tfn"))

  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val (tf, dfT, stats) = bm25Index(s, dir)
    // fixed query budget: sort-limit on the tiny filtered id set plans as
    // TakeOrdered; the budget caps the broadcast side at any corpus size
    val qDocs = Tables.documents(s, dir).select("doc_id")
      .filter(col("doc_id") % 100 === 0)
      .orderBy("doc_id").limit(50)
    val q = tf.join(broadcast(qDocs), "doc_id")
      .select(col("doc_id").as("q_id"), col("term").as("q_term"))
    val scored = bm25Weights(tf, dfT, stats)
      .join(broadcast(q), col("term") === col("q_term") && col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(col("idf") * col("tfn")), 4).as("bm25"))
    val w = Window.partitionBy("q_id").orderBy(desc("bm25"), asc("doc_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("doc_id").as("d_id"), col("bm25"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val bm25TopKSql =
    """WITH t AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM t GROUP BY 1
      |), df AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
      |), q_docs AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 100 = 0 ORDER BY doc_id LIMIT 50
      |), q AS (
      |  SELECT tf.doc_id AS q_id, term AS q_term FROM tf JOIN q_docs USING (doc_id)
      |), scored AS (
      |  SELECT q.q_id, tf.doc_id AS d_id,
      |    round(sum(
      |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))), 4) AS bm25
      |  FROM tf JOIN q ON tf.term = q.q_term AND tf.doc_id <> q.q_id
      |  JOIN df USING (term)
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN stats
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT q_id, d_id, bm25,
      |    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, d_id ASC) AS rn
      |  FROM scored)
      |SELECT q_id, d_id, bm25, CAST(rn AS INT) AS rn
      |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack/Clarke/Buettcher
    * SIGIR'09): the sparse arm (BM25, k1 = 1.2, b = 0.75) and the dense
    * arm (exact cosine) each rank top-20 per query, and the fused score is
    * Σ 1/(60 + rank) over the arms a candidate appears in — rank fusion
    * needs no score calibration between arms, which is why it is the
    * default hybrid in retrieval stacks. The fixture ties doc_id to
    * vec_id (embedding of document i is row i), so queries 0-9 run both
    * arms. Scale shape: each arm is the proven per-arm plan (broadcast
    * query side, keyed candidate scoring, bounded per-query window); the
    * fusion is a full outer join on (query, candidate) — two top-20 lists
    * per query, so the fused frame is ≤ 40 rows per query regardless of
    * corpus size. RRF scores are sums of 1/(60+r) for integer r, so both
    * engines compute bit-identical doubles; ranking still tie-breaks on
    * candidate id.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    // dense arm — cosine rank over the rounded score (float-ordering rule)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val wd = Window.partitionBy("q_id").orderBy(desc("cos_r"), asc("c_id"))
    val dense = cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, c_emb)"), 6))
      .withColumn("r_dense", row_number().over(wd))
      .filter(col("r_dense") <= 20)
      .select(col("q_id"), col("c_id"), col("r_dense"))
    // sparse arm — BM25 with the same formula as [[bm25TopK]], query set
    // fixed to ids 0-9; the postings/df/stats frames come from the ONE
    // shared [[bm25Index]] build (map-only postings, dl inline) instead of
    // a private explode + three shuffled aggregates
    val (tf, dfT, stats) = bm25Index(s, dir)
    val qLex = tf.filter(col("doc_id") < 10)
      .select(col("doc_id").as("q_id"), col("term").as("q_term"))
    val wl = Window.partitionBy("q_id").orderBy(desc("bm25"), asc("doc_id"))
    val lex = bm25Weights(tf, dfT, stats)
      .join(broadcast(qLex), col("term") === col("q_term") && col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(col("idf") * col("tfn")), 4).as("bm25"))
      .withColumn("r_lex", row_number().over(wl))
      .filter(col("r_lex") <= 20)
      .select(col("q_id"), col("doc_id").as("c_id"), col("r_lex"))
    val wf = Window.partitionBy("q_id").orderBy(desc("rrf"), asc("c_id"))
    lex.join(dense, Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("c_id"), round(col("rrf"), 6).as("rrf"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val hybridRrfSql = {
    val cos = cosineSqlDuck.replace("QA", "q.embedding").replace("QB", "c.embedding")
    s"""WITH dense AS (
       |  SELECT q_id, c_id, rd AS r_dense FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round($cos, 6) DESC, c.vec_id ASC) AS rd
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |  WHERE rd <= 20
       |), t AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
       |), df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
       |), q AS (
       |  SELECT doc_id AS q_id, term AS q_term FROM tf WHERE doc_id < 10
       |), lex AS (
       |  SELECT q_id, c_id, rl AS r_lex FROM (
       |    SELECT q_id, d_id AS c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, d_id ASC) AS rl
       |    FROM (
       |      SELECT q.q_id, tf.doc_id AS d_id,
       |        round(sum(
       |          ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |          * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))), 4) AS bm25
       |      FROM tf JOIN q ON tf.term = q.q_term AND tf.doc_id <> q.q_id
       |      JOIN df USING (term)
       |      JOIN dl ON tf.doc_id = dl.doc_id
       |      CROSS JOIN stats
       |      GROUP BY 1, 2))
       |  WHERE rl <= 20
       |), fused AS (
       |  SELECT coalesce(l.q_id, d.q_id) AS q_id, coalesce(l.c_id, d.c_id) AS c_id,
       |    coalesce(1.0 / (60 + l.r_lex), 0.0) + coalesce(1.0 / (60 + d.r_dense), 0.0) AS rrf
       |  FROM lex l FULL JOIN dense d ON l.q_id = d.q_id AND l.c_id = d.c_id
       |), ranked AS (
       |  SELECT q_id, c_id, rrf,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id ASC) AS rn
       |  FROM fused)
       |SELECT q_id, c_id, round(rrf, 6) AS rrf, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin
  }

  /** Radius (ε-neighborhood) search — the API's complement to top-k: ALL
    * candidates within cosine ≥ 0.35 of each query, however many or few
    * that is (dedup gating and recall-first retrieval want "everything
    * this similar", not a fixed k). Scale shape is the leanest in the
    * family: broadcast queries × streamed corpus through the codegen'd
    * cosine kernel, then a pure filter — no per-query window, no top-k
    * state, no shuffle at all before the final output sort. Both engines
    * evaluate the same left-to-right 64-dim double fold, so the threshold
    * compare is engine-stable.
    */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, c_emb)"))
      .filter(col("cos") >= 0.35)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cosine"))
      .orderBy("q_id", "c_id")
  }

  private val rangeSearchSql = {
    val cos = cosineSqlDuck.replace("QA", "q.embedding").replace("QB", "c.embedding")
    s"""SELECT q.vec_id AS q_id, c.vec_id AS c_id, round($cos, 4) AS cosine
       |FROM embeddings q JOIN embeddings c
       |  ON q.vec_id < 10 AND q.vec_id <> c.vec_id
       |WHERE $cos >= 0.35
       |ORDER BY q_id, c_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Embedding-space isotropy diagnostics — the one-pass health report a
  // corpus owner runs BEFORE trusting any ANN index: anisotropic or
  // collapsed embedding spaces silently destroy recall. The key identity
  // makes it 100 TB-shaped: mean pairwise cosine of unit vectors needs NO
  // pair enumeration, because Σᵢ≠ⱼ x̂ᵢ·x̂ⱼ = ‖Σx̂‖² − Σ‖x̂‖² — two
  // sufficient statistics from ONE streaming pass (per-dim component
  // sums + per-vector self-products). Determinism: unit components are
  // quantized to integer 1e-6 units up front, so every downstream moment
  // (‖Σx̂‖², per-dim variance numerators n·Σm²−S², the diagonal
  // participation ratio) is exact DECIMAL(38,0) integer arithmetic; the
  // only doubles are final display ratios and one 64-element
  // pos-ordered fold for ΣV² (dim-bounded, order-pinned on both
  // engines). Reported cosine is the quantized statistic — identical by
  // construction, within 1e-4 of the float truth.
  // ------------------------------------------------------------------
  def embeddingIsotropy(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"))
      .withColumn("nrm6", expr("CAST(round(nrm * 1e6) AS BIGINT)"))
    val totals = e.agg(count(lit(1)).as("n"), sum("nrm6").as("snrm6"))
    val dims = e.select(col("nrm"), posexplode(col("embedding")))
      .withColumn("m", expr("CAST(round(CAST(col AS DOUBLE) / nrm * 1e6) AS BIGINT)"))
      .groupBy("pos")
      .agg(sum("m").as("sd"),
        sum(expr("CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))")).as("ssq"))
      .crossJoin(broadcast(totals))
      .withColumn("vnum", expr(
        "CAST(n AS DECIMAL(38,0)) * ssq - CAST(sd AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0))"))
    dims.agg(
        first(col("n")).as("n"), first(col("snrm6")).as("snrm6"),
        count(lit(1)).as("dim"),
        sum(expr("CAST(sd AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0))")).as("ss2"),
        sum("ssq").as("self_sq"),
        sum("vnum").as("sumv"), max("vnum").as("maxv"),
        expr("aggregate(array_sort(collect_list(struct(pos, CAST(vnum AS DOUBLE) AS v)))," +
          " 0D, (a, p) -> a + p.v * p.v)").as("sumv2"))
      .select(col("n").as("n_vectors"), col("dim"),
        round(expr("CAST(snrm6 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6"), 4).as("mean_norm"),
        round(expr("CAST(ss2 - self_sq AS DOUBLE)" +
          " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 1e12"), 6)
          .as("mean_pairwise_cosine"),
        round(expr("CAST(maxv AS DOUBLE) / CAST(sumv AS DOUBLE)"), 4)
          .as("top_dim_var_share"),
        round(expr("CAST(sumv AS DOUBLE) * CAST(sumv AS DOUBLE) / sumv2"), 4)
          .as("participation_ratio"))
  }

  private val embeddingIsotropySql =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |withn AS (
      |  SELECT vec_id, embedding, nrm,
      |    CAST(round(nrm * 1e6) AS BIGINT) AS nrm6 FROM base),
      |totals AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(nrm6) AS BIGINT) AS snrm6
      |  FROM withn),
      |comps AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) / nrm * 1e6) AS BIGINT) AS m
      |  FROM withn),
      |dims AS (
      |  SELECT pos, CAST(sum(m) AS BIGINT) AS sd,
      |    sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS ssq
      |  FROM comps GROUP BY pos),
      |vd AS (
      |  SELECT pos, sd, ssq,
      |    CAST(n AS HUGEINT) * ssq - CAST(sd AS HUGEINT) * CAST(sd AS HUGEINT) AS vnum
      |  FROM dims, totals),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS dim,
      |    sum(CAST(sd AS HUGEINT) * CAST(sd AS HUGEINT)) AS ss2,
      |    sum(ssq) AS self_sq, sum(vnum) AS sumv, max(vnum) AS maxv,
      |    list_sum(list_transform(list(CAST(vnum AS DOUBLE) ORDER BY pos),
      |      v -> v * v)) AS sumv2
      |  FROM vd)
      |SELECT n AS n_vectors, dim,
      |  round(CAST(snrm6 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 4) AS mean_norm,
      |  round(CAST(ss2 - self_sq AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 1e12, 6)
      |    AS mean_pairwise_cosine,
      |  round(CAST(maxv AS DOUBLE) / CAST(sumv AS DOUBLE), 4) AS top_dim_var_share,
      |  round(CAST(sumv AS DOUBLE) * CAST(sumv AS DOUBLE) / sumv2, 4)
      |    AS participation_ratio
      |FROM agg, totals""".stripMargin

  // ------------------------------------------------------------------
  // Simplified silhouette (centroid-based, the Spark-MLlib evaluator's
  // formulation): per point, a = distance to OWN label centroid, b = min
  // distance to any OTHER label centroid, s = (b−a)/max(a,b) — the
  // cluster-quality number that decides whether the IVF coarse quantizer
  // / SemDeDup clusters are worth trusting. Exact-pair silhouette is
  // O(n²) and banned at scale; this form is one broadcast of k centroid
  // rows against the streamed corpus (identical plan shape to the IVF
  // probe). Determinism: distances quantize to 1e-6 integers, each
  // point's silhouette to an integer 1e-4 grid via ONE double division,
  // per-label means are exact integer sums over those grid values.
  // ------------------------------------------------------------------
  def silhouetteSimplified(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = e.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label").as("c_label"), col("pos"))
      .agg(avg(col("col").cast("double")).as("avg_v"))
      .groupBy("c_label")
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, avg_v))), p -> CAST(p.avg_v AS FLOAT))")
        .as("cemb"))
    e.crossJoin(broadcast(cents))
      .withColumn("d6", expr("CAST(round(l2_sq(embedding, cemb) * 1e6) AS BIGINT)"))
      .groupBy("vec_id", "label")
      .agg(min(when(col("label") === col("c_label"), col("d6"))).as("a6"),
        min(when(col("label") =!= col("c_label"), col("d6"))).as("b6"))
      .withColumn("s4", expr(
        "CAST(round(CAST(b6 - a6 AS DOUBLE) * 1e4" +
          " / CAST(greatest(a6, b6, 1) AS DOUBLE)) AS BIGINT)"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        round(expr("CAST(sum(s4) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1e4"), 4)
          .as("mean_silhouette"))
      .orderBy("label")
  }

  private val silhouetteSimplifiedSql = {
    val l2 =
      """list_sum(list_transform(list_zip(e.embedding, c.cemb),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin
    s"""WITH cents AS (
       |  SELECT label AS c_label,
       |    list_transform(list(avg_v ORDER BY dim), x -> CAST(x AS FLOAT)) AS cemb
       |  FROM (
       |    SELECT label, dim, avg(CAST(v AS DOUBLE)) AS avg_v
       |    FROM (SELECT label, unnest(embedding) AS v,
       |            generate_subscripts(embedding, 1) AS dim
       |          FROM embeddings)
       |    GROUP BY label, dim)
       |  GROUP BY label),
       |dists AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    CAST(round($l2 * 1e6) AS BIGINT) AS d6
       |  FROM embeddings e CROSS JOIN cents c),
       |ab AS (
       |  SELECT vec_id, label,
       |    min(CASE WHEN label = c_label THEN d6 END) AS a6,
       |    min(CASE WHEN label <> c_label THEN d6 END) AS b6
       |  FROM dists GROUP BY 1, 2),
       |sil AS (
       |  SELECT label,
       |    CAST(round(CAST(b6 - a6 AS DOUBLE) * 1e4
       |      / CAST(greatest(a6, b6, 1) AS DOUBLE)) AS BIGINT) AS s4
       |  FROM ab)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
       |  round(CAST(sum(s4) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e4, 4)
       |    AS mean_silhouette
       |FROM sil GROUP BY label ORDER BY label""".stripMargin
  }

  // ------------------------------------------------------------------
  // Ranking-quality evaluation of the dense retriever: nDCG@10, MRR@10
  // and precision@5 of the brute-force cosine ranking, with relevance =
  // label agreement — the offline eval harness every retrieval deployment
  // runs before swapping an index. Scale shape: the 20-query panel is
  // broadcast against the streamed corpus (the sim_brute_topk plan), the
  // metric fold touches ≤10 rows per query. Determinism: the log₂
  // discounts are PRECOMPUTED integer literals (round(1e6/log₂(i+1)) and
  // their prefix sums for the ideal DCG), so DCG/IDCG are exact integer
  // sums; each query's nDCG and reciprocal rank quantize to a 1e-4 grid
  // through one double division before the exact-integer panel mean.
  // ------------------------------------------------------------------
  def rankingMetrics(s: SparkSession, dir: String): DataFrame = {
    val disc = "array(1000000L, 630930L, 500000L, 430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)"
    val pref = "array(1000000L, 1630930L, 2130930L, 2561607L, 2948460L, 3304667L, 3638000L, 3953465L, 4254495L, 4543560L)"
    val e = Tables.embeddings(s, dir)
    val labCnt = e.groupBy(col("label").as("q_label")).agg(count(lit(1)).as("lc"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
      .join(labCnt, "q_label")
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("label").as("c_label"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos6"), asc("c_id"))
    cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos6", round(expr("cosine_sim(q_emb, c_emb)"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .withColumn("rel", (col("c_label") === col("q_label")).cast("long"))
      .groupBy("q_id")
      .agg(first("lc").as("lc"),
        sum(expr(s"rel * element_at($disc, rn)")).as("dcg"),
        min(when(col("rel") === 1L, col("rn"))).as("fr"),
        sum(when(col("rn") <= 5, col("rel")).otherwise(0L)).as("p5"))
      .withColumn("r", expr("least(lc - 1, 10)"))
      .withColumn("ndcg4", expr(
        s"CASE WHEN r <= 0 THEN 0L ELSE CAST(round(1e4 * CAST(dcg AS DOUBLE)" +
          s" / CAST(element_at($pref, CAST(r AS INT)) AS DOUBLE)) AS BIGINT) END"))
      .withColumn("mrr4", expr(
        "CASE WHEN fr IS NULL THEN 0L" +
          " ELSE CAST(round(1e4 / CAST(fr AS DOUBLE)) AS BIGINT) END"))
      .agg(count(lit(1)).as("n_queries"),
        round(expr("CAST(sum(ndcg4) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1e4"), 4)
          .as("mean_ndcg10"),
        round(expr("CAST(sum(mrr4) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1e4"), 4)
          .as("mrr10"),
        round(expr("CAST(sum(p5) AS DOUBLE) / (5.0 * CAST(count(1) AS DOUBLE))"), 4)
          .as("mean_prec5"))
  }

  private val rankingMetricsSql = {
    val cos = cosineSqlDuck.replace("QA", "q.q_emb").replace("QB", "c.c_emb")
    """WITH labcnt AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS lc
      |  FROM embeddings GROUP BY 1),
      |q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label, lc
      |  FROM embeddings JOIN labcnt USING (label) WHERE vec_id < 20),
      |ranked AS (
      |  SELECT q_id, lc, rn,
      |    CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel
      |  FROM (
      |    SELECT q.q_id, q.lc, q.q_label, c.label AS c_label,
      |      row_number() OVER (PARTITION BY q.q_id
      |        ORDER BY round(COS_EXPR, 6) DESC, c.vec_id ASC) AS rn
      |    FROM q JOIN (SELECT vec_id, embedding AS c_emb, label FROM embeddings) c
      |      ON q.q_id <> c.vec_id)
      |  WHERE rn <= 10),
      |per AS (
      |  SELECT q_id, any_value(lc) AS lc,
      |    CAST(sum(rel * list_extract(
      |      [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065],
      |      rn)) AS BIGINT) AS dcg,
      |    min(CASE WHEN rel = 1 THEN rn END) AS fr,
      |    CAST(sum(CASE WHEN rn <= 5 THEN rel ELSE 0 END) AS BIGINT) AS p5
      |  FROM ranked GROUP BY q_id),
      |grid AS (
      |  SELECT q_id, p5,
      |    CASE WHEN least(lc - 1, 10) <= 0 THEN 0
      |      ELSE CAST(round(1e4 * CAST(dcg AS DOUBLE) / CAST(list_extract(
      |        [1000000, 1630930, 2130930, 2561607, 2948460, 3304667, 3638000, 3953465, 4254495, 4543560],
      |        CAST(least(lc - 1, 10) AS INTEGER)) AS DOUBLE)) AS BIGINT) END AS ndcg4,
      |    CASE WHEN fr IS NULL THEN 0
      |      ELSE CAST(round(1e4 / CAST(fr AS DOUBLE)) AS BIGINT) END AS mrr4
      |  FROM per)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  round(CAST(sum(ndcg4) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e4, 4)
      |    AS mean_ndcg10,
      |  round(CAST(sum(mrr4) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e4, 4) AS mrr10,
      |  round(CAST(sum(p5) AS DOUBLE) / (5.0 * CAST(count(*) AS DOUBLE)), 4)
      |    AS mean_prec5
      |FROM grid""".stripMargin.replace("COS_EXPR", cos)
  }

  // ------------------------------------------------------------------
  // Embedding-distribution drift between two corpus cohorts (labels 0–4
  // as the reference snapshot, 5–9 as the current one — the snapshot
  // proxy this fixture affords): per-dimension two-sample z on the
  // component means, reporting the 5 most-drifted dimensions — the
  // monitoring check that catches a silently retrained/renormalized
  // encoder before stale ANN centroids rot recall. Scale shape: ONE
  // streaming pass (per-dim × cohort exact integer Σ, Σ² over
  // 1e-6-quantized components), then a 64-row frame. The z chain
  // (m̄₁−m̄₂)/√(s₁²/n₁+s₂²/n₂) is doubles from exact DECIMAL integers;
  // ranking quantizes |z| to 1e-6 with a dim tie-break.
  // ------------------------------------------------------------------
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .withColumn("cohort", when(col("label") < 5, "ref").otherwise("cur"))
      .select(col("cohort"), posexplode(col("embedding")))
      .withColumn("m", expr("CAST(round(CAST(col AS DOUBLE) * 1e6) AS BIGINT)"))
      .groupBy("pos", "cohort")
      .agg(count(lit(1)).as("n"), sum("m").as("sm"),
        sum(expr("CAST(m AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))")).as("smm"))
      .withColumn("mean_d", expr("CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("var_d", expr(
        "CAST(n * smm - CAST(sm AS DECIMAL(38,0)) * CAST(sm AS DECIMAL(38,0)) AS DOUBLE)" +
          " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))"))
    val ref = dims.filter(col("cohort") === "ref")
      .select(col("pos"), col("n").as("n_ref"), col("mean_d").as("mu_ref"),
        col("var_d").as("v_ref"))
    val cur = dims.filter(col("cohort") === "cur")
      .select(col("pos").as("pos_c"), col("n").as("n_cur"),
        col("mean_d").as("mu_cur"), col("var_d").as("v_cur"))
    ref.join(cur, col("pos") === col("pos_c"))
      .withColumn("z", expr(
        "(mu_cur - mu_ref) / sqrt(v_ref / CAST(n_ref AS DOUBLE)" +
          " + v_cur / CAST(n_cur AS DOUBLE))"))
      .withColumn("az6", expr("CAST(round(abs(z) * 1e6) AS BIGINT)"))
      .orderBy(col("az6").desc, col("pos").asc)
      .limit(5)
      .select(col("pos").cast("long").as("dim"),
        round(expr("mu_ref / 1e6"), 6).as("mean_ref"),
        round(expr("mu_cur / 1e6"), 6).as("mean_cur"),
        round(col("z"), 4).as("drift_z"))
      .orderBy(col("dim"))
  }

  private val embeddingDriftSql =
    """WITH comps AS (
      |  SELECT CASE WHEN label < 5 THEN 'ref' ELSE 'cur' END AS cohort,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS m
      |  FROM embeddings),
      |dims AS (
      |  SELECT pos, cohort, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(m) AS BIGINT) AS sm,
      |    sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS smm
      |  FROM comps GROUP BY 1, 2),
      |stats AS (
      |  SELECT pos, cohort, n,
      |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d,
      |    CAST(n * smm - CAST(sm AS HUGEINT) * CAST(sm AS HUGEINT) AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var_d
      |  FROM dims),
      |z AS (
      |  SELECT r.pos,
      |    (c.mean_d - r.mean_d)
      |      / sqrt(r.var_d / CAST(r.n AS DOUBLE) + c.var_d / CAST(c.n AS DOUBLE)) AS z,
      |    r.mean_d AS mu_ref, c.mean_d AS mu_cur
      |  FROM (SELECT * FROM stats WHERE cohort = 'ref') r
      |  JOIN (SELECT * FROM stats WHERE cohort = 'cur') c ON r.pos = c.pos),
      |top AS (
      |  SELECT * FROM z
      |  ORDER BY CAST(round(abs(z) * 1e6) AS BIGINT) DESC, pos ASC LIMIT 5)
      |SELECT pos AS dim, round(mu_ref / 1e6, 6) AS mean_ref,
      |  round(mu_cur / 1e6, 6) AS mean_cur, round(z, 4) AS drift_z
      |FROM top ORDER BY dim""".stripMargin

  /** Nearest-centroid classification (Rocchio): per-label centroids over
    * the embedding corpus, every vector assigned to its max-cosine
    * centroid, confusion counts per (true, predicted) pair — the
    * label-propagation / cluster-assignment primitive of embedding-based
    * curation (and the assignment step of a k-means sweep). Determinism
    * is exact-integer end to end: each float component quantizes to
    * integer micros, a centroid is carried as its exact integer SUM
    * vector (the member count cancels in the cosine), and dot products
    * and norms are order-free BIGINT sums — bounds checked in-source:
    * |q| ≤ 6e5, per-label n ≤ corpus, dim 64, so q·s ≤ 7.2e13·64 ≈ 5e15
    * and s² ≤ 1.5e16·64 ≈ 9e17, both inside Long. The only doubles are
    * one sqrt-divide per (vector, centroid), identical on both engines.
    * Scale shape: centroids are a k×dim broadcast dim; the assignment is
    * corpus-linear × k with an order-free integer aggregate — never
    * vector-vector pairs.
    */
  def centroidClassify(s: SparkSession, dir: String): DataFrame = {
    // the quantized component frame feeds the centroid build, the vector
    // norms, and the dot-product join: materialize the posexplode once
    // (optimization r17)
    // size-gated (r18): the component frame is |vectors|×dims-sized
    val qv = Materialize.gated(Tables.embeddings(s, dir),
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos"),
          expr("CAST(round(col * 1e6) AS BIGINT)").as("q")),
      "centroid-qv")
    val cent = qv.groupBy(col("label").as("c_label"), col("pos"))
      .agg(sum("q").as("cs"))
    val centNorm = cent.groupBy("c_label")
      .agg(sum(col("cs") * col("cs")).as("c2"))
    val vecNorm = qv.groupBy("vec_id").agg(sum(col("q") * col("q")).as("q2"))
    val dots = qv.join(broadcast(cent), "pos")
      .groupBy("vec_id", "label", "c_label")
      .agg(sum(col("q") * col("cs")).as("dot"))
    val w = Window.partitionBy("vec_id")
      .orderBy(desc("cos_r"), asc("c_label"))
    dots
      .join(broadcast(centNorm), "c_label")
      .join(vecNorm, "vec_id")
      .withColumn("cos_r", round(col("dot").cast("double") /
        (sqrt(col("q2").cast("double")) * sqrt(col("c2").cast("double"))), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label").as("true_label"), col("c_label").as("predicted_label"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("true_label", "predicted_label")
  }

  private val centroidClassifySql =
    """WITH qv AS (
      |  SELECT vec_id, label, p.pos AS pos,
      |    CAST(round(p.x * 1e6) AS BIGINT) AS q
      |  FROM (SELECT vec_id, label,
      |      unnest(list_transform(range(1, len(embedding) + 1),
      |        i -> struct_pack(pos := i, x := embedding[i]))) AS p
      |    FROM embeddings)
      |), cent AS (
      |  SELECT label AS c_label, pos, CAST(sum(q) AS BIGINT) AS cs
      |  FROM qv GROUP BY 1, 2
      |), cent_norm AS (
      |  SELECT c_label, CAST(sum(cs * cs) AS BIGINT) AS c2 FROM cent GROUP BY 1
      |), vec_norm AS (
      |  SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS q2 FROM qv GROUP BY 1
      |), dots AS (
      |  SELECT vec_id, label, c_label, CAST(sum(q * cs) AS BIGINT) AS dot
      |  FROM qv JOIN cent USING (pos) GROUP BY 1, 2, 3
      |), assigned AS (
      |  SELECT vec_id, label, c_label,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY
      |      round(CAST(dot AS DOUBLE) /
      |        (sqrt(CAST(q2 AS DOUBLE)) * sqrt(CAST(c2 AS DOUBLE))), 6) DESC,
      |      c_label ASC) AS rn
      |  FROM dots JOIN cent_norm USING (c_label) JOIN vec_norm USING (vec_id))
      |SELECT label AS true_label, c_label AS predicted_label,
      |  CAST(count(*) AS BIGINT) AS n_vecs
      |FROM assigned WHERE rn = 1
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Pseudo-relevance-feedback query expansion (Rocchio-style PRF over
    * BM25) — the two-stage retrieval every production lexical search
    * runs: (1) first-pass BM25 retrieves each query's top-3 feedback
    * docs; (2) the feedback docs' highest-weight terms (by summed
    * idf·tfn, minus the query's own terms) become 2 expansion terms at
    * half weight; (3) ONLY the expansion terms are scored against the
    * postings and their arm is full-outer-merged (null → 0) with the
    * stage-1 base scores — the base arm is never re-scored (VERDICT r15
    * "what's wrong" #1: joining q ∪ expTerms repeated the exact stage-1
    * join at weight 1.0, doubling the suite's most expensive query);
    * the final top-3 per query ranks the merged score. Scale shape: ONE
    * shared inverted-index build ([[bm25Index]] — the size-gated
    * postings), every query-side frame broadcast (queries are
    * budget-capped), both scoring passes postings-keyed joins — the
    * index is never rebuilt between stages, and stage 3's postings join
    * is expansion-sized (≤ 2 terms/query), not query-sized; the stage-1
    * aggregate feeds both the feedback ranking and the merge, so its
    * exchange is planned once and reused. Determinism: same recipe the
    * BM25 row proved (integer tf/df/dl, exact avgdl, single-expression
    * idf/tfn), expansion-term selection on round-6 scores tie-broken by
    * term; the merged score rounds ONCE over the two unrounded arm
    * sums, so the decomposition is the same arithmetic as scoring the
    * union.
    */
  def prfExpansion(s: SparkSession, dir: String): DataFrame = {
    // PRF consumes the postings from ~10 subtrees (q, three weighted()
    // arms, and each arm's df/dl/stats lineages), so unlike bm25TopK the
    // lazy-below-the-gate recompute loses even at bench scale: the
    // postings are materialized ONCE here. Above the size gate bm25Index
    // has ALREADY materialized them to scratch parquet, so the frame is a
    // plain scan and materializing it again would just copy a corpus-sized
    // postings list (r18) — reuse the scan as-is.
    val (tfRaw, _, _) = bm25Index(s, dir)
    val docs = Tables.documents(s, dir)
    val tf =
      if (Materialize.inputBytes(docs) <= bm25MaterializeMinBytes(s))
        Materialize.gated(docs, tfRaw, "prf-postings")
      else tfRaw
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = tf.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("dl").cast("double")).as("avgdl"))
    val qDocs = Tables.documents(s, dir).select("doc_id")
      .filter(col("doc_id") % 100 === 0)
      .orderBy("doc_id").limit(50)
    val q = tf.join(broadcast(qDocs), "doc_id")
      .select(col("doc_id").as("q_id"), col("term").as("q_term"))
    // per-posting idf/tfn computed ONCE (r18, see bm25Weights): the three
    // scoring arms join their broadcast query sides against the weighted
    // postings instead of re-deriving idf/tfn per expanded pair row
    val wtf = bm25Weights(tf, dfT, stats)
    // stage 1: first-pass BM25 top-3 feedback docs per query; the
    // UNROUNDED sum is kept alongside so stage 3 can reuse this arm
    // instead of re-scoring it
    // (r18 counter-finding: materializing this stage-1 frame for its two
    // consumers measured FLAT — exec dropped 2.9 -> 1.4 s but the eager
    // materialization paid the same back in construct; physical exchange
    // reuse was already deduplicating the scoring join. Reverted.)
    val firstPass = wtf
      .join(broadcast(q), col("term") === col("q_term") && col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("idf") * col("tfn")).as("base_raw"))
      .withColumn("bm25", round(col("base_raw"), 4))
    val wQ = Window.partitionBy("q_id").orderBy(desc("bm25"), asc("doc_id"))
    val fb = firstPass.withColumn("rn", row_number().over(wQ))
      .filter(col("rn") <= 3).select(col("q_id"), col("doc_id"))
    // stage 2: top-2 expansion terms from the feedback docs' term weights
    val fbTerms = wtf.join(broadcast(fb), "doc_id")
      .groupBy("q_id", "term")
      .agg(round(sum(col("idf") * col("tfn")), 6).as("exp_score"))
      .join(q.withColumnRenamed("q_term", "term"), Seq("q_id", "term"), "left_anti")
    val wE = Window.partitionBy("q_id").orderBy(desc("exp_score"), asc("term"))
    val expTerms = fbTerms.withColumn("er", row_number().over(wE))
      .filter(col("er") <= 2)
      .select(col("q_id"), col("term").as("q_term"), lit(0.5).as("qw"))
    // stage 3: score ONLY the expansion terms (≤ 2/query) against the
    // postings and merge with the already-computed base arm — round
    // once over the two raw sums, never re-join the base terms
    val expArm = wtf
      .join(broadcast(expTerms),
        col("term") === col("q_term") && col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("qw") * col("idf") * col("tfn")).as("exp_raw"))
    val rescored = firstPass.select("q_id", "doc_id", "base_raw")
      .join(expArm, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("bm25_prf",
        round(coalesce(col("base_raw"), lit(0.0)) + coalesce(col("exp_raw"), lit(0.0)), 4))
    rescored.withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("bm25_prf"), asc("doc_id"))))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("doc_id").as("d_id"), col("bm25_prf"), col("rn"))
      .orderBy("q_id", "rn")
  }

  private val prfExpansionSql =
    """WITH t AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
      |), df AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
      |), q_docs AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 100 = 0 ORDER BY doc_id LIMIT 50
      |), q AS (
      |  SELECT tf.doc_id AS q_id, term AS q_term FROM tf JOIN q_docs USING (doc_id)
      |), w AS (
      |  SELECT tf.doc_id, tf.term,
      |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS wt
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      |), first_pass AS (
      |  SELECT q.q_id, w.doc_id AS d_id, sum(w.wt) AS base_raw,
      |    round(sum(w.wt), 4) AS bm25
      |  FROM w JOIN q ON w.term = q.q_term AND w.doc_id <> q.q_id
      |  GROUP BY 1, 2
      |), fb AS (
      |  SELECT q_id, d_id FROM (
      |    SELECT q_id, d_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, d_id ASC) AS rn
      |    FROM first_pass) WHERE rn <= 3
      |), fb_terms AS (
      |  SELECT fb.q_id, w.term, round(sum(w.wt), 6) AS exp_score
      |  FROM w JOIN fb ON w.doc_id = fb.d_id
      |  GROUP BY 1, 2
      |), exp_terms AS (
      |  SELECT q_id, term AS q_term, 0.5 AS qw FROM (
      |    SELECT f.q_id, f.term, f.exp_score,
      |      row_number() OVER (PARTITION BY f.q_id
      |        ORDER BY f.exp_score DESC, f.term ASC) AS er
      |    FROM fb_terms f
      |    WHERE NOT EXISTS (SELECT 1 FROM q
      |      WHERE q.q_id = f.q_id AND q.q_term = f.term))
      |  WHERE er <= 2
      |), exp_arm AS (
      |  SELECT e.q_id, w.doc_id AS d_id, sum(e.qw * w.wt) AS exp_raw
      |  FROM w JOIN exp_terms e ON w.term = e.q_term AND w.doc_id <> e.q_id
      |  GROUP BY 1, 2
      |), rescored AS (
      |  SELECT coalesce(f.q_id, x.q_id) AS q_id, coalesce(f.d_id, x.d_id) AS d_id,
      |    round(coalesce(f.base_raw, 0) + coalesce(x.exp_raw, 0), 4) AS bm25_prf
      |  FROM first_pass f FULL OUTER JOIN exp_arm x
      |    ON f.q_id = x.q_id AND f.d_id = x.d_id)
      |SELECT q_id, d_id, bm25_prf, CAST(rn AS INT) AS rn FROM (
      |  SELECT q_id, d_id, bm25_prf,
      |    row_number() OVER (PARTITION BY q_id ORDER BY bm25_prf DESC, d_id ASC) AS rn
      |  FROM rescored) WHERE rn <= 3
      |ORDER BY q_id, rn""".stripMargin

  // ------------------------------------------------------------------
  // Persisted + incrementally maintained IVF index (VERDICT r16 "what's
  // missing" #4) — the ANN twin of the dedup band-index recipe
  // (DedupQueries.bandIndex): in the daily-crawl production story the IVF
  // structure is a MAINTAINED table pair — coarse centroids (the trained
  // quantizer, k × dim, tiny) plus per-vector list assignments (the
  // posting lists, storing the vectors themselves) — built once per
  // corpus snapshot by ingest, extended per batch by an ASSIGN-ONLY pass
  // (never re-embedding or re-assigning the standing corpus), and probed
  // by every ANN query against the merged (persisted ∪ delta) lists.
  // sim_ivf_topk keeps demonstrating the IVF probe SHAPE per query; this
  // family demonstrates its MAINTENANCE contract. The assignments table
  // is BUCKETED (8) on list_id — exactly the probe join key — so the
  // index side reads co-located with zero index-side exchange (PlanSpec
  // pins it, mirroring the band-index pin). The DuckDB twin recomputes
  // centroids + all assignments from scratch, so hash equality proves
  // persisted-index ≡ recompute.
  //
  // Split contract (same as incrementalDedup): vec_id % 10 != batchMod is
  // the standing corpus, == batchMod plays "today's batch"; batchMod
  // defaults to 9 for the declared queries, and InvariantSpec replays the
  // recompute-equivalence under an alternative split.
  //
  // Determinism: centroids are double-averaged per dimension then cast to
  // FLOAT (collapses engine ulp drift — the ivfTopK/kmeansLloyd rule);
  // assignment argmin orders by round(l2, 6) with a list-id tie-break
  // (the kmeansLloyd rule); the probe ranks raw cosine with a vector-id
  // tie-break and rounds at output (the bruteTopK rule).
  // ------------------------------------------------------------------

  /** Coarse quantizer: per-label centroid vectors over `corpus`, keyed as
    * list ids (double avg per dim → FLOAT, the cross-engine-stable form).
    */
  private[graft] def ivfCentroids(corpus: DataFrame): DataFrame = {
    val centroidUdaf = udaf(new VectorCentroid, ExpressionEncoder[Seq[Float]]())
    corpus.groupBy("label")
      .agg(centroidUdaf(col("embedding")).as("centroid_d"))
      .select(col("label").cast("int").as("list_id"),
        expr("transform(centroid_d, x -> CAST(x AS FLOAT))").as("cemb"))
  }

  /** Assign each vector to its nearest list: broadcast of k centroid rows
    * against the streamed input, argmin as a map-side-combinable min_by
    * over round(l2, 6) with a list-id tie-break — the kmeansLloyd
    * assignment plan, so per-vector cost is O(k · dim) and the only
    * shuffle is the vec_id-keyed combine.
    */
  private[graft] def ivfAssign(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("d", round(expr("l2_sq(embedding, cemb)"), 6))
      .groupBy("vec_id")
      .agg(expr("min_by(list_id, struct(d, list_id))").as("list_id"),
        first(col("embedding")).as("embedding"))
      .select("vec_id", "list_id", "embedding")

  /** The corpus-side train + assign lineage — the ONE pass that legally
    * scans the complement (vec_id % 10 != batchMod). Exposed so PlanSpec's
    * no-corpus-re-embed guard has a positive control: this frame's plan
    * DOES carry the NOT-batch filter the absence-regex hunts for.
    */
  private[graft] def corpusAssignFrame(s: SparkSession, dir: String, batchMod: Int = 9): DataFrame = {
    val corpus = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 10 =!= batchMod)
    ivfAssign(corpus, ivfCentroids(corpus))
  }

  /** The persisted index pair: (assignments table bucketed(8) on list_id,
    * centroids parquet). Written ONCE per (session, fixture, split) from a
    * single corpus pass and memoized, under a table name unique per build
    * (the band-index rule: two live sessions share the context's catalog
    * and warehouse, and must not overwrite each other's files). An
    * in-place rewrite of embeddings.parquet rebuilds the index.
    */
  private[graft] def ivfIndex(s: SparkSession, dir: String, batchMod: Int = 9)
      : (DataFrame, DataFrame) = {
    val (tbl, centsPath) = graft.Derived.get(s, "similarity.ivfIndex",
        Seq(s"$dir/embeddings.parquet"), batchMod) {
      val out = graft.Scratch.dir("graft-ivf-index")
      val tblName = graft.Derived.tableName("graft_ivf_assign")
      Materialize.scoped { m =>
        val corpus = m(Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= batchMod))
        val cents = m(ivfCentroids(corpus))
        cents.write.mode("overwrite").parquet(s"$out/centroids")
        ivfAssign(corpus, cents).write.mode("overwrite")
          .bucketBy(8, "list_id").saveAsTable(tblName)
      }
      (tblName, s"$out/centroids")
    }
    (s.table(tbl), graft.Tables.loadPath(s, centsPath))
  }

  /** The per-batch delta: today's vectors assigned against the PERSISTED
    * centroids — batch-sized work, no corpus scan anywhere in its lineage.
    */
  private[graft] def ivfDelta(s: SparkSession, dir: String, batchMod: Int = 9): DataFrame = {
    val (_, cents) = ivfIndex(s, dir, batchMod)
    val batch = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 10 === batchMod)
      .select("vec_id", "embedding")
    ivfAssign(batch, cents)
  }

  /** Incremental index maintenance + probe: merge one batch into the
    * persisted IVF index (delta = assign-only) and run the batch's lowest
    * vec_ids as queries against the MERGED lists — probing split as
    * (q ⋈ index) ∪ (q ⋈ delta) so the index leg joins the bucketed table
    * on exactly its bucketing key (a pre-union would discard the
    * bucketing). Top-3 within the probed list, self excluded.
    */
  def indexMaintenanceAnn(s: SparkSession, dir: String): DataFrame = {
    val (idx, _) = ivfIndex(s, dir)
    val delta = ivfDelta(s, dir)
    val q = delta.filter(col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("list_id").as("probe_list"),
        col("embedding").as("q_emb"))
    def probe(side: DataFrame): DataFrame = side
      .join(broadcast(q),
        col("list_id") === col("probe_list") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, embedding)"))
      .select(col("q_id"), col("probe_list"), col("vec_id").as("c_id"), col("cos"))
    val hits = probe(idx).unionByName(probe(delta))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("probe_list"), col("c_id"),
        round(col("cos"), 4).as("cosine"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** Per-list census of the merged index: persisted size vs batch delta —
    * the maintenance accounting row a daily ingest job emits. Reads ONLY
    * the persisted table and the batch delta (never corpus embeddings).
    */
  def indexCensusAnn(s: SparkSession, dir: String): DataFrame = {
    val (idx, _) = ivfIndex(s, dir)
    val delta = ivfDelta(s, dir)
    idx.groupBy("list_id").agg(count(lit(1)).as("n_corpus"))
      .join(delta.groupBy("list_id").agg(count(lit(1)).as("n_batch")),
        Seq("list_id"), "full_outer")
      .na.fill(0L, Seq("n_corpus", "n_batch"))
      .withColumn("n_total", col("n_corpus") + col("n_batch"))
      .orderBy("list_id")
  }

  /** Shared from-scratch twin CTEs: centroids over the corpus slice, then
    * EVERY vector (corpus and batch alike) assigned by the same rounded-l2
    * argmin — the union of the persisted index and the delta is exactly
    * this frame, which is the recompute-equivalence the oracle pins.
    */
  private def ivfCtesSql: String = {
    def l2(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin
    s"""corpus AS (
       |  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 10 <> 9
       |), cents AS (
       |  SELECT CAST(label AS INT) AS list_id,
       |    list_transform(list(avg_v ORDER BY dim), x -> CAST(x AS FLOAT)) AS cemb
       |  FROM (
       |    SELECT label, dim, avg(CAST(v AS DOUBLE)) AS avg_v
       |    FROM (SELECT label, unnest(embedding) AS v,
       |            generate_subscripts(embedding, 1) AS dim
       |          FROM corpus)
       |    GROUP BY label, dim)
       |  GROUP BY label
       |), asg AS MATERIALIZED (
       |  SELECT vec_id, embedding, list_id, is_batch FROM (
       |    SELECT e.vec_id, e.embedding, c.list_id, e.vec_id % 10 = 9 AS is_batch,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${l2("e.embedding", "c.cemb")}, 6) ASC, c.list_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  private def indexMaintenanceAnnSql: String = {
    val cos = cosineSqlDuck.replace("QA", "q.q_emb").replace("QB", "a.embedding")
    s"""WITH ${ivfCtesSql}
       |, q AS (
       |  SELECT vec_id AS q_id, list_id AS probe_list, embedding AS q_emb
       |  FROM asg WHERE is_batch AND vec_id < 100
       |), ranked AS (
       |  SELECT q.q_id, q.probe_list, a.vec_id AS c_id, $cos AS cos,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY $cos DESC, a.vec_id ASC) AS rn
       |  FROM q JOIN asg a ON a.list_id = q.probe_list AND a.vec_id <> q.q_id)
       |SELECT q_id, probe_list, c_id, round(cos, 4) AS cosine, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
  }

  /** Recall@3 of the maintained-index probe against exact brute force over
    * the merged corpus — the nprobe=1 quality number that decides whether
    * the coarse quantizer needs more lists or a wider probe before anyone
    * trusts the index in production. The exact arm is the evaluation
    * harness (broadcast queries × one streamed corpus pass), not the
    * serving path; the approximate arm IS [[indexMaintenanceAnn]]'s probe.
    */
  def indexProbeRecall(s: SparkSession, dir: String): DataFrame = {
    val approx = indexMaintenanceAnn(s, dir)
      .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
    val q = ivfDelta(s, dir).filter(col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = Tables.embeddings(s, dir)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    val exact = cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, c_emb)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("q_id", "c_id")
    exact
      .join(approx, col("q_id") === col("a_q") && col("c_id") === col("a_c"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("a_c")).as("n_hits"))
      .withColumn("recall_at_3",
        round(col("n_hits").cast("double") / col("n_exact").cast("double"), 4))
      .orderBy("q_id")
  }

  private def indexProbeRecallSql: String = {
    val cosP = cosineSqlDuck.replace("QA", "q.q_emb").replace("QB", "a.embedding")
    val cosE = cosineSqlDuck.replace("QA", "q.q_emb").replace("QB", "c.embedding")
    s"""WITH ${ivfCtesSql}
       |, q AS (
       |  SELECT vec_id AS q_id, list_id AS probe_list, embedding AS q_emb
       |  FROM asg WHERE is_batch AND vec_id < 100
       |), approx AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, a.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY $cosP DESC, a.vec_id ASC) AS rn
       |    FROM q JOIN asg a ON a.list_id = q.probe_list AND a.vec_id <> q.q_id)
       |  WHERE rn <= 3
       |), exact AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY $cosE DESC, c.vec_id ASC) AS rn
       |    FROM q JOIN embeddings c ON c.vec_id <> q.q_id)
       |  WHERE rn <= 3)
       |SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(a.c_id) AS BIGINT) AS n_hits,
       |  round(CAST(count(a.c_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS recall_at_3
       |FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.c_id = a.c_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
  }

  /** Recall@3 at nprobe = 1 vs nprobe = 2 — the "widen the probe" knob
    * with its measured payoff: each query probes its two nearest lists and
    * both recall figures come out of ONE probe pass (the nprobe=1 arm is
    * the lrn=1 subset). Structural law (InvariantSpec): recall_np2 ≥
    * recall_np1 per query — any candidate outranking an exact-top-3 member
    * is itself exact-top-3, so growing the candidate pool can only add
    * exact members to the approximate top-3.
    */
  def indexProbe2Recall(s: SparkSession, dir: String): DataFrame = {
    val (idx, cents) = ivfIndex(s, dir)
    val delta = ivfDelta(s, dir)
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 10 === 9 && col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wl = Window.partitionBy("q_id").orderBy(asc("ld"), asc("list_id"))
    val qlists = q.crossJoin(broadcast(cents))
      .withColumn("ld", round(expr("l2_sq(q_emb, cemb)"), 6))
      .withColumn("lrn", row_number().over(wl))
      .filter(col("lrn") <= 2)
      .select(col("q_id"), col("q_emb"), col("list_id").as("probe_list"), col("lrn"))
    def probe(side: DataFrame): DataFrame = side
      .join(broadcast(qlists),
        col("list_id") === col("probe_list") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, embedding)"))
      .select(col("q_id"), col("lrn"), col("vec_id").as("c_id"), col("cos"))
    val hits = probe(idx).unionByName(probe(delta))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
    val ap1 = hits.filter(col("lrn") === 1)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("q_id").as("a1_q"), col("c_id").as("a1_c"))
    val ap2 = hits
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("q_id").as("a2_q"), col("c_id").as("a2_c"))
    val cand = Tables.embeddings(s, dir)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val exact = cand.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos", expr("cosine_sim(q_emb, c_emb)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("q_id", "c_id")
    exact
      .join(ap1, col("q_id") === col("a1_q") && col("c_id") === col("a1_c"), "left")
      .join(ap2, col("q_id") === col("a2_q") && col("c_id") === col("a2_c"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("a1_c")).as("n_hits_np1"),
        count(col("a2_c")).as("n_hits_np2"))
      .select(col("q_id"), col("n_exact"),
        col("n_hits_np1"),
        round(col("n_hits_np1").cast("double") / col("n_exact").cast("double"), 4)
          .as("recall_np1"),
        col("n_hits_np2"),
        round(col("n_hits_np2").cast("double") / col("n_exact").cast("double"), 4)
          .as("recall_np2"))
      .orderBy("q_id")
  }

  private def indexProbe2RecallSql: String = {
    def l2(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin
    val cosH = cosineSqlDuck.replace("QA", "ql.q_emb").replace("QB", "a.embedding")
    val cosE = cosineSqlDuck.replace("QA", "q.q_emb").replace("QB", "c.embedding")
    s"""WITH ${ivfCtesSql}
       |, q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 10 = 9 AND vec_id < 100
       |), qlists AS (
       |  SELECT q_id, q_emb, list_id, lrn FROM (
       |    SELECT q.q_id, q.q_emb, c.list_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(${l2("q.q_emb", "c.cemb")}, 6) ASC, c.list_id ASC) AS lrn
       |    FROM q CROSS JOIN cents c)
       |  WHERE lrn <= 2
       |), hits AS (
       |  SELECT ql.q_id, ql.lrn, a.vec_id AS c_id, $cosH AS cos
       |  FROM qlists ql JOIN asg a
       |    ON a.list_id = ql.list_id AND a.vec_id <> ql.q_id
       |), ap1 AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
       |    FROM hits WHERE lrn = 1) WHERE rn <= 3
       |), ap2 AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn
       |    FROM hits) WHERE rn <= 3
       |), exact AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY $cosE DESC, c.vec_id ASC) AS rn
       |    FROM q JOIN embeddings c ON c.vec_id <> q.q_id)
       |  WHERE rn <= 3)
       |SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(a1.c_id) AS BIGINT) AS n_hits_np1,
       |  round(CAST(count(a1.c_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS recall_np1,
       |  CAST(count(a2.c_id) AS BIGINT) AS n_hits_np2,
       |  round(CAST(count(a2.c_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS recall_np2
       |FROM exact e
       |LEFT JOIN ap1 a1 ON e.q_id = a1.q_id AND e.c_id = a1.c_id
       |LEFT JOIN ap2 a2 ON e.q_id = a2.q_id AND e.c_id = a2.c_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
  }

  private def indexCensusAnnSql: String =
    s"""WITH ${ivfCtesSql}
       |SELECT list_id,
       |  CAST(coalesce(sum(CASE WHEN NOT is_batch THEN 1 END), 0) AS BIGINT) AS n_corpus,
       |  CAST(coalesce(sum(CASE WHEN is_batch THEN 1 END), 0) AS BIGINT) AS n_batch,
       |  CAST(count(*) AS BIGINT) AS n_total
       |FROM asg GROUP BY list_id ORDER BY list_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("sim_index_maintenance", indexMaintenanceAnn, Some(indexMaintenanceAnnSql)),
    QueryDef("sim_index_census", indexCensusAnn, Some(indexCensusAnnSql)),
    QueryDef("sim_index_probe_recall", indexProbeRecall, Some(indexProbeRecallSql)),
    QueryDef("sim_index_probe2_recall", indexProbe2Recall, Some(indexProbe2RecallSql)),
    QueryDef("sim_prf_expansion", prfExpansion, Some(prfExpansionSql)),
    QueryDef("sim_centroid_classify", centroidClassify, Some(centroidClassifySql)),
    QueryDef("sim_embedding_drift", embeddingDrift, Some(embeddingDriftSql)),
    QueryDef("sim_ranking_metrics", rankingMetrics, Some(rankingMetricsSql)),
    QueryDef("sim_embedding_isotropy", embeddingIsotropy, Some(embeddingIsotropySql)),
    QueryDef("sim_silhouette_simplified", silhouetteSimplified, Some(silhouetteSimplifiedSql)),
    QueryDef("sim_range_search", rangeSearch, Some(rangeSearchSql)),
    QueryDef("sim_mips_topk", mipsTopK, Some(mipsTopKSql)),
    QueryDef("sim_knn_classify", knnClassify, Some(knnClassifySql)),
    QueryDef("sim_matryoshka_prefix", matryoshkaPrefix, Some(matryoshkaPrefixSql)),
    QueryDef("sim_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    QueryDef("sim_bm25_topk", bm25TopK, Some(bm25TopKSql)),
    QueryDef("sim_quantize_int8", quantizeInt8, Some(quantizeInt8Sql)),
    QueryDef("sim_lsh_topk", lshTopK, Some(lshTopKSql)),
    QueryDef("sim_recall_eval", recallEval, Some(recallEvalSql)),
    QueryDef("sim_brute_topk", bruteTopK, Some(bruteTopKSql)),
    QueryDef("sim_diverse_topk", diverseTopK, Some(diverseTopKSql)),
    QueryDef("sim_scalar_quantize", scalarQuantize, Some(scalarQuantizeSql)),
    QueryDef("sim_ivf_topk", ivfTopK, Some(ivfTopKSql)),
    QueryDef("sim_pq_adc_topk", pqAdcTopK, Some(pqAdcTopKSql)),
    QueryDef("sim_label_centroids", centroids, Some(centroidsSql)),
    QueryDef("sim_kmeans_lloyd", kmeansLloyd, Some(kmeansLloydSql))
  )
}
