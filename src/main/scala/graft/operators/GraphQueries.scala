package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over a co-occurrence graph derived from the fixtures —
  * the market-basket / co-citation shape every link-analysis pipeline
  * starts from. Nodes are parts; an undirected edge connects two parts
  * that appear in the same order (half the orders, to keep the graph at
  * an honest-but-benchable density: ~116 k edges at sf0.01, ~600 k at
  * sf0.1).
  *
  * Triangle counting uses the degree-ordered orientation (the classic
  * MapReduce-era trick from Suri & Vassilvitskii's "Counting Triangles
  * and the Curse of the Last Reducer"): orient every edge from its
  * lower-(degree, id) endpoint to the higher one, so each node's
  * out-degree is bounded by O(√m) and the wedge (2-path) fan-out —
  * the quadratic step — is Σ outdeg² ≈ m^1.5 instead of Σ deg² which a
  * hub node makes quadratic. Every step is a keyed equi-join or
  * aggregation: no cartesian products, no driver-side graph state, so
  * the same plan runs at 100 TB where the edge list is the big table.
  */
object GraphQueries extends QueryModule {

  /** Undirected distinct edge list (u < v by id) of the part
    * co-occurrence graph. One self-equi-join on the order key; the
    * DISTINCT collapses multi-order repeats into simple-graph edges.
    *
    * MATERIALIZED once per fixture to scratch parquet and read by every
    * graph query (the cluster-label discipline from DedupQueries, which
    * the same reasoning justified): seven graph queries each rebuilding
    * the lineitem-scan + pair-expansion + corpus-wide DISTINCT costs
    * ~1-1.5 s apiece in-sweep, and at 100 TB the co-occurrence edge list
    * IS a persisted table built once per corpus snapshot — every graph
    * job reads it, none re-derives it. Disk, not executor cache: nothing
    * outlives a query in memory, the JVM-exit sweeper reclaims the
    * directory, and the [[graft.Derived]] entry declares lineitem as its
    * source so an in-place fixture regeneration rebuilds it.
    */
  private[graft] def edges(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Derived.get(s, "graph.edges", Seq(s"$dir/lineitem.parquet")) {
      val out = graft.Scratch.dir("graft-graph-edges")
      buildEdges(s, dir).write.mode("overwrite").parquet(out)
      out
    }
    // immutable staging parquet: memoized relation (r18, Tables.loadPath)
    graft.Tables.loadPath(s, path)
  }

  /** The edge derivation itself: one shuffle instead of a self-join —
    * gather each order's distinct part set (orders are small — tens of
    * lines), expand the C(k, 2) intra-order pairs from the sorted array
    * with the codegen'd [[graft.functions.PairCombinations]] kernel, then
    * the global DISTINCT collapses multi-order repeats. A self-join on
    * the order key computes the same thing with an extra exchange + sort.
    */
  private[graft] def buildEdges(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 2 === 0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
      .select(explode(expr("pair_combos(pks)")).as("p"))
      .select(col("p.u"), col("p.v")).distinct()
  }

  private val edgesCte =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |       FROM lineitem WHERE l_orderkey % 2 = 0),
      |pairs AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
      |    SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY n)""".stripMargin

  /** Newman modularity of the brand partition: Q = Σ_c [intra_c/|E| −
    * (vol_c/2|E|)²] — THE community-quality objective every graph
    * clustering optimizes; computed here for the brand labeling so the
    * engine can score any candidate partition. Per-community
    * contribution rows plus exact integer intra/vol (same two dim-joins
    * as [[conductance]]); only the final ratios are doubles, derived
    * from identical integers on both engines. Scale shape: edge list ⋈
    * partkey→brand twice, a |brands|-row aggregate, one broadcast
    * total.
    */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    val brand = Tables.part(s, dir)
      .select(col("p_partkey").as("n"), col("p_brand"))
    // size-gated (r18): the labeled edge frame is edge-table-sized
    val eb = Materialize.gated(edges(s, dir),
      edges(s, dir)
        .join(brand.select(col("n"), col("p_brand").as("bu")), col("u") === col("n"))
        .drop("n")
        .join(brand.select(col("n"), col("p_brand").as("bv")), col("v") === col("n"))
        .drop("n"),
      "graph-eb")
    val totalE = eb.count()
    val intra = eb.filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("brand")).agg(count(lit(1)).as("intra_edges"))
    val cut = eb.filter(col("bu") =!= col("bv"))
      .select(col("bu").as("brand"))
      .unionAll(eb.filter(col("bu") =!= col("bv")).select(col("bv").as("brand")))
      .groupBy("brand").agg(count(lit(1)).as("cut_edges"))
    intra.join(cut, Seq("brand"), "full_outer")
      .select(col("brand"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"))
      .withColumn("volume", lit(2) * col("intra_edges") + col("cut_edges"))
      .withColumn("q_contrib", round(
        col("intra_edges").cast("double") / lit(totalE.toDouble)
          - (col("volume").cast("double") / lit(2.0 * totalE))
            * (col("volume").cast("double") / lit(2.0 * totalE)), 6))
      .select(col("brand"), col("intra_edges"), col("volume"), col("q_contrib"))
      .orderBy("brand")
  }

  private val modularitySql =
    s"""WITH $edgesCte,
       |eb AS (
       |  SELECT p1.p_brand AS bu, p2.p_brand AS bv
       |  FROM pairs JOIN part p1 ON u = p1.p_partkey
       |             JOIN part p2 ON v = p2.p_partkey),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS te FROM eb),
       |intra AS (
       |  SELECT bu AS brand, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM eb WHERE bu = bv GROUP BY 1),
       |cut AS (
       |  SELECT brand, CAST(count(*) AS BIGINT) AS cut_edges FROM (
       |    SELECT bu AS brand FROM eb WHERE bu <> bv
       |    UNION ALL SELECT bv FROM eb WHERE bu <> bv)
       |  GROUP BY 1),
       |j AS (
       |  SELECT coalesce(intra.brand, cut.brand) AS brand,
       |    coalesce(intra_edges, 0) AS intra_edges,
       |    CAST(2 * coalesce(intra_edges, 0) + coalesce(cut_edges, 0) AS BIGINT)
       |      AS volume
       |  FROM intra FULL OUTER JOIN cut ON intra.brand = cut.brand)
       |SELECT brand, intra_edges, volume,
       |  round(CAST(intra_edges AS DOUBLE) / te
       |    - (CAST(volume AS DOUBLE) / (2.0 * te))
       |      * (CAST(volume AS DOUBLE) / (2.0 * te)), 6) AS q_contrib
       |FROM j CROSS JOIN tot ORDER BY brand""".stripMargin

  /** Conductance of the brand partition: for each part brand c, the cut
    * ratio φ(c) = cut(c) / min(vol(c), 2|E| − vol(c)) — the standard
    * community-quality score (low conductance = a well-separated
    * community; here it quantifies how brand-assortative co-purchasing
    * is). All counts are exact integers from two brand-label equi-joins
    * on the materialized edge table: intra edges (both endpoints in c),
    * cut edges (exactly one endpoint in c, counted toward both sides),
    * vol(c) = 2·intra + cut. Scale shape: edge list ⋈ partkey→brand
    * twice (dim-table joins), then a |brands|-row aggregate — no pair
    * expansion beyond the persisted edge list itself.
    */
  def conductance(s: SparkSession, dir: String): DataFrame = {
    val brand = Tables.part(s, dir)
      .select(col("p_partkey").as("n"), col("p_brand"))
    // size-gated (r18): the labeled edge frame is edge-table-sized
    val eb = Materialize.gated(edges(s, dir),
      edges(s, dir)
        .join(brand.select(col("n"), col("p_brand").as("bu")), col("u") === col("n"))
        .drop("n")
        .join(brand.select(col("n"), col("p_brand").as("bv")), col("v") === col("n"))
        .drop("n"),
      "graph-eb")
    val totalE = eb.count() // scalar: 2|E| is a constant in φ's denominator
    val intra = eb.filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("brand")).agg(count(lit(1)).as("intra_edges"))
    val cut = eb.filter(col("bu") =!= col("bv"))
      .select(col("bu").as("brand"))
      .unionAll(eb.filter(col("bu") =!= col("bv")).select(col("bv").as("brand")))
      .groupBy("brand").agg(count(lit(1)).as("cut_edges"))
    val nodes = brand.join(
        edges(s, dir).select(col("u").as("n"))
          .unionAll(edges(s, dir).select(col("v").as("n"))).distinct(),
        Seq("n"))
      .groupBy(col("p_brand").as("brand")).agg(count(lit(1)).as("n_nodes"))
    nodes.join(intra, Seq("brand"), "left").join(cut, Seq("brand"), "left")
      .select(col("brand"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"))
      .withColumn("volume", lit(2) * col("intra_edges") + col("cut_edges"))
      .withColumn("conductance", round(col("cut_edges").cast("double")
        / least(col("volume"), lit(2L * totalE) - col("volume")).cast("double"), 6))
      .orderBy("brand")
  }

  private val conductanceSql =
    s"""WITH $edgesCte,
       |eb AS (
       |  SELECT p1.p_brand AS bu, p2.p_brand AS bv
       |  FROM pairs JOIN part p1 ON u = p1.p_partkey
       |             JOIN part p2 ON v = p2.p_partkey),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS te FROM eb),
       |intra AS (
       |  SELECT bu AS brand, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM eb WHERE bu = bv GROUP BY 1),
       |cut AS (
       |  SELECT brand, CAST(count(*) AS BIGINT) AS cut_edges FROM (
       |    SELECT bu AS brand FROM eb WHERE bu <> bv
       |    UNION ALL SELECT bv FROM eb WHERE bu <> bv)
       |  GROUP BY 1),
       |nodes AS (
       |  SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM part JOIN (SELECT DISTINCT n FROM
       |    (SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)) nn
       |    ON p_partkey = nn.n
       |  GROUP BY 1),
       |j AS (
       |  SELECT brand, n_nodes,
       |    coalesce(intra_edges, 0) AS intra_edges,
       |    coalesce(cut_edges, 0) AS cut_edges
       |  FROM nodes LEFT JOIN intra USING (brand) LEFT JOIN cut USING (brand))
       |SELECT brand, n_nodes, intra_edges, cut_edges,
       |  CAST(2 * intra_edges + cut_edges AS BIGINT) AS volume,
       |  round(CAST(cut_edges AS DOUBLE)
       |    / CAST(least(2 * intra_edges + cut_edges,
       |        2 * te - (2 * intra_edges + cut_edges)) AS DOUBLE), 6)
       |    AS conductance
       |FROM j CROSS JOIN tot ORDER BY brand""".stripMargin

  /** Conservative JVM-side size model for the broadcast gate, in terms of
    * the edge count alone (nodes ≤ 2·edges, so |E| bounds both tables): a
    * degree row is 2 longs + row overhead; an adjacency row is a long + a
    * long array of out-neighbors + overhead. Deliberately pessimistic
    * (×2-ish, and the node bound is worst-case) so the gate flips to the
    * shuffle plan well before the driver is at risk.
    */
  private[graft] def degBytes(nEdges: Long): Long = 96L * nEdges
  private[graft] def adjBytes(nEdges: Long): Long = 144L * nEdges

  /** Size cap for the orientation/probe broadcasts, overridable per session
    * (`graft.graph.broadcastMaxBytes`). Past the cap the same joins run
    * shuffled on src/dst — still keyed, never quadratic.
    */
  private[graft] def broadcastMaxBytes(s: SparkSession): Long =
    s.conf.getOption("graft.graph.broadcastMaxBytes")
      .map(_.toLong).getOrElse(256L << 20)

  /** Lazy triangle-census plan, parameterized by the edge count so the
    * broadcast decision is an explicit SIZE GATE, not a hard hint: a
    * hard `broadcast()` ships the table no matter how big it grew, which
    * is exactly the 100×-scale OOM. Below the cap the node-sized degree
    * and adjacency tables broadcast (edge list never shuffles); above it
    * the hint is dropped and the joins shuffle on their keys (AQE may
    * still locally convert if runtime stats allow). Exposed for PlanSpec,
    * which pins BOTH shapes.
    */
  private[graft] def triangleStatsPlan(
      s: SparkSession, m: Materialize.Scope, pairs: DataFrame, deg: DataFrame,
      nEdges: Long): DataFrame = {
    val cap = broadcastMaxBytes(s)
    def gate(df: DataFrame, bytes: Long): DataFrame =
      if (bytes <= cap) broadcast(df) else df
    // orient low-(degree,id) -> high-(degree,id); struct compare gives the
    // lexicographic (d, id) order both engines agree on. The degree table
    // is node-cardinality (≪ edges — ~20 k rows at sf0.1).
    // consumed by the adjacency build AND the per-edge probe
    val oriented = m(pairs
      .join(gate(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"),
        degBytes(nEdges)), "u")
      .join(gate(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"),
        degBytes(nEdges)), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst")))
    // Sorted-adjacency formulation: NEVER materialize the wedge set.
    // Wedges are pure arithmetic on out-degrees (Σ C(d⁺, 2)); triangles
    // are Σ over oriented edges of |N⁺(src) ∩ N⁺(dst)| — each triangle
    // has exactly one apex with out-edges to the other two, so the count
    // is exact, not 3×. The adjacency table is node-cardinality with
    // O(√m)-bounded lists (the orientation's guarantee).
    val adj = m(oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"),
        count(lit(1)).as("od")))
    // node and wedge counts come from one pass each over the cached
    // node-sized tables; Σ C(d⁺, 2) over out-degrees for wedges
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val wedges = adj.agg(
      coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("n_wedges"))
    val triangles = oriented
      .join(gate(adj.select(col("src"), col("nbrs").as("ns")), adjBytes(nEdges)),
        Seq("src"))
      .join(gate(adj.select(col("src").as("dst"), col("nbrs").as("nd")),
        adjBytes(nEdges)), Seq("dst"), "left")
      .select(when(col("nd").isNull, lit(0))
        .otherwise(expr("sorted_intersect_count(ns, nd)")).as("t"))
      .agg(coalesce(sum(col("t").cast("long")), lit(0L)).as("n_triangles"))
    nodes.crossJoin(wedges).crossJoin(triangles)
  }

  /** Global triangle census: nodes, edges, wedges (open 2-paths after
    * orientation), triangles. The closing-edge probe re-joins the wedge
    * set against the oriented adjacency on the src/dst keys — equi-joins
    * on integer columns, broadcast only below the size gate.
    *
    * In-sweep wall time is dominated by FIRST-RUN cost, not data work:
    * profiled at sf0.1, the steady-state query is ~1.0 s (edges+distinct
    * ~1.4 s cached, probe+intersect ~0.4 s) while the cold run pays ~3 s
    * of whole-stage-codegen compilation across the census's many distinct
    * plan shapes. That cost is per-JVM, amortized to zero on a long-lived
    * cluster, so it is not a scale finding (the 10× sweep measures 3.2×,
    * linear).
    *
    * The builder materializes eagerly: the result is a single 4-long
    * census row, so driving the plan to completion here (one count + one
    * `head()`) costs nothing extra and lets every intra-query cache be
    * released with its scope before the frame is handed back — no
    * executor memory outlives the query across a 200-query sweep.
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame = Materialize.scoped { m =>
    import s.implicits._
    val pairs = m(edges(s, dir)) // consumed 3×: degrees, orientation ×2
    val deg = m(pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")))
    // exact |E| from the cache-materializing count; it feeds the
    // broadcast size gate AND the report
    val nEdges = pairs.count()
    val r = triangleStatsPlan(s, m, pairs, deg, nEdges).head()
    Seq((r.getLong(0), nEdges, r.getLong(1), r.getLong(2)))
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles")
  }

  private val triangleCountSql =
    s"""WITH $edgesCte,
       |ordered AS (
       |  SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS src,
       |         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS dst
       |  FROM pairs p JOIN deg du ON du.n = p.u JOIN deg dv ON dv.n = p.v),
       |wedges AS (
       |  SELECT e1.src, e1.dst AS b, e2.dst AS c
       |  FROM ordered e1 JOIN ordered e2 ON e1.src = e2.src AND e1.dst < e2.dst)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM wedges w JOIN pairs p
       |          ON p.u = least(w.b, w.c) AND p.v = greatest(w.b, w.c)) AS n_triangles""".stripMargin

  /** Degree distribution in powers-of-two buckets — the first sanity
    * report on any graph (detects hub blowups before they melt a join).
    * One edge-list scan + one tiny aggregation.
    */
  def degreeHistogram(s: SparkSession, dir: String): DataFrame = {
    val pairs = edges(s, dir)
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    deg.groupBy(floor(log2(col("d"))).cast("long").as("log2_degree"))
      .agg(count(lit(1)).as("n_nodes"),
        min("d").as("min_degree"), max("d").as("max_degree"))
      .orderBy("log2_degree")
  }

  private val degreeHistogramSql =
    s"""WITH $edgesCte
       |SELECT CAST(floor(log2(d)) AS BIGINT) AS log2_degree,
       |  CAST(count(*) AS BIGINT) AS n_nodes,
       |  min(d) AS min_degree, max(d) AS max_degree
       |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin

  /** Common-neighbor link prediction over the top-100 hub nodes: for every
    * non-adjacent hub pair, the number of shared neighbors (the classic
    * link-prediction score; Liben-Nowell & Kleinberg CIKM'03), top-20.
    * The hub restriction is the scale contract: candidate generation is
    * C(100, 2) regardless of graph size (hub selection is a TakeOrdered,
    * no global sort), and scoring is the codegen'd merge-intersect kernel
    * over two sorted adjacency arrays ([[graft.functions.GraphFunctions]]
    * `sorted_intersect_count` — the same kernel the triangle count uses),
    * so the whole query reads the edge list twice and shuffles it once to
    * build adjacency.
    */
  def linkPrediction(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val adj = und.groupBy("u")
      .agg(sort_array(collect_set(col("v"))).as("nbrs"), count(lit(1)).as("deg"))
    val hubs = adj.orderBy(col("deg").desc, col("u").asc).limit(100)
      .select(col("u").as("node"), col("nbrs"))
    // all hub pairs from ONE collected id array (100 ids → 4950 pair rows
    // via the pair_combos kernel), then adjacency re-attached by key —
    // never a corpus-sized cross join
    val pairs = hubs.agg(sort_array(collect_list("node")).as("ns"))
      .select(explode(expr("pair_combos(ns)")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    pairs
      .join(hubs.select(col("node").as("u"), col("nbrs").as("nbrs_u")), "u")
      .join(hubs.select(col("node").as("v"), col("nbrs").as("nbrs_v")), "v")
      .withColumn("common_neighbors", expr("sorted_intersect_count(nbrs_u, nbrs_v)"))
      .filter(!array_contains(col("nbrs_u"), col("v")) && col("common_neighbors") >= 1)
      .select("u", "v", "common_neighbors")
      .orderBy(col("common_neighbors").desc, col("u").asc, col("v").asc)
      .limit(20)
  }

  private val linkPredictionSql =
    s"""WITH $edgesCte,
       |und AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |adj AS (
       |  SELECT u AS node, list_sort(list(v)) AS nbrs, count(*) AS deg
       |  FROM und GROUP BY 1),
       |hubs AS (SELECT node, nbrs FROM adj ORDER BY deg DESC, node ASC LIMIT 100),
       |cand AS (
       |  SELECT a.node AS u, a.nbrs AS nu, b.node AS v, b.nbrs AS nv
       |  FROM hubs a JOIN hubs b ON a.node < b.node)
       |SELECT u, v, CAST(len(list_intersect(nu, nv)) AS INT) AS common_neighbors
       |FROM cand
       |WHERE NOT list_contains(nu, v) AND len(list_intersect(nu, nv)) >= 1
       |ORDER BY common_neighbors DESC, u, v LIMIT 20""".stripMargin

  /** Adamic–Adar link prediction (the common-neighbor score reweighted by
    * 1/ln(deg) of each shared neighbor — rare shared neighbors count for
    * more). Computed in the WEDGE formulation: every node z contributes
    * C(|hub-neighbors of z|, 2) candidate pairs weighted 1/ln(deg z) —
    * the same center-expansion shape as the triangle count, so the
    * per-node cost is bounded by (hub-restricted) neighborhood size, and
    * no corpus-sized pair table ever forms. The hub filter is a 100-id
    * broadcast `array_intersect` against each adjacency list; scoring is
    * one (u,v)-keyed hash-agg over the wedge stream.
    */
  def adamicAdar(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val adj = und.groupBy("u")
      .agg(sort_array(collect_set(col("v"))).as("nbrs"), count(lit(1)).as("deg"))
    val hubs = adj.orderBy(col("deg").desc, col("u").asc).limit(100)
      .select(col("u").as("node"), col("nbrs"))
    val hubIds = hubs.agg(sort_array(collect_list("node")).as("hub_ids"))
    // array_intersect keeps the (sorted) order of its first argument, so
    // the hub-restricted neighbor list is sorted as pair_combos requires;
    // a pair implies ≥2 neighbors, so deg ≥ 2 and ln(deg) > 0
    val wedges = adj
      .crossJoin(broadcast(hubIds))
      .select(expr("array_intersect(nbrs, hub_ids)").as("hn"),
        col("deg").cast("double").as("deg"))
      .filter(size(col("hn")) >= 2)
      .select(explode(expr("pair_combos(hn)")).as("p"),
        (lit(1.0) / log(col("deg"))).as("w"))
    val scored = wedges
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(round(sum("w"), 4).as("aa_score"), count(lit(1)).as("common_neighbors"))
    scored
      .join(hubs.select(col("node").as("u"), col("nbrs").as("nbrs_u")), "u")
      .filter(!array_contains(col("nbrs_u"), col("v")))
      .select("u", "v", "common_neighbors", "aa_score")
      .orderBy(col("aa_score").desc, col("u").asc, col("v").asc)
      .limit(20)
  }

  private val adamicAdarSql =
    s"""WITH $edgesCte,
       |und AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |adj AS (
       |  SELECT u AS node, list_sort(list(v)) AS nbrs, count(*) AS deg
       |  FROM und GROUP BY 1),
       |hubs AS (SELECT node, nbrs FROM adj ORDER BY deg DESC, node ASC LIMIT 100),
       |wedge AS (
       |  SELECT a.v AS u, b.v AS v, 1.0 / ln(CAST(z.deg AS DOUBLE)) AS w
       |  FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
       |  JOIN adj z ON z.node = a.u
       |  WHERE a.v IN (SELECT node FROM hubs) AND b.v IN (SELECT node FROM hubs)
       |), scored AS (
       |  SELECT u, v, round(sum(w), 4) AS aa_score,
       |    CAST(count(*) AS BIGINT) AS common_neighbors
       |  FROM wedge GROUP BY 1, 2)
       |SELECT s.u, s.v, s.common_neighbors, s.aa_score
       |FROM scored s JOIN hubs h ON h.node = s.u
       |WHERE NOT list_contains(h.nbrs, s.v)
       |ORDER BY aa_score DESC, u, v LIMIT 20""".stripMargin

  /** 40-core peeling, three rounds unrolled: repeatedly drop nodes of
    * degree < 40 and the edges they carry, reporting the surviving
    * node/edge counts after each peel — the standard "dense cohesive
    * core" extraction (full k-core runs peels to a fixpoint; a fixed
    * unroll is the bounded-iteration form, the same treatment the
    * PageRank query gives power iteration; k = 40 straddles the fixture's
    * degree median so every round peels). Each round is one degree
    * hash-agg plus two semi joins keyed on the endpoint — no all-pairs
    * work, and the edge set only shrinks. The re-select before the
    * swapped union is load-bearing: semi joins reorder columns, and
    * UNION is positional — uniting (v, u)-ordered output with a by-name
    * swap would double ONE endpoint instead of adding both directions.
    */
  def kcore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The re-select before the swapped union is load-bearing: semi joins
    // reorder columns, and UNION is positional — uniting (v, u)-ordered
    // output with a by-name swap would double ONE endpoint instead of
    // adding both directions.
    def degrees(e0p: DataFrame): DataFrame = {
      val e = e0p.select(col("u"), col("v"))
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .groupBy("u").agg(count(lit(1)).as("d"))
    }
    def prune(e0p: DataFrame, deg: DataFrame): DataFrame = {
      val keep = deg.filter(col("d") >= 40).select(col("u").as("node"))
      e0p.select(col("u"), col("v"))
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }
    // Iterative-plan hygiene: each round's surviving edge set is
    // localCheckpoint'ed (eager), which TRUNCATES the lineage — with
    // cache() alone the logical tree embeds every prior round ~18× over
    // (InMemoryRelation keeps its child plan) and OPTIMIZER time grows
    // exponentially: measured depth 93 → 1 677 → 30 189 nodes and 10 s of
    // pure planning by round 3; checkpointed, every round is a flat
    // 24-node plan at constant cost. The degree table is cached and
    // consumed twice (this round's node count + the next round's peel
    // decision); the result is nine longs, so the counts materialize
    // eagerly, caches release before the frame returns, and the ~30 MB of
    // checkpoint blocks are reclaimed by the ContextCleaner when the
    // frames go out of scope — the same bounded-iteration treatment
    // GraphX/ML pipelines give Pregel loops.
    Materialize.scoped { m =>
      val e0 = m(edges(s, dir))
      var deg = m(degrees(e0))
      var cur = e0
      val rows = (1 to 3).map { r =>
        val nxt = Materialize.gated(edges(s, dir), prune(cur, deg), "kcore-round")
        val degN = m(degrees(nxt))
        // one job per round, not two: the degree table carries BOTH report
        // figures (n_nodes = rows, n_edges = Σd/2 — every undirected edge
        // contributes to exactly two nodes' degrees), and the checkpoint
        // is already materialized eagerly, so a separate edge count would
        // only re-scan it
        val stats = degN.agg(count(lit(1)).as("n"),
          coalesce(sum("d"), lit(0L)).as("sd")).collect()(0)
        val nNodes = stats.getLong(0)
        val nEdges = stats.getLong(1) / 2
        cur = nxt
        deg = degN
        (r, nNodes, nEdges)
      }
      rows.toDF("peel_round", "n_nodes", "n_edges")
        .orderBy("peel_round")
    }
  }

  /** Every CTE read more than once is MATERIALIZED: DuckDB 1.0 otherwise
    * inlines them and re-expands the whole edge chain at each reference,
    * which needs more than 3 GB at sf0.01 and exhausts temp storage at sf0.1.
    */
  private val kcoreSql =
    s"""WITH ${edgesCte.replace(" AS (", " AS MATERIALIZED (")},
       |k1 AS (SELECT n FROM deg WHERE d >= 40),
       |e1 AS MATERIALIZED (SELECT u, v FROM pairs
       |       WHERE u IN (SELECT n FROM k1) AND v IN (SELECT n FROM k1)),
       |deg1 AS (SELECT n, count(*) AS d FROM (
       |  SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY n),
       |k2 AS (SELECT n FROM deg1 WHERE d >= 40),
       |e2 AS MATERIALIZED (SELECT u, v FROM e1
       |       WHERE u IN (SELECT n FROM k2) AND v IN (SELECT n FROM k2)),
       |deg2 AS (SELECT n, count(*) AS d FROM (
       |  SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY n),
       |k3 AS (SELECT n FROM deg2 WHERE d >= 40),
       |e3 AS MATERIALIZED (SELECT u, v FROM e2
       |       WHERE u IN (SELECT n FROM k3) AND v IN (SELECT n FROM k3)),
       |s1 AS (SELECT 1 AS peel_round,
       |  (SELECT count(*) FROM (SELECT DISTINCT n FROM (
       |     SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1))) AS n_nodes,
       |  (SELECT count(*) FROM e1) AS n_edges),
       |s2 AS (SELECT 2 AS peel_round,
       |  (SELECT count(*) FROM (SELECT DISTINCT n FROM (
       |     SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2))) AS n_nodes,
       |  (SELECT count(*) FROM e2) AS n_edges),
       |s3 AS (SELECT 3 AS peel_round,
       |  (SELECT count(*) FROM (SELECT DISTINCT n FROM (
       |     SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3))) AS n_nodes,
       |  (SELECT count(*) FROM e3) AS n_edges)
       |SELECT CAST(peel_round AS INT) AS peel_round,
       |  CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges
       |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
       |ORDER BY peel_round""".stripMargin

  /** Local clustering coefficient, top-20 nodes by degree: c(v) =
    * 2·T(v) / (d(v)·(d(v)−1)) — "how close is v's neighborhood to a
    * clique", the per-node refinement of the global triangle census.
    * Per-node triangle counts reuse the degree-ordered orientation: each
    * triangle is found EXACTLY once (at its unique apex edge, via
    * `array_intersect` of two O(√m)-bounded out-neighbor lists) and
    * credits all three corners through one explode + node-keyed hash-agg
    * — never a per-node neighborhood clique expansion, which a hub makes
    * quadratic. Same size-gated broadcast discipline as the census; the
    * top-20 cut is a TakeOrdered with (degree, id) total order.
    */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame =
    Materialize.scoped { m =>
      val pairs = m(edges(s, dir))
      val deg = m(pairs.select(col("u").as("n"))
        .unionAll(pairs.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")))
      val nEdges = pairs.count()
      val cap = broadcastMaxBytes(s)
      def gate(df: DataFrame, bytes: Long): DataFrame =
        if (bytes <= cap) broadcast(df) else df
      val oriented = m(pairs
        .join(gate(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"),
          degBytes(nEdges)), "u")
        .join(gate(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"),
          degBytes(nEdges)), "v")
        .select(
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
            .otherwise(col("u")).as("dst")))
      val adj = oriented.groupBy("src")
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      // per oriented edge (src, dst): every common out-neighbor w closes
      // one triangle {src, dst, w}; credit all three corners
      val credits = oriented
        .join(gate(adj.select(col("src"), col("nbrs").as("ns")), adjBytes(nEdges)),
          Seq("src"))
        .join(gate(adj.select(col("src").as("dst"), col("nbrs").as("nd")),
          adjBytes(nEdges)), Seq("dst"), "left")
        .filter(col("nd").isNotNull)
        .select(col("src"), col("dst"),
          explode(expr("array_intersect(ns, nd)")).as("w"))
        .select(explode(array(col("src"), col("dst"), col("w"))).as("n"))
      val tri = credits.groupBy("n").agg(count(lit(1)).as("t"))
      val out = deg.join(tri, Seq("n"), "left").na.fill(0L, Seq("t"))
        .filter(col("d") >= 2)
        .select(col("n").as("node"), col("d").as("degree"),
          col("t").as("triangles"),
          round(col("t") * 2.0 / (col("d") * (col("d") - 1)), 4)
            .as("clustering_coeff"))
        .orderBy(col("degree").desc, col("node").asc)
        .limit(20)
      // 20-row result: materialize eagerly so every intra-query cache is
      // released before the frame is handed back (triangleCount's policy)
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }

  private val clusteringCoeffSql =
    s"""WITH $edgesCte,
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM pairs e1 JOIN pairs e2 ON e2.u = e1.v
       |  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
       |tpn AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
       |    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY n)
       |SELECT deg.n AS node, deg.d AS degree,
       |  CAST(coalesce(tpn.t, 0) AS BIGINT) AS triangles,
       |  round(coalesce(tpn.t, 0) * 2.0 / (deg.d * (deg.d - 1)), 4)
       |    AS clustering_coeff
       |FROM deg LEFT JOIN tpn ON deg.n = tpn.n
       |WHERE deg.d >= 2
       |ORDER BY degree DESC, node LIMIT 20""".stripMargin

  /** Multi-source BFS reachability, three hops from the top-10 hubs: how
    * much of the graph is within k hops of the core — the frontier-
    * expansion dual of k-core's peeling, and the bounded-iteration form of
    * shortest-path/connected-reach analytics (same fixed-unroll treatment
    * as PageRank/k-core). Each hop is one frontier semi-join against the
    * edge list plus a visited-set anti-join — keyed equi-joins only, the
    * frontier/visited tables are node-sized, and each round's outputs are
    * localCheckpoint'ed (k-core's lineage-truncation discipline, same
    * measured iterative-plan blow-up otherwise). A node is counted at its
    * MINIMUM hop only (the anti-join guarantees it), so hop counts are
    * BFS-correct, not walk counts.
    */
  def bfsReach(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Materialize.scoped { m =>
      val e0 = m(edges(s, dir))
      val und = m(e0.union(e0.select(col("v").as("u"), col("u").as("v"))))
      val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
      val seeds = Materialize.gated(edges(s, dir), deg.orderBy(col("d").desc, col("u").asc)
        .limit(10).select(col("u").as("node")), "bfs-seeds")
      var visited = seeds
      var frontier = seeds
      var frontierN = seeds.count()
      var visitedN = frontierN
      val cap = broadcastMaxBytes(s)
      // frontier/visited are node sets — 32 bytes/row is the degree-table
      // size model (degBytes). Below the cap they BROADCAST, so each
      // round's semi/anti join is a map-side pass over the cached edge
      // list with NO per-round shuffle of it; past the cap (a frontier
      // that swallowed the graph at 100 TB) the same joins run keyed.
      def gateN(df: DataFrame, n: Long): DataFrame =
        if (32L * n <= cap) broadcast(df) else df
      val rows = scala.collection.mutable.Buffer((0, frontierN))
      for (hop <- 1 to 3) {
        val nbrs = und
          .join(gateN(frontier.select(col("node").as("u")), frontierN),
            Seq("u"), "left_semi")
          .select(col("v").as("node")).distinct()
        // only the frontier is checkpointed: each round's output is then a
        // flat scan, and `visited` stays a UNION of already-checkpointed
        // frames (≤ 4, one per hop) — flat lineage without paying a second
        // materialization job per round (k-core's blow-up came from
        // *nested* uncheckpointed rounds, which this never forms)
        val next = Materialize.gated(edges(s, dir),
          nbrs.join(gateN(visited, visitedN), Seq("node"), "left_anti"), "bfs-hop")
        frontierN = next.count()
        visitedN += frontierN
        rows += ((hop, frontierN))
        visited = visited.union(next)
        frontier = next
      }
      rows.toSeq.toDF("hop", "n_reached").orderBy("hop")
    }
  }

  private val bfsReachSql =
    s"""WITH $edgesCte,
       |und AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |h0 AS (SELECT n AS node FROM deg ORDER BY d DESC, n ASC LIMIT 10),
       |h1 AS (
       |  SELECT DISTINCT v AS node FROM und JOIN h0 ON und.u = h0.node
       |  WHERE v NOT IN (SELECT node FROM h0)),
       |h2 AS (
       |  SELECT DISTINCT v AS node FROM und JOIN h1 ON und.u = h1.node
       |  WHERE v NOT IN (SELECT node FROM h0)
       |    AND v NOT IN (SELECT node FROM h1)),
       |h3 AS (
       |  SELECT DISTINCT v AS node FROM und JOIN h2 ON und.u = h2.node
       |  WHERE v NOT IN (SELECT node FROM h0)
       |    AND v NOT IN (SELECT node FROM h1)
       |    AND v NOT IN (SELECT node FROM h2))
       |SELECT CAST(hop AS INT) AS hop, CAST(n_reached AS BIGINT) AS n_reached
       |FROM (
       |  SELECT 0 AS hop, count(*) AS n_reached FROM h0 UNION ALL
       |  SELECT 1, count(*) FROM h1 UNION ALL
       |  SELECT 2, count(*) FROM h2 UNION ALL
       |  SELECT 3, count(*) FROM h3)
       |ORDER BY hop""".stripMargin

  // degree_hist leads: the first graph query pays the one-time per-fixture
  // edge materialization, and the cheapest query should be the one that
  // absorbs it (every later family member then reads the scratch parquet)
  /** Two unrolled synchronous rounds of min-label propagation — the
    * communication pattern under connected components / community
    * detection (each node adopts the smallest label in its closed
    * neighborhood; after r rounds a node carries the minimum id within r
    * hops). The full fixpoint already exists as the materialized cluster
    * table (DedupQueries); this declares the PER-ROUND primitive so the
    * propagation step itself is oracle-checked. Scale shape per round:
    * two edge-keyed equi-joins (one per endpoint orientation) + one
    * node-keyed min — all map-side combinable, label table never exceeds
    * the node count, no pair expansion anywhere. Two rounds keep the
    * lineage shallow enough that no checkpoint is needed (the measured
    * blow-up threshold from the k-core work sits at ~3 chained rounds).
    */
  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val pairs = edges(s, dir)
    // round-1 labels feed THREE subtrees of round 2 (the identity leg +
    // both join orientations): materialize once (optimization r18,
    // size-gated — the label table is |V|-sized) so round 2 plans over a
    // leaf instead of triplicating the round-1 join pyramid
    val l1 = Materialize.gated(pairs, labelRound(pairs, labelSeed(pairs)), "lprop-l1")
    val l2 = labelRound(pairs, l1)
    l2.groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(desc("n_members"), asc("label"))
      .limit(50)
  }

  /** Round-0 labels: every node of the edge list labeled with itself. */
  private[graft] def labelSeed(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("n")).union(pairs.select(col("v"))).distinct()
      .withColumn("lbl", col("n"))

  /** One synchronous round of [[labelPropagation]], lazy (PlanSpec pins
    * each round's own plan): each node takes the minimum label over its
    * closed neighborhood.
    */
  private[graft] def labelRound(pairs: DataFrame, lbl: DataFrame): DataFrame =
    lbl.select("n", "lbl")
      .union(pairs.join(lbl, col("u") === col("n"))
        .select(col("v").as("n"), col("lbl")))
      .union(pairs.join(lbl, col("v") === col("n"))
        .select(col("u").as("n"), col("lbl")))
      .groupBy("n").agg(min("lbl").as("lbl"))

  private val labelPropagationSql =
    s"""WITH $edgesCte,
       |nodes AS (SELECT u AS n FROM pairs UNION SELECT v FROM pairs),
       |l0 AS (SELECT n, n AS lbl FROM nodes),
       |l1 AS (
       |  SELECT n, min(lbl) AS lbl FROM (
       |    SELECT n, lbl FROM l0
       |    UNION ALL SELECT p.v AS n, l.lbl FROM pairs p JOIN l0 l ON p.u = l.n
       |    UNION ALL SELECT p.u AS n, l.lbl FROM pairs p JOIN l0 l ON p.v = l.n)
       |  GROUP BY n),
       |l2 AS (
       |  SELECT n, min(lbl) AS lbl FROM (
       |    SELECT n, lbl FROM l1
       |    UNION ALL SELECT p.v AS n, l.lbl FROM pairs p JOIN l1 l ON p.u = l.n
       |    UNION ALL SELECT p.u AS n, l.lbl FROM pairs p JOIN l1 l ON p.v = l.n)
       |  GROUP BY n)
       |SELECT lbl AS label, CAST(count(*) AS BIGINT) AS n_members
       |FROM l2 GROUP BY lbl
       |ORDER BY n_members DESC, label LIMIT 50""".stripMargin

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every directed orientation of the edge list.
    * By symmetry the x/y margins coincide, so r reduces to
    * (n·Σxy − Sx²)/(n·Σxx − Sx²) with every sum an exact BIGINT over the
    * materialized edge table (one broadcast degree join, one scan); the
    * final ratio is the only floating-point step and is identical in both
    * engines (the inputs are exact integers converted once to doubles).
    */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val pairs = edges(s, dir)
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // same size gate as the triangle census: the degree table is
    // node-cardinality and broadcasts below the cap; past it the two
    // joins shuffle on the endpoint keys instead of OOMing the driver
    val cap = broadcastMaxBytes(s)
    val nEdges = pairs.count()
    def gate(df: DataFrame): DataFrame =
      if (degBytes(nEdges) <= cap) broadcast(df) else df
    val du = deg.select(col("n").as("un"), col("d").as("du"))
    val dv = deg.select(col("n").as("vn"), col("d").as("dv"))
    pairs
      .join(gate(du), col("u") === col("un"))
      .join(gate(dv), col("v") === col("vn"))
      .agg((count(lit(1)) * 2).as("n"),
        sum(col("du") + col("dv")).as("sx"),
        (sum(col("du") * col("dv")) * 2).as("sxy"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"))
      .select(col("n").as("n_directed_edges"),
        round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("assortativity"))
  }

  private val assortativitySql =
    s"""WITH $edgesCte
       |SELECT CAST(count(*) * 2 AS BIGINT) AS n_directed_edges,
       |  round((CAST(count(*) * 2 AS DOUBLE) * CAST(sum(du.d * dv.d) * 2 AS DOUBLE)
       |      - CAST(sum(du.d + dv.d) AS DOUBLE) * CAST(sum(du.d + dv.d) AS DOUBLE)) /
       |    (CAST(count(*) * 2 AS DOUBLE) * CAST(sum(du.d * du.d + dv.d * dv.d) AS DOUBLE)
       |      - CAST(sum(du.d + dv.d) AS DOUBLE) * CAST(sum(du.d + dv.d) AS DOUBLE)),
       |    6) AS assortativity
       |FROM pairs
       |JOIN deg du ON pairs.u = du.n
       |JOIN deg dv ON pairs.v = dv.n""".stripMargin

  /** Katz centrality, truncated at walk length 3 with attenuation β = 0.1
    * — the walk-counting centrality that credits a node for its extended
    * neighborhood, not just degree (PageRank's non-normalized cousin;
    * the truncation is standard practice since β^k walk mass vanishes
    * geometrically). The β choice makes the score EXACT: katz·1000 =
    * 100·w₁ + 10·w₂ + w₃ where wₖ = (Aᵏ1)ᵤ are exact integer walk
    * counts computed by two edge-keyed join-aggregate rounds — no double
    * enters until the final display division, so ranking ties break
    * deterministically on integers. Scale shape: each round is one
    * shuffle keyed by node over the materialized edge table (the
    * message-passing pattern label propagation already uses); top-20
    * via ordered limit.
    */
  def katzCentrality(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val p1 = sym.groupBy("u").agg(count(lit(1)).as("w1"))
    val p2 = sym.join(p1.select(col("u").as("nb"), col("w1")), col("v") === col("nb"))
      .groupBy("u").agg(sum("w1").as("w2"))
    val p3 = sym.join(p2.select(col("u").as("nb"), col("w2")), col("v") === col("nb"))
      .groupBy("u").agg(sum("w2").as("w3"))
    p1.join(p2, Seq("u")).join(p3, Seq("u"))
      .withColumn("km", lit(100L) * col("w1") + lit(10L) * col("w2") + col("w3"))
      .orderBy(col("km").desc, col("u"))
      .limit(20)
      .select(col("u").as("node"), col("w1").as("walks1"), col("w2").as("walks2"),
        col("w3").as("walks3"),
        round(col("km").cast("double") / 1000.0, 3).as("katz"))
      .orderBy(col("katz").desc, col("node"))
  }

  private val katzCentralitySql =
    s"""WITH $edgesCte,
       |sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
       |p1 AS (SELECT u, CAST(count(*) AS BIGINT) AS w1 FROM sym GROUP BY 1),
       |p2 AS (SELECT s.u, CAST(sum(p1.w1) AS BIGINT) AS w2
       |  FROM sym s JOIN p1 ON s.v = p1.u GROUP BY 1),
       |p3 AS (SELECT s.u, CAST(sum(p2.w2) AS BIGINT) AS w3
       |  FROM sym s JOIN p2 ON s.v = p2.u GROUP BY 1)
       |SELECT u AS node, w1 AS walks1, w2 AS walks2, w3 AS walks3,
       |  round(CAST(100 * w1 + 10 * w2 + w3 AS DOUBLE) / 1000.0, 3) AS katz
       |FROM p1 JOIN p2 USING (u) JOIN p3 USING (u)
       |ORDER BY 100 * w1 + 10 * w2 + w3 DESC, node LIMIT 20""".stripMargin

  /** Harmonic centrality (3-hop truncation) for the top-10 hub nodes:
    * H(u) = Σ_v 1/d(u,v) = n₁ + n₂/2 + n₃/3 over the BFS hop censuses —
    * the centrality that, unlike closeness, stays well-defined on
    * disconnected graphs. The hop counts are DISTINCT-node sets per seed
    * (walk counts ≠ reachability — this is the set-semantics complement
    * of [[katzCentrality]]), and 6·H = 6n₁ + 3n₂ + 2n₃ is an EXACT
    * integer, so the ranking never touches a double. Scale shape: one
    * LONG bitmask per reached node (the seed set is ≤10 by construction),
    * advanced by three hop joins of the edge table against the ≤|V|-row
    * mask frame plus a node-keyed bit_or aggregate per hop; the mask
    * frame's broadcast hint and its materialization are both size-gated
    * (r18), so above the gate the hops run as shuffle joins over
    * scratch-parquet masks — the reachable set of high-degree hubs is
    * approximately the whole vertex set at corpus scale, which no driver
    * can broadcast.
    */
  def harmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val seeds = deg.orderBy(col("d").desc, col("u").asc).limit(10)
      .select(col("u").as("seed"))
    // Bitmask BFS (r17 optimization round): the seed set is ≤10 BY
    // CONSTRUCTION, so per-seed (seed, node) reachability rows are
    // replaced by ONE long bitmask per node — r_k(n) = mask of seeds
    // within distance k. Each hop is then a single broadcast join of the
    // edge table against the ≤|V|-row mask frame plus one node-keyed
    // bit_or aggregate (map-side partials collapse before the exchange);
    // the per-hop DISTINCT and the (seed, node) anti-joins of the old
    // shape disappear because mask-OR is both the dedup and the visited
    // set. Exact-hop counts fall out as popcount differences:
    // n_hopk(s) = |r_k ∋ s| − |r_{k−1} ∋ s|, exact integers throughout.
    // (Earlier r17 variants are kept for the record: two rebalanced
    // checkpoint layouts of the (seed, node) shape measured SLOWER than
    // per-hop checkpoints; the hop-tagged union + pivot aggregate that
    // replaced the three censuses measured 4.95 → 4.36; this mask shape
    // replaces that whole family.)
    val seedVals = seeds.collect().map(_.get(0)) // ≤10 rows by construction
    if (seedVals.isEmpty)
      // empty fixture: agg(array()) below would have zero aggregate
      // children and fail analysis — return the (empty) result directly
      return seeds.select(col("seed"), lit(0L).as("n_hop1"),
        lit(0L).as("n_hop2"), lit(0L).as("n_hop3"),
        lit(0.0).as("harmonic"))
    val seedBit = s.createDataFrame(
      java.util.Arrays.asList(seedVals.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(v, i)
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "seed", seeds.schema("seed").dataType),
        org.apache.spark.sql.types.StructField(
          "bit", org.apache.spark.sql.types.IntegerType))))
    val m0 = seedBit.select(col("seed").as("node"),
      expr("shiftleft(CAST(1 AS BIGINT), bit)").as("mask"))
    // The broadcast hint on the mask frame is SIZE-GATED (r18): the frame
    // grows to every reached node — on a corpus-scale graph the 3-hop
    // neighborhood of the top-10 hubs is approximately the whole vertex
    // set, and a mandatory broadcast there OOMs the driver. Below the
    // gate (actual post-checkpoint stats, 16 bytes/row) the hint keeps
    // the bench-scale plan; above it the hop falls back to a shuffle
    // join, which is the shape that survives 100 TB.
    val maskBroadcastMaxBytes = s.conf
      .getOption("graft.graph.maskBroadcastMaxBytes")
      .map(_.toLong).getOrElse(64L << 20)
    def hop(r: DataFrame): DataFrame = {
      val m = r.select(col("node").as("u"), col("mask"))
      val small = Materialize.inputBytes(r) <= maskBroadcastMaxBytes
      r.union(und
          .join(if (small) broadcast(m) else m, Seq("u"))
          .select(col("v").as("node"), col("mask")))
        .groupBy("node").agg(expr("bit_or(mask)").as("mask"))
    }
    // mask materialization between hops, size-gated like the hint (r18)
    val r1 = Materialize.gated(edges(s, dir), hop(m0), "harm-r1")
    val r2 = Materialize.gated(edges(s, dir), hop(r1), "harm-r2")
    val r3 = hop(r2)
    def bitCounts(r: DataFrame, name: String): DataFrame =
      r.agg(array((0 until seedVals.length).map(i =>
        sum(shiftright(col("mask"), i).bitwiseAND(lit(1L)))): _*).as(name))
    val joined = seedBit
      .crossJoin(broadcast(bitCounts(r1, "c1")))
      .crossJoin(broadcast(bitCounts(r2, "c2")))
      .crossJoin(broadcast(bitCounts(r3, "c3")))
    joined
      .withColumn("n_hop1", element_at(col("c1"), col("bit") + 1) - lit(1L))
      .withColumn("n_hop2",
        element_at(col("c2"), col("bit") + 1) - element_at(col("c1"), col("bit") + 1))
      .withColumn("n_hop3",
        element_at(col("c3"), col("bit") + 1) - element_at(col("c2"), col("bit") + 1))
      .withColumn("h6", lit(6L) * col("n_hop1") + lit(3L) * col("n_hop2")
        + lit(2L) * col("n_hop3"))
      .select(col("seed"), col("n_hop1"), col("n_hop2"), col("n_hop3"),
        round(col("h6").cast("double") / 6.0, 4).as("harmonic"))
      .orderBy(col("h6").desc, col("seed"))
  }

  private val harmonicCentralitySql =
    s"""WITH $edgesCte,
       |sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
       |seeds AS (
       |  SELECT n AS seed FROM deg ORDER BY d DESC, n ASC LIMIT 10),
       |f1 AS (
       |  SELECT DISTINCT s.seed, e.v AS node
       |  FROM seeds s JOIN sym e ON e.u = s.seed
       |  WHERE e.v <> s.seed),
       |v1 AS (SELECT seed, node FROM f1 UNION SELECT seed, seed AS node FROM seeds),
       |f2 AS (
       |  SELECT DISTINCT f.seed, e.v AS node
       |  FROM f1 f JOIN sym e ON e.u = f.node
       |  WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.seed = f.seed AND v1.node = e.v)),
       |v2 AS (SELECT seed, node FROM v1 UNION SELECT seed, node FROM f2),
       |f3 AS (
       |  SELECT DISTINCT f.seed, e.v AS node
       |  FROM f2 f JOIN sym e ON e.u = f.node
       |  WHERE NOT EXISTS (SELECT 1 FROM v2 WHERE v2.seed = f.seed AND v2.node = e.v)),
       |census AS (
       |  SELECT s.seed,
       |    CAST((SELECT count(*) FROM f1 WHERE f1.seed = s.seed) AS BIGINT) AS n_hop1,
       |    CAST((SELECT count(*) FROM f2 WHERE f2.seed = s.seed) AS BIGINT) AS n_hop2,
       |    CAST((SELECT count(*) FROM f3 WHERE f3.seed = s.seed) AS BIGINT) AS n_hop3
       |  FROM seeds s)
       |SELECT seed, n_hop1, n_hop2, n_hop3,
       |  round(CAST(6 * n_hop1 + 3 * n_hop2 + 2 * n_hop3 AS DOUBLE) / 6.0, 4)
       |    AS harmonic
       |FROM census
       |ORDER BY 6 * n_hop1 + 3 * n_hop2 + 2 * n_hop3 DESC, seed""".stripMargin

  /** HITS hubs-and-authorities on the DIRECTED customer→supplier
    * purchase graph (who-buys-from-whom via lineitem ⋈ orders) — the
    * link-analysis pair PageRank doesn't give: a supplier is a good
    * AUTHORITY when good hub customers buy from it, a customer a good
    * HUB when it buys from good authorities. Two unnormalized power
    * iterations keep every score an EXACT integer walk count (the
    * [[katzCentrality]] trick on a bipartite graph): a₁ = in-degree,
    * h₁ = Σ_out a₁, a₂ = Σ_in h₁ — so the top-10 authority ranking and
    * its hub-side context never touch a double, and ties break on the
    * supplier key deterministically. Scale shape: one distinct over
    * the join (edge derivation), then two edge-keyed join-aggregate
    * message rounds; the supplier-keyed frames are dimension-bounded
    * and ride broadcasts.
    */
  def hits(s: SparkSession, dir: String): DataFrame = {
    // the bipartite edge list feeds all three message rounds (a1, h1, a2):
    // materialize the fact-join + distinct once (optimization r17)
    // size-gated (r18): distinct (cust, supplier) pairs are fact-scale
    val e = Materialize.gated(Tables.lineitem(s, dir),
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct(),
      "hits-e")
    val a1 = e.groupBy("sp").agg(count(lit(1)).as("a1"))
    val h1 = e.join(broadcast(a1), Seq("sp"))
      .groupBy("c").agg(sum("a1").as("h1"))
    val a2 = e.join(h1, Seq("c"))
      .groupBy("sp").agg(sum("h1").as("a2"))
    a2.join(broadcast(a1), Seq("sp"))
      .orderBy(col("a2").desc, col("sp"))
      .limit(10)
      .select(col("sp").as("supplier"), col("a1").as("in_degree"),
        col("a2").as("authority2"),
        round(col("a2").cast("double") / col("a1").cast("double"), 2)
          .as("avg_hub_score"))
      .orderBy(col("authority2").desc, col("supplier"))
  }

  private val hitsSql =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |a1 AS (SELECT sp, CAST(count(*) AS BIGINT) AS a1 FROM e GROUP BY 1),
      |h1 AS (
      |  SELECT c, CAST(sum(a1) AS BIGINT) AS h1
      |  FROM e JOIN a1 USING (sp) GROUP BY 1),
      |a2 AS (
      |  SELECT sp, CAST(sum(h1) AS BIGINT) AS a2
      |  FROM e JOIN h1 USING (c) GROUP BY 1)
      |SELECT sp AS supplier, a1 AS in_degree, a2 AS authority2,
      |  round(CAST(a2 AS DOUBLE) / CAST(a1 AS DOUBLE), 2) AS avg_hub_score
      |FROM a2 JOIN a1 USING (sp)
      |ORDER BY a2 DESC, sp LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // Personalized PageRank from the top-degree hub (restart α = 0.15,
  // 4 unrolled power iterations) — the "what's relevant AROUND this
  // node" primitive behind related-item retrieval and local community
  // seeding, where global PageRank washes out locality. Determinism at
  // graph scale is the hard part: per-node double sums over 100k+
  // in-edges are order-dependent, so this runs an INTEGER-QUANTIZED
  // walk — mass starts at 1e12, each edge carries r DIV deg(u), each
  // iteration keeps (inflow·85) DIV 100 plus the seed's exact
  // 0.15·1e12 restart — every value a BIGINT, every sum order-free,
  // truncation bounded by iterations·|frontier|/1e12. Ranks stay a
  // SPARSE frame (only touched nodes), each round one keyed join +
  // hash-agg over the materialized edge table; lineage is flattened
  // per round (the k-core checkpoint lesson).
  // ------------------------------------------------------------------
  def personalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    // deg feeds the und2 build, the seed selection, and the final report
    // join: materialize the degree census once (optimization r17)
    // size-gated (r18): deg is |V|-sized, und2 is 2|E|-sized
    val deg = Materialize.gated(edges(s, dir),
      und.groupBy("u").agg(count(lit(1)).as("d")), "ppr-deg")
    val und2 = Materialize.gated(edges(s, dir), und.join(deg, Seq("u")), "ppr-und2")
    val seed = Materialize.gated(edges(s, dir), deg.orderBy(col("d").desc, col("u").asc)
      .limit(1).select(col("u").as("node")), "ppr-seed")
    val seedRestart = seed.select(col("node"), lit(150000000000L).as("val"))
    var ranks = seed.select(col("node"), lit(1000000000000L).as("r"))
    for (_ <- 1 to 4) {
      val inflow = und2.join(ranks, col("u") === col("node"))
        .select(col("v"), expr("r DIV d").as("c"))
        .groupBy("v").agg(sum("c").as("infl"))
        .select(col("v").as("node"), expr("(infl * 85) DIV 100").as("val"))
      // (r18 counter-finding: materializing only every SECOND round —
      // half the barrier jobs, 2-round lineage over the und2 leaf —
      // measured SLOWER in full sweeps: 3.2-3.4 s across three sweeps vs
      // 2.4 s with per-round barriers, solo probes noise-bounded either
      // way. The per-round eager checkpoint stands.)
      ranks = Materialize.gated(edges(s, dir),
        inflow.unionByName(seedRestart)
          .groupBy("node").agg(sum("val").as("r")),
        "ppr-ranks")
    }
    ranks.join(deg, col("node") === col("u"))
      .orderBy(col("r").desc, col("node").asc)
      .limit(10)
      .select(col("node"), col("d").as("degree"),
        round(expr("CAST(r AS DOUBLE) / 1e12"), 6).as("ppr"))
  }

  private val personalizedPagerankSql = {
    def iter(i: Int) =
      s"""r${i + 1} AS (
         |  SELECT node, CAST(sum(val) AS BIGINT) AS r FROM (
         |    SELECT node, (infl * 85) // 100 AS val FROM (
         |      SELECT s.v AS node, CAST(sum(r$i.r // d.d) AS BIGINT) AS infl
         |      FROM sym s JOIN r$i ON s.u = r$i.node JOIN deg d ON d.n = s.u
         |      GROUP BY 1)
         |    UNION ALL SELECT node, 150000000000 FROM seed)
         |  GROUP BY 1)""".stripMargin
    s"""WITH $edgesCte,
       |sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
       |seed AS (SELECT n AS node FROM deg ORDER BY d DESC, n LIMIT 1),
       |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM seed),
       |${(0 until 4).map(iter).mkString(",\n")}
       |SELECT r4.node, d.d AS degree,
       |  round(CAST(r4.r AS DOUBLE) / 1e12, 6) AS ppr
       |FROM r4 JOIN deg d ON d.n = r4.node
       |ORDER BY r4.r DESC, r4.node LIMIT 10""".stripMargin
  }

  // ------------------------------------------------------------------
  // Friendship paradox census: "your neighbors have more connections
  // than you" — mean neighbor degree Σd²/Σd exceeds mean degree Σd/n
  // whenever degree has variance, and the per-node form (node u
  // experiences the paradox iff Σ_{v∈N(u)} d_v > d(u)²) is the
  // sampling-bias diagnostic for neighborhood-based crawlers/samplers:
  // a high paradox share means edge-sampled views of the graph are
  // badly degree-biased. Exact integers end to end — the global means
  // are integer ratios and the per-node test is an integer cross-
  // product; one degree self-join over the edge list, no doubles
  // before display.
  // ------------------------------------------------------------------
  def friendshipParadox(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val nbrSum = und
      .join(deg.select(col("u").as("v2"), col("d").as("dv")), col("v") === col("v2"))
      .groupBy("u").agg(sum("dv").as("sdv"))
    val perNode = deg.join(nbrSum, Seq("u"))
      .select(col("u"), col("d"), col("sdv"),
        (col("sdv") > col("d") * col("d")).cast("long").as("paradox"))
    perNode.agg(count(lit(1)).as("n_nodes"),
        sum("d").as("sum_d"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))")).as("sum_d2"),
        sum("paradox").as("n_paradox"))
      .select(col("n_nodes"), expr("sum_d DIV 2").as("n_edges"),
        round(expr("CAST(sum_d AS DOUBLE) / CAST(n_nodes AS DOUBLE)"), 4)
          .as("mean_degree"),
        round(expr("CAST(sum_d2 AS DOUBLE) / CAST(sum_d AS DOUBLE)"), 4)
          .as("mean_neighbor_degree"),
        round(expr("CAST(n_paradox AS DOUBLE) / CAST(n_nodes AS DOUBLE)"), 4)
          .as("paradox_share"))
  }

  private val friendshipParadoxSql =
    s"""WITH $edgesCte,
       |sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
       |nbr AS (
       |  SELECT s.u, CAST(sum(d.d) AS BIGINT) AS sdv
       |  FROM sym s JOIN deg d ON s.v = d.n GROUP BY 1),
       |pernode AS (
       |  SELECT deg.n AS u, deg.d, nbr.sdv,
       |    CASE WHEN nbr.sdv > deg.d * deg.d THEN 1 ELSE 0 END AS paradox
       |  FROM deg JOIN nbr ON deg.n = nbr.u),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d) AS BIGINT) AS sum_d,
       |    sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sum_d2,
       |    CAST(sum(paradox) AS BIGINT) AS n_paradox
       |  FROM pernode)
       |SELECT n_nodes, CAST(sum_d // 2 AS BIGINT) AS n_edges,
       |  round(CAST(sum_d AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4) AS mean_degree,
       |  round(CAST(sum_d2 AS DOUBLE) / CAST(sum_d AS DOUBLE), 4)
       |    AS mean_neighbor_degree,
       |  round(CAST(n_paradox AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4)
       |    AS paradox_share
       |FROM agg""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("graph_friendship_paradox", friendshipParadox,
      Some(friendshipParadoxSql)),
    QueryDef("graph_personalized_pagerank", personalizedPagerank,
      Some(personalizedPagerankSql)),
    QueryDef("graph_hits", hits, Some(hitsSql)),
    QueryDef("graph_harmonic_centrality", harmonicCentrality, Some(harmonicCentralitySql)),
    QueryDef("graph_katz_centrality", katzCentrality, Some(katzCentralitySql)),
    QueryDef("graph_conductance", conductance, Some(conductanceSql)),
    QueryDef("graph_modularity", modularity, Some(modularitySql)),
    QueryDef("graph_assortativity", assortativity, Some(assortativitySql)),
    QueryDef("graph_degree_hist", degreeHistogram, Some(degreeHistogramSql)),
    QueryDef("graph_label_propagation", labelPropagation, Some(labelPropagationSql)),
    QueryDef("graph_triangle_count", triangleCount, Some(triangleCountSql)),
    QueryDef("graph_clustering_coeff", clusteringCoeff, Some(clusteringCoeffSql)),
    QueryDef("graph_bfs_reach", bfsReach, Some(bfsReachSql)),
    QueryDef("graph_link_prediction", linkPrediction, Some(linkPredictionSql)),
    QueryDef("graph_adamic_adar", adamicAdar, Some(adamicAdarSql)),
    QueryDef("graph_kcore", kcore, Some(kcoreSql))
  )
}
