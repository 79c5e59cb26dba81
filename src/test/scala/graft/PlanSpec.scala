package graft

/** Explain-plan assertions (SURVEY.md §7 Phase 5): the physical plans the
  * engine relies on at scale actually materialize — pushdown, pruning,
  * broadcast, whole-stage codegen, and the custom operator.
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("q01: filter pushed to parquet, columns pruned, codegen on") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, Sf)
    df.collect() // run THIS execution so AQE finalizes (count() would plan afresh)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // '*'-prefixed nodes are inside WholeStageCodegen spans
    assert("""\+\- \* """.r.findAllIn(p).size >= 4, p)
    // pruned: only the 7 needed columns in ReadSchema, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_returnflag"), readSchema)
  }

  test("star join broadcasts every dimension") {
    val p = plan("join_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join strategy hints select the physical join") {
    // the user-facing strategy escape hatch: same logical join, three
    // different physical operators on request (the optimizer's choice is
    // only a default, not a cage)
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, Sf).select("o_orderkey")
    def planOf(hinted: org.apache.spark.sql.DataFrame): String =
      hinted.join(li, col("o_orderkey") === col("l_orderkey"))
        .queryExecution.executedPlan.toString
    assert(planOf(o.hint("broadcast")).contains("BroadcastHashJoin"))
    assert(planOf(o.hint("merge")).contains("SortMergeJoin"))
    assert(planOf(o.hint("shuffle_hash")).contains("ShuffledHashJoin"))
  }

  test("binned band join plans as an equi join, never a nested loop") {
    val p = plan("join_binned_band_acctbal")
    // the theta sibling MUST nested-loop; the binned rewrite must not —
    // that is the whole point of the bin key
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("brute-force similarity broadcasts the query side, never the corpus") {
    val p = plan("sim_brute_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("native top-k plans one exchange and no Window sort") {
    val p = plan("win_topk_native")
    assert(p.contains("TopKPerGroup"), p)
    assert(!p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("embedding near-dup ranks via two-phase native top-k, not a label window") {
    val p = plan("dedup_embedding_cosine")
    // the label-level top-5 must be the two-phase TopKPerGroup — a
    // row_number window partitioned by label alone caps parallelism at
    // n_labels and full-sorts the pair set (measured 30.7× at 10× data)
    assert(p.contains("TopKPerGroupPartial"), p)
    assert(p.linesIterator.exists(l => l.contains("TopKPerGroup") && !l.contains("Partial")), p)
    assert(!p.contains("row_number"), p)
  }

  test("minhash LSH shuffles keys, never shingle arrays") {
    val p = plan("dedup_minhash_lsh")
    // candidate dedup (HashAggregate over Exchange) must key on the two doc
    // ids only — no array-typed column may appear in any shuffle key
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.nonEmpty, p)
    exchanges.foreach { e =>
      assert(!e.contains("shingles") && !e.contains("sh_a") && !e.contains("sh_b") &&
        !e.contains("sig"), s"array-typed shuffle key in: $e")
    }
    assert(!p.contains("CartesianProduct"), p)
  }

  test("native kinesis-like source plans one partition per shard") {
    val staged = streaming.RecordStream.kinesisFixture(spark, Sf)
    val mb = new streaming.source.KinesisLikeMicroBatch(staged, Long.MaxValue, "graft-events")
    val parts = mb.planInputPartitions(mb.initialOffset(),
      mb.latestOffset(mb.initialOffset(),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()))
    assert(parts.length == streaming.RecordStream.NumShards, parts.mkString(","))
  }

  test("bucketed join never shuffles the join key") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("src_bucketed_join")(spark, Sf)
      df.collect() // finalize AQE on this execution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("SelectedBucketsCount"), p)
      // the only exchange allowed is the post-join aggregation key — the
      // join itself reads co-located buckets
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { e =>
        assert(!e.contains("custkey"), s"join key shuffled: $e")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partition-pruned read scans only the selected partitions") {
    val df = SparkEntry.queries("src_partitioned_pruned")(spark, Sf)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("o_orderstatus"), scan)
  }

  test("predicate-subquery rewrites to semi/anti join, not per-row subquery") {
    val p = plan("sub_in_predicate")
    assert(p.contains("LeftSemi"), p)
    val p2 = plan("sub_not_in_predicate")
    assert(p2.contains("LeftAnti"), p2)
  }

  test("bm25 keeps the postings join keyed — no cartesian, query side broadcast") {
    val p = plan("sim_bm25_topk")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop is the broadcast of the 1-row corpus stats
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("domain blocklist filters with a broadcast anti join, corpus never shuffles for it") {
    val p = plan("curation_domain_blocklist")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("semantic dedup blocks pairs by cluster — no corpus-wide cartesian") {
    val p = SparkEntry.queries("dedup_semantic")(spark, Sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop is the tiny broadcast codebook assign, computed
    // once inside the materialized assignment frame: every consumer scans
    // that one frame (one RDD id), and no nested loop is left in the plan
    val rddIds = """MapPartitionsRDD\[\d+\]""".r.findAllIn(p).toSeq
    assert(rddIds.size >= 3 && rddIds.distinct.size == 1, p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("substring spans: shingle df join is an equi join on the shingle key") {
    val p = plan("dedup_substring_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pq encode joins the broadcast codebook by subspace, adc broadcasts queries") {
    val p = plan("sim_pq_adc_topk")
    assert(!p.contains("CartesianProduct"), p)
    // encode: candidates × codebook is an equi join on the subspace id with
    // the (80-row) codebook broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // adc: the only nested loop is the 10-row broadcast query side (the
    // same shape sim_brute_topk pins)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("scd2 and zscore run the daily agg and the key windows on ONE exchange") {
    // hash(key) satisfies ClusteredDistribution(key, day), so the explicit
    // repartition is the only shuffle: agg + lag/lead/row_number all reuse it
    Seq("misc_scd2_history", "win_anomaly_zscore", "win_ewma_daily",
        "text_char_entropy").foreach { q =>
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"$q:\n$p")
    }
    // retention self-joins act⋈cohort, so the shared repartition(user_id)
    // appears twice in the static plan — execution dedupes the identical
    // subtrees via exchange reuse (that, not the static count, is the pin)
    val df = SparkEntry.queries("agg_retention_cohorts")(spark, Sf)
    df.collect()
    val pr = df.queryExecution.executedPlan.toString
    assert(pr.contains("ReusedExchange"), pr)
  }

  test("bloom prefilter runs below the probe-side shuffle; PIT join is never a cartesian") {
    // the whole point of the bloom prefilter is moving FEWER rows: the
    // might_contain probe (native BloomFilterMightContain over a scalar
    // subquery — no UDF since r16) must sit BELOW the semi join's
    // probe-side shuffle, i.e. rows drop between the lineitem scan and
    // the first exchange, whichever physical join the build side selects
    val bloomDf = operators.JoinQueries.bloomPrefilterPlan(spark, Sf)
    // AdaptiveSparkPlanExec is a leaf — unwrap it so collect* sees the
    // real operator tree
    val exec = bloomDf.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case o => o
    }
    val p = exec.toString
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("UDF"), p)
    val probeFilter = exec.collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
    }
    assert(probeFilter.nonEmpty, p)
    // below the probe filter: the lineitem scan and NO shuffle — the
    // sketch drops rows pre-exchange, which is the entire 100 TB claim
    assert(probeFilter.get.exists {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.toString.contains("lineitem")
      case _ => false
    }, probeFilter.get.toString)
    assert(!probeFilter.get.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      probeFilter.get.toString)
    // the temporal interval predicate is a residual on the custkey hash
    // join — per-key history is tiny, so residual scan is bounded
    val pit = plan("join_point_in_time")
    assert(!pit.contains("CartesianProduct"), pit)
    assert(!pit.contains("BroadcastNestedLoopJoin"), pit)
    // <=> is a first-class equi-join key: hash join, never a nested loop
    val ns = plan("join_null_safe")
    assert(ns.contains("HashJoin"), ns)
    assert(!ns.contains("NestedLoop") && !ns.contains("CartesianProduct"), ns)
  }

  test("prf expansion: base arm scored once, merged full-outer with the expansion arm") {
    // VERDICT r15 #1: stage 3 must NOT re-join the base query terms
    // against the postings — the merged score comes from a full-outer
    // join of the stage-1 aggregate with the (≤2 terms/query) expansion
    // arm, and the stage-1 aggregate subtree is planned once and reused
    val df = SparkEntry.queries("sim_prf_expansion")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), p)
    // the base-arm aggregate feeds both the feedback ranking and the
    // merge through ONE exchange — execution dedupes the identical
    // subtrees, which is what "never re-scored" looks like physically.
    // Either reuse spelling counts (ADVICE r16 #4): AQE plans the same
    // dedup as ReusedQueryStage, and pinning one optimizer artifact's
    // name would fail the test on a config change with no regression.
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"), p)
  }

  test("sql-surface lowering: UnionLoop recursion, UDF-free SQL functions, identifier plan parity") {
    // WITH RECURSIVE must execute as the native iterative operator — an
    // unrolled union would fix the depth at plan time, which is exactly
    // what the data-dependent recursion exists to avoid
    val rec = plan("sql_recursive_cte")
    assert(rec.contains("UnionLoop"), rec)
    assert(rec.contains("UnionLoopRef"), rec)
    // SQL-defined functions are macro-expanded by the analyzer: the
    // physical plan must contain no UDF call (that is the whole "escape
    // hatch without the UDF tax" claim)
    val fn = plan("sql_create_function")
    assert(!fn.contains("UDF"), fn)
    // IDENTIFIER() + variables resolve in the analyzer: the optimized
    // plan is indistinguishable from the literal query's
    val tpl = SparkEntry.queries("sql_identifier_templating")(spark, Sf)
    val lit = spark.sql(
      s"""SELECT o_orderstatus AS grp, CAST(count(*) AS BIGINT) AS n,
        |  ${graft.operators.SharedExprs.sumCentsSql("o_totalprice")} AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY 1, 2, 3""".stripMargin)
    assert(tpl.queryExecution.optimizedPlan.sameResult(lit.queryExecution.optimizedPlan))
  }

  test("approx data profile plans with NO Expand — one combining pass per scan") {
    // the exact profiler multiplies rows ×(columns+1) through Expand before
    // its shuffle; the approx variant exists to kill exactly that, so any
    // Expand in its plan means the scale path regressed
    val p = plan("agg_data_profile_approx")
    assert(!p.contains("Expand"), p)
    // the exact-distinct contract branches are plain two-level aggregations
    // over column-pruned scans; the profile pass itself is one aggregation
    assert(p.contains("HashAggregate"), p)
  }

  test("triangle count: broadcast below the size gate, keyed shuffle above it") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import graft.operators.{GraphQueries, Materialize}
    val pairs = GraphQueries.edges(spark, Sf).cache()
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")).cache()
    val nEdges = pairs.count()
    try {
      // fixture scale, default 256 MB cap: the gate is open — deg joins and
      // both adjacency probes broadcast; the edge list never shuffles
      assert(GraphQueries.adjBytes(nEdges) <=
        GraphQueries.broadcastMaxBytes(spark))
      val pOpen = Materialize.scoped { m =>
        GraphQueries.triangleStatsPlan(spark, m, pairs, deg, nEdges)
          .queryExecution.executedPlan.toString
      }
      assert("BroadcastHashJoin".r.findAllIn(pOpen).size >= 4, pOpen)
      assert(!pOpen.contains("CartesianProduct"), pOpen)
      // force the gate shut (cap = 1 byte) AND disable stats-broadcast so
      // the pinned shape is the pure fallback: keyed shuffled joins on the
      // node/src/dst keys — the 100 TB plan, no driver-sized build side
      val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("graft.graph.broadcastMaxBytes", "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val rowsShut = Materialize.scoped { m =>
          val shut = GraphQueries.triangleStatsPlan(spark, m, pairs, deg, nEdges)
          val pShut = shut.queryExecution.executedPlan.toString
          assert(!pShut.contains("BroadcastHashJoin"), pShut)
          assert(pShut.contains("SortMergeJoin") || pShut.contains("ShuffledHashJoin"), pShut)
          // both shapes compute the same census (the 1-row stats cross-join
          // may nested-loop/cartesian — bounded by construction)
          shut.head()
        }
        spark.conf.unset("graft.graph.broadcastMaxBytes")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
        val rowsOpen = Materialize.scoped { m =>
          GraphQueries.triangleStatsPlan(spark, m, pairs, deg, nEdges).head()
        }
        assert(rowsShut.getLong(0) == rowsOpen.getLong(0) &&
          rowsShut.getLong(1) == rowsOpen.getLong(1), s"$rowsShut vs $rowsOpen")
      } finally {
        spark.conf.unset("graft.graph.broadcastMaxBytes")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      }
    } finally { pairs.unpersist(); deg.unpersist() }
  }

  test("sorted neighborhood: rank pairing is an equi join, offsets broadcast") {
    // the window-3 neighbor probe must plan as a hash join on the rank key
    // (explode of rn+1..rn+3), never a range/BNL join; the bucket-offset
    // frame joins in as a broadcast
    val p = plan("dedup_sorted_neighborhood")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("adamic-adar: wedge expansion only — no corpus cartesian, one tiny broadcast loop") {
    // candidate pairs come from per-center pair_combos over hub-filtered
    // adjacency; the ONLY nested-loop allowed is the single-row hub-id
    // array broadcast against adjacency (everything else is keyed)
    val p = plan("graph_adamic_adar")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("pair_combos"), p)
  }

  test("mips: corpus streams against broadcast queries, rank is native top-k") {
    // both phases stream the big side against a ≤32-row broadcast (the
    // same shape as sim_brute_topk — there is no equi key in an all-pairs
    // bound check), the bound predicate sits IN the join condition so
    // skipped candidates never reach the dot, and the final rank must be
    // the two-phase TopKPerGroup rewrite, not a row_number window
    val p = plan("sim_mips_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    assert(p.contains("c_norm") && p.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains(">=")), p)
    assert(p.contains("TopKPerGroupPartial"), p)
  }

  test("attribution: both touch assignments fuse into ONE window node") {
    // last-touch and first-touch must ride the same user-keyed sort — two
    // Window nodes would mean a second exchange/sort of the event log
    val p = plan("win_attribution")
    assert("Window \\[".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fuzzy join probes ranks via an equi join, never an in-block clique") {
    // candidates must come from the (blk, rank) equi probe — a clique
    // self-join on blk alone is quadratic in duplicate density (the
    // scale corpus replicates names verbatim, so it would be 100× at 10×)
    val p = plan("join_fuzzy_blocked")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("levenshtein"), p)
  }

  test("event sequences: the hour bucket is IN the equi-join key") {
    // joining on user_id alone with the 1-hour band as a residual makes
    // per-user pair enumeration quadratic in that user's TOTAL event
    // count (a 10^6-event bot = 10^12 pairs in one task); the hour
    // bucket must appear in the shuffle key so fan-out is bounded by
    // in-window density
    val p = plan("join_event_sequences")
    val joinLine = p.linesIterator
      .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin"))
      .getOrElse(sys.error("no hash/merge join in plan:\n" + p))
    assert(joinLine.contains("hr#") && joinLine.contains("hr_b#"), joinLine)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rolling corr: the global-order window runs over the daily aggregate") {
    // the unpartitioned window is safe ONLY because the event log
    // collapses to a days-bounded frame first — the Window node must sit
    // above the daily HashAggregate, never directly on the scan
    val p = plan("win_rolling_corr")
    val wi = p.indexOf("Window [")
    assert(wi >= 0, p)
    val hi = p.indexOf("HashAggregate", wi)
    assert(hi > wi, "no aggregate below the window:\n" + p)
  }

  test("q05: the same-nation constraint is an equi-join condition, not a residual filter") {
    // the supplier join must carry BOTH keys (suppkey AND nationkey) so
    // "local" rides the existing shuffle/broadcast — a post-join filter
    // would first enumerate every (lineitem, supplier) key match across
    // nations and throw most of them away
    val p = plan("q05_local_supplier")
    val supJoin = p.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin"))
      .find(_.contains("s_suppkey"))
      .getOrElse(sys.error("no supplier join in plan:\n" + p))
    assert(supJoin.contains("c_nationkey") && supJoin.contains("s_nationkey"), supJoin)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmeans: argmin assignment is a combining aggregate, never a per-vector sort window") {
    // a row_number window per vec_id would shuffle-and-sort the ×k
    // fan-out; min_by keeps the argmin map-side combinable, and the
    // k-row centroid tables must broadcast against the streamed corpus
    val p = plan("sim_kmeans_lloyd")
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("label propagation: every round is keyed joins + keyed min, no pair expansion") {
    // pinned on the lazy round lineage: the declared query checkpoints
    // round 1 at construction, so its final plan only shows round 2
    import operators.GraphQueries.{edges, labelRound, labelSeed}
    val equi = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
    def keyedOnly(df: org.apache.spark.sql.DataFrame): Int = {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      equi.findAllIn(p).size
    }
    val pairs = edges(spark, Sf)
    val r1 = labelRound(pairs, labelSeed(pairs))
    // one round = two endpoint orientations = exactly 2 equi joins
    assert(keyedOnly(r1) == 2)
    // two rounds × two endpoint orientations = at least 4 equi joins
    assert(keyedOnly(labelRound(pairs, r1)) >= 4)
    // the declared query: round 2's two joins over the round-1 checkpoint
    assert(keyedOnly(SparkEntry.queries("graph_label_propagation")(spark, Sf)) >= 2)
  }

  test("q04: EXISTS plans as one semi join, no correlated re-scan") {
    val p = plan("q04_order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // one scan of each table: the EXISTS must not re-scan lineitem per row
    assert("Scan parquet".r.findAllIn(p).size == 2, p)
  }

  test("q19: disjunctive predicate stays above a single equi join") {
    // Catalyst must extract the common l_partkey = p_partkey key from the
    // OR-of-ANDs — a cartesian with a residual filter would be quadratic
    val p = plan("q19_discounted_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q21: waiting-supplier correlation reads lineitem ONCE through orderkey windows") {
    // the aggregate-then-rejoin form computed the flag subtree twice; the
    // orderkey-partitioned windows must keep exactly one scan of each table
    val p = plan("q21_waiting_supplier")
    // lineitem + orders + supplier(name join), each exactly once
    assert("Scan parquet".r.findAllIn(p).size == 3, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q16: NOT IN exclusion plans as a broadcast anti join") {
    val p = plan("q16_parts_supplier")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("spearman: rank windows are nation-partitioned, never a global sort") {
    val p = plan("agg_spearman_corr")
    assert(p.contains("Window"), p)
    // every window exchange hashes on the partition key; a global-rank
    // plan would show 'Exchange SinglePartition' feeding a Window
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("n_name")), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
  }

  test("ohlc bars: both edge windows ride one (type, bar) partitioning") {
    val p = plan("win_ohlc_bars")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
  }

  test("diverse top-k: both stages plan as two-phase native top-k, no Window") {
    val p = plan("sim_diverse_topk")
    // a row_number form would full-sort the scored candidate set per
    // (query, label); the two chained GroupTopK stages keep partial
    // per-partition heaps so the shuffle carries at most k rows per group
    assert("TopKPerGroupPartial".r.findAllIn(p).size == 2, p)
    assert(!p.contains("row_number"), p)
    assert(!p.contains("Window"), p)
  }

  test("theil-sen: pair-rank windows are year-partitioned, never global") {
    val p = plan("agg_theil_sen_trend")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
  }

  test("winsorized stats: rank, count, cut windows AND the final agg share ONE exchange") {
    // all four window functions and the final priority-keyed aggregate sit
    // on the same key — Catalyst must plan exactly one hashpartitioning
    // exchange for the whole query (the windows' output partitioning
    // satisfies the aggregate's requirement)
    val p = plan("agg_winsorized_stats")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
  }

  test("weighted median: one flag-keyed exchange, selector is a filter not a join") {
    val p = plan("agg_weighted_median")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
  }

  test("daily-frame signal queries scan orders once with no joins") {
    // crossover and hampel are window pipelines over the aggregate-first
    // daily frame: one parquet scan, no join anywhere — a second scan or
    // a self-join would make the signal pass corpus-sized
    Seq("win_sma_crossover", "win_hampel_outliers", "win_bollinger_bands",
      "win_rsi_signal", "win_stochastic_osc", "win_holt_linear",
      "agg_ljung_box", "win_page_hinkley", "win_holt_winters",
      "agg_durbin_watson", "win_kalman_level").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: $p")
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q: $p")
    }
  }

  test("changepoint: no pair expansion — prefix-sum window only, year-keyed") {
    val p = plan("win_changepoint_mean")
    // binary segmentation must NOT materialize split pairs: every prefix
    // row IS a candidate, so the plan is windows over one exchange with
    // no join anywhere
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
  }

  test("nonparametric pair frames are partition-keyed equi-joins, never cartesian") {
    // MK / HL / Pettitt / BH all expand calendar-bounded pairs via an
    // equi-join on the partition key (year or nation) — a cartesian or
    // BNLJ here would be corpus-sized, not calendar-sized
    Seq("agg_mann_kendall", "agg_hodges_lehmann", "win_pettitt_changepoint",
      "agg_bh_fdr").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("moore-lewis: the multiplicity pre-agg shuffle is computed once and reused") {
    // the docTerms subtree feeds three consumers (probe side, term counts,
    // normalizer scalars) — at runtime AQE's exchange reuse must collapse
    // the duplicates so the explode+pre-agg runs ONCE; the scalars ride a
    // broadcast
    val df = SparkEntry.queries("text_moore_lewis")(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q02: correlated min is one fact scan through a partkey rank window") {
    // the aggregate-then-rejoin form scans lineitem + the dim chain twice
    // (no exchange reuse) — the window form must keep exactly one scan of
    // each of the five tables
    val p = plan("q02_min_cost_supplier")
    assert("Scan parquet".r.findAllIn(p).size == 5, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("assortativity: degree joins broadcast over one edge scan") {
    val p = plan("graph_assortativity")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sketch rollup: the merge side scans ONLY the persisted partials, never the base") {
    // the incremental-maintenance contract: query-time distinct counts /
    // quantiles come from the pre-agg table (25×7 sketch rows), so a
    // regression that re-derives partials from orders inside the merge
    // subtree — re-scanning all of history per query — fails here
    val hll = operators.AggQueries.hllMergedEstimate(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(hll.contains("graft-hll-partials"), hll)
    assert(!hll.contains("orders.parquet") && !hll.contains("customer.parquet"), hll)
    val td = operators.AggQueries.tdMergedQuantiles(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(td.contains("graft-td-partials"), td)
    assert(!td.contains("orders.parquet"), td)
    // and the full oracle-facing queries keep exactly one base-table scan
    // each (the exact side), not two
    val full = operators.AggQueries.hllPartialMerge(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("orders\\.parquet".r.findAllIn(full).size == 1, full)
  }

  private val NotBatchRx = """NOT \(\(doc_id#\d+L? % 10\) = 9\)""".r

  test("index maintenance: probe scans persisted band index + new batch only — no corpus re-shingle") {
    // the production daily-crawl contract (VERDICT r12 #6): the corpus
    // band index is a maintained table, so the per-batch query must read
    // it from disk (bucketed postings table + sigs parquet) and shingle
    // ONLY the batch slice. A regression that re-derives the corpus
    // postings inline would show a corpus-side documents pipeline (the
    // NOT-batch filter) in the plan.
    val p = SparkEntry.queries("dedup_index_maintenance")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_band_postings"), p) // the bucketed index table
    assert(p.contains("graft-band-index"), p)    // the sigs parquet
    // the batch filter is present on the documents pipeline...
    assert("""\(doc_id#\d+L? % 10\) = 9""".r.findFirstIn(p).nonEmpty, p)
    // ...and the corpus complement is NOT (no full-corpus re-shingle)
    assert(NotBatchRx.findFirstIn(p).isEmpty, p)
    // POSITIVE CONTROL (ADVICE r14 #3): the absence-regex above must be
    // able to see the regression it guards against — the corpus-side
    // build lineage (the one pass that legally scans the complement) DOES
    // carry the NOT-batch filter, so the regex is not vacuously empty
    val ctrl = operators.DedupQueries.corpusSigsFrame(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(NotBatchRx.findFirstIn(ctrl).nonEmpty, ctrl)
  }

  test("index maintenance: bucketed postings side of the probe join has NO shuffle") {
    // the cluster-scale layout (VERDICT r14 #4): postings are bucketed on
    // (band, bhash) — exactly the probe join key — so the index side reads
    // co-located and only the batch-sized probe side exchanges. Broadcast
    // + AQE disabled so the pin exercises the shuffle path the 100 TB
    // deployment would take (a corpus-sized index is never broadcast).
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = SparkEntry.queries("dedup_index_maintenance")(spark, Sf)
      val phys = df.queryExecution.executedPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      def scansBucketTable(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect {
          case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table.startsWith("graft_band_postings")) => f
        }.nonEmpty
      // the bucketed scan is in the plan at all…
      assert(scansBucketTable(phys), phys.toString)
      // …and on the probe join itself, the child feeding the bucketed
      // scan reaches the join with NO shuffle in between (the probe side
      // is allowed — indeed required — to exchange to the bucket count)
      def hasJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect {
          case j: SortMergeJoinExec => j
          case j: ShuffledHashJoinExec => j
        }.nonEmpty
      // the INNERMOST join side over the scan: contains the bucketed scan
      // and no further join below (ancestor joins see the scan too, but
      // through intermediate aggregates whose exchanges are legitimate)
      val joinChildren = phys.collect {
        case j: SortMergeJoinExec => Seq(j.left, j.right)
        case j: ShuffledHashJoinExec => Seq(j.left, j.right)
      }.flatten.filter(c => scansBucketTable(c) && !hasJoin(c))
      assert(joinChildren.nonEmpty, phys.toString)
      joinChildren.foreach { side =>
        val shuffles = side.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"shuffle on the bucketed index side of the probe join:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("incremental clusters: closure maintained from persisted labels — no corpus re-shingle") {
    // the delta path reads the persisted corpus labels and the persisted
    // postings; the corpus-side documents pipeline (the NOT-batch filter)
    // must never appear — re-deriving the closure from text would be the
    // regression this operator exists to avoid
    val p = SparkEntry.queries("dedup_clusters_incremental")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft-corpus-cc-labels"), p)
    assert(NotBatchRx.findFirstIn(p).isEmpty, p)
    // The assembly plan above cannot witness the delta path (the closure
    // runs eagerly at DataFrame construction — ADVICE r14 #3), so pin the
    // batch-only shape on the LAZY delta lineage itself: it shingles only
    // the batch slice, reads the persisted postings table + labels, and
    // never the corpus complement
    val d = operators.DedupQueries.incrementalClusterDelta(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(d.contains("graft_band_postings"), d)
    assert(d.contains("graft-corpus-cc-labels"), d)
    assert("""\(doc_id#\d+L? % 10\) = 9""".r.findFirstIn(d).nonEmpty, d)
    assert(NotBatchRx.findFirstIn(d).isEmpty, d)
  }

  private val NotBatchVecRx = """NOT \(\(vec_id#\d+L? % 10\) = 9\)""".r

  test("ANN index maintenance: probe reads persisted IVF index + batch delta only — no corpus re-embed") {
    // the daily-crawl contract, ANN edition (VERDICT r16 #4): centroids
    // and corpus assignments are maintained tables, so the per-batch query
    // must read them from disk and run embeddings scans ONLY over the
    // batch slice — a regression that re-derives the corpus assignments
    // inline would show the complement filter in the plan
    val p = SparkEntry.queries("sim_index_maintenance")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_ivf_assign"), p) // the bucketed assignments table
    assert(p.contains("graft-ivf-index"), p)  // the centroids parquet
    assert("""\(vec_id#\d+L? % 10\) = 9""".r.findFirstIn(p).nonEmpty, p)
    assert(NotBatchVecRx.findFirstIn(p).isEmpty, p)
    // POSITIVE CONTROL: the corpus-side train+assign lineage (the one
    // pass that legally scans the complement) DOES carry the NOT-batch
    // filter, so the absence-regex can see the regression it guards
    val ctrl = operators.SimilarityQueries.corpusAssignFrame(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(NotBatchVecRx.findFirstIn(ctrl).nonEmpty, ctrl)
    // the census row honors the same contract
    val c = SparkEntry.queries("sim_index_census")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(c.contains("graft_ivf_assign"), c)
    assert(NotBatchVecRx.findFirstIn(c).isEmpty, c)
  }

  test("ANN index probe: bucketed assignments side reaches the join with no shuffle") {
    // same cluster-scale layout pin as the band-index probe: assignments
    // are bucketed on list_id — exactly the probe join key — so the index
    // side reads co-located; only the (tiny, broadcast) query frame moves.
    // AQE off for the pin only: AdaptiveSparkPlanExec hides its input plan
    // from collect(), so the structural walk needs the static plan.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val phys =
      try SparkEntry.queries("sim_index_maintenance")(spark, Sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def scansIvfTable(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("graft_ivf_assign")) => f
      }.nonEmpty
    assert(scansIvfTable(phys), phys.toString)
    def hasJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
        case j: BroadcastHashJoinExec => j
      }.nonEmpty
    val joinChildren = phys.collect {
      case j: SortMergeJoinExec => Seq(j.left, j.right)
      case j: ShuffledHashJoinExec => Seq(j.left, j.right)
      case j: BroadcastHashJoinExec => Seq(j.left, j.right)
    }.flatten.filter(c => scansIvfTable(c) && !hasJoin(c))
    assert(joinChildren.nonEmpty, phys.toString)
    joinChildren.foreach { side =>
      val shuffles = side.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"shuffle on the bucketed IVF index side of the probe join:\n$side")
    }
  }

  test("isotropy: pair-free sufficient statistics — no pair join of any kind") {
    // the whole point of the ‖Σx̂‖² identity is that mean pairwise cosine
    // needs NO pair enumeration: the plan must stay scan→agg with only the
    // 1-row totals broadcast, never a vector-vector join
    val p = plan("sim_embedding_isotropy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("skyline: sort-sweep is one scan, one window, zero joins") {
    val p = plan("misc_skyline_2d")
    assert(!p.contains("Join"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
  }

  test("granger: centered moments are one aggregate — no join anywhere") {
    val p = plan("win_granger_causality")
    assert(!p.contains("Join"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("ranking metrics: the query panel broadcasts against the corpus") {
    val p = plan("sim_ranking_metrics")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("personalized pagerank: sparse integer walk — keyed joins only") {
    val p = plan("graph_personalized_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("motif pairs: the theta pair join runs on the days-bounded window frame") {
    // corpus-sized work must collapse to the daily aggregate BEFORE the
    // non-equi pair join; the base scan feeds a HashAggregate, and the
    // only join in the plan is the broadcast theta join of the tiny frames
    val p = plan("win_motif_pairs")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("r11 plan shapes: OOV vocab broadcasts, leakage joins keyed, prefix ops have no global window") {
    // the OOV census must broadcast the 200-row vocabulary against the
    // token stream — a shuffle join on the token key would re-partition
    // the whole corpus by token
    val oov = plan("curation_oov_rate")
    assert(oov.contains("BroadcastHashJoin"), oov)
    assert(!oov.contains("SortMergeJoin"), oov)
    assert(!oov.contains("CartesianProduct"), oov)
    // split leakage: one keyed self-join of the collapsed frame — no
    // cartesian, no row-level pair expansion
    val leak = plan("curation_split_leakage")
    assert(!leak.contains("CartesianProduct"), leak)
    assert(!leak.contains("BroadcastNestedLoopJoin"), leak)
    // the two DistributedOrder rewrites: since r12 the ranged frame is
    // localCheckpoint'd BEFORE the branches fork (ADVICE r11 — partition
    // assignment must not depend on exchange reuse), so the range exchange
    // runs inside the eager checkpoint and the final plan's signature is
    // both consumer branches scanning the SAME materialized RDD: every
    // ExistingRDD scan cites one RDD id, and no range exchange (which
    // would mean a branch re-partitioned independently) remains
    Seq("curation_token_packing", "curation_quality_calibration").foreach { n =>
      val p = SparkEntry.queries(n)(spark, Sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val rddIds = """MapPartitionsRDD\[\d+\]""".r.findAllIn(p).toSeq
      assert(rddIds.size >= 2 && rddIds.distinct.size == 1, s"$n: $p")
      assert(!p.contains("Exchange rangepartitioning"), s"$n: $p")
    }
  }

  test("r12 dt families: derived date columns come from a broadcast dictionary") {
    // the scale fix for the worst non-exempt 10x factors (9.0-9.5x in
    // BENCH_SCALE r11): formatter/zone-rule work runs once per DISTINCT
    // o_orderdate (a ~2.4k-row broadcast dictionary), never per row — a
    // SortMergeJoin here would mean the dictionary stopped broadcasting,
    // and a missing join would mean someone reverted to per-row formatting
    Seq("dt_funcs", "dt_timezone_funcs").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: $p")
      assert(!p.contains("SortMergeJoin"), s"$n: $p")
    }
  }

  test("r13 DSIR: one corpus pass into the checkpoint, broadcast dims, materialized prefix") {
    // the (doc, bucket) frame is localCheckpoint'd and the rank comes from
    // DistributedOrder's checkpoint, so the FINAL plan must read only the
    // materialized RDD — a parquet scan here would mean a consumer
    // re-derived the corpus explode (a duplicated 100 TB pass), and a
    // residual range exchange would mean the prefix branches forked before
    // materialization
    val p = SparkEntry.queries("curation_dsir_selection")(spark, Sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Scan parquet"), p)
    val rddIds = """MapPartitionsRDD\[\d+\]""".r.findAllIn(p).toSeq
    assert(rddIds.size >= 3 && rddIds.distinct.size == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("r13 BPE train: the per-iteration census is one keyed aggregate — no join, no window") {
    // every training step's argmax census runs over the vocabulary frame
    // as hash aggregates only; a window or join appearing here would put
    // per-iteration cost above |vocab| and the 20-step loop would not
    // survive a 100 TB corpus's vocabulary
    val c = operators.CurationQueries
      .bpeCensus(operators.CurationQueries.bpeInitEnc(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(!c.contains("Window"), c)
    assert(!c.contains("Join"), c)
    assert(!c.contains("CartesianProduct"), c)
    assert("HashAggregate".r.findAllIn(c).nonEmpty, c)
  }

  test("CDC: native kernel scans text once, consumers share one chunk RDD") {
    // the boundary pass must be the codegen'd rolling-hash kernel over ONE
    // parquet scan with no shuffle — a regression back to the interpreted
    // O(8)-per-position HOF fold shows up as `aggregate(sequence(...` in
    // the projection
    import org.apache.spark.sql.functions.{col, length}
    val scanSide = Tables.documents(spark, Sf)
      .filter(length(col("text")) >= 8)
      .selectExpr("doc_id", "cdc_boundaries(text) AS bounds")
      .queryExecution.executedPlan.toString
    assert(scanSide.contains("cdc_boundaries"), scanSide)
    assert(!scanSide.contains("Exchange"), scanSide)
    assert(!scanSide.toLowerCase.contains("aggregate(sequence"), scanSide)
    // the full query re-uses the checkpointed chunk table on BOTH sides of
    // the doc-frequency join (every ExistingRDD scan cites the same RDD) —
    // the kernel pass runs once, and the text column is never re-read
    val p = SparkEntry.queries("dedup_cdc_chunks")(spark, Sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val rddIds = """MapPartitionsRDD\[\d+\]""".r.findAllIn(p).toSeq
    assert(rddIds.size == 2 && rddIds.distinct.size == 1, p)
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
