package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD

/** Sweep-level guard logic for unpartitioned windows, run over every
  * declared query by OperatorSmokeSpec's window guards.
  *
  * An unpartitioned `Window` moves ALL its input to one partition — fine
  * on a frame whose size is bounded by the calendar or a value domain
  * (days in a year, distinct cents, a |types| grid), fatal on row-level
  * data at 100 TB. The per-query PlanSpec pins cover individual queries;
  * this walks EVERY declared query so a new row-level global window can't
  * hide inside the bench tail's WindowExec warning storm.
  */
object WindowAudit {
  /** The explicit allowlist: every query permitted an unpartitioned
    * window, with the bounded domain that justifies it. The guard in
    * OperatorSmokeSpec fails any query that (a) grows an unpartitioned
    * window without an entry here, or (b) has one that does NOT sit above
    * a collapsed (aggregated / checkpointed-collapsed / literal) frame;
    * a second test fails stale entries, so the list can only name real,
    * audited frames.
    */
  val BoundedGlobalWindows: Map[String, String] = Map(
    "agg_bh_fdr" -> "hypothesis list (one row per test), BH rank walk",
    "agg_isotonic_fit" -> "daily frame + its O(days^2) interval-mean pair frame",
    "agg_cliffs_delta" -> "value-collapsed quantity domain (<=50 distinct)",
    "agg_conditional_entropy" -> "category-grid frame (status x flag)",
    "agg_dickey_fuller" -> "daily revenue frame (days in span, not rows)",
    "agg_durbin_watson" -> "daily revenue frame (days in span, not rows)",
    "agg_kpss_test" -> "daily revenue frame (days in span, not rows)",
    "agg_kruskal_wallis" -> "(ship-month x quantity-domain) collapsed frame",
    "agg_ks_test" -> "value-collapsed quantity-domain ECDF",
    "agg_ljung_box" -> "daily revenue frame",
    "agg_lorenz_deciles" -> "value-collapsed spend-cents / decile frame",
    "agg_mann_whitney" -> "value-collapsed quantity-domain ranks",
    "agg_runs_test" -> "daily sign sequence",
    "agg_survival_km" -> "event-day-collapsed risk table",
    "curation_bpe_pairs" -> "top-20 merge-pair list",
    "curation_bpe_encode" -> "top-20 merge-pair ranking (reuses bpe_pairs)",
    "curation_bpe_tokenize" ->
      "token-id vocabulary (distinct final tokens: chars + 20 learned merges)",
    "curation_epoch_plan" -> "|sources|-bounded planning grid",
    "curation_dsir_selection" ->
      "per-partition offset prefix (|shuffle partitions| rows; DistributedOrder)",
    "curation_quality_calibration" ->
      "per-partition offset prefix (|shuffle partitions| rows; DistributedOrder)",
    "curation_quality_classifier" ->
      "per-partition offset prefix (|shuffle partitions| rows; DistributedOrder)",
    "curation_quality_classifier_apply" ->
      "per-partition offset prefix (|shuffle partitions| rows; DistributedOrder)",
    "curation_quality_classifier_holdout" ->
      "per-partition offset prefix (|shuffle partitions| rows; DistributedOrder)",
    "curation_token_packing" ->
      "per-partition offset prefix (|shuffle partitions| rows; DistributedOrder)",
    "dedup_sorted_neighborhood" -> "collapsed sort-key frame",
    "misc_gini_split" -> "candidate-threshold grid (value domain)",
    "misc_global_index" -> "per-partition offset/bucket table",
    "misc_histogram_equi_depth" -> "value-collapsed cents domain",
    "misc_skyline_2d" -> "(price, size)-collapsed frontier sweep",
    "multimodal_shard_plan" -> "per-shard size table (|shards| rows)",
    "q11_important_stock" -> "per-(part) aggregate vs 1-row global threshold",
    "q15_top_supplier" -> "per-supplier revenue aggregate (suppliers, not rows)",
    "q20_potential_promotion" -> "per-(part, supp) aggregate frame",
    "text_heaps_law" -> "vocabulary-growth checkpoints (collapsed)",
    "text_zipf_fit" -> "frequency-collapsed top-rank vocabulary frame",
    "win_bollinger_bands" -> "daily frame (days in span, not rows)",
    "win_cusum_changepoint" -> "daily frame",
    "win_granger_causality" -> "daily frame",
    "win_hampel_outliers" -> "daily frame",
    "win_mase_smape" -> "daily frame",
    "win_motif_pairs" -> "daily frame (<=359 windows/yr)",
    "win_pacf_durbin" -> "daily frame",
    "win_peak_detection" -> "daily frame",
    "win_period_over_period" -> "daily frame",
    "win_rolling_corr" -> "daily frame",
    "win_rsi_signal" -> "daily frame",
    "win_seasonality_dow" -> "day-of-week grid over daily frame",
    "text_keyphrase_textrank" ->
      "vocabulary-sized rank over the co-occurrence graph nodes",
    "text_term_burstiness" -> "vocabulary-sized term-frequency rollup",
    "win_ntile_quartiles" -> "per-customer spend aggregate frame (customers, not orders)",
    "win_share_of_total" -> "grouped aggregate vs 1-row total",
    "win_sma_crossover" -> "daily frame",
    "win_spectral_weekly" -> "daily frame",
    "win_stochastic_osc" -> "daily frame")

  /** Unpartitioned logical Window nodes anywhere in the plan. */
  def unpartitioned(plan: LogicalPlan): Seq[Window] =
    plan.collect { case w: Window if w.partitionSpec.isEmpty => w }

  /** True when the window's input is already collapsed: an Aggregate (the
    * usual daily/value-collapsed frame), a checkpointed LogicalRDD (a
    * collapsed frame materialized via localCheckpoint — the aggregate that
    * built it is behind the RDD cut), or a LocalRelation (literal frame).
    *
    * The walk is BARRIER-BOUNDED (VERDICT r11 #2 / ADVICE): it descends
    * only through row-preserving unary nodes from the window's child —
    * a `collectFirst` over the whole subtree would accept an Aggregate
    * found on the SMALL side of a join whose other side is a row-level
    * scan. At a Join or Union, EVERY branch must itself be collapsed
    * (bounded × bounded is still bounded; bounded × row-level is not).
    * Row-MULTIPLYING nodes (Generate/explode, Expand) stop the walk and
    * fail: an explode of a collect_list over the corpus is row-level data
    * again, even though an Aggregate sits below it.
    */
  def collapsedBelow(w: Window): Boolean = collapsed(w.child)

  private def collapsed(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: LogicalRDD | _: LocalRelation => true
    case _: Join | _: Union | _: SetOperation => p.children.forall(collapsed)
    case _: Project | _: Filter | _: SubqueryAlias | _: Sort | _: Window |
        _: GlobalLimit | _: LocalLimit | _: Offset | _: Distinct |
        _: Deduplicate | _: RepartitionOperation =>
      collapsed(p.children.head)
    case _ => false
  }
}
