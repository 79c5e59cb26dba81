package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import Measure.{fixed, obj}

/** Deterministic N× fixture amplifier for the scale-proof sweep: every
  * "this plan survives 100×" claim in the plan audits is an argument until
  * it is measured on a larger corpus. This stamps out `reps` replicas of
  * each fact table with fresh, disjoint key ranges (id' = id + replica ·
  * 10⁷ — far above any fixture key), preserving referential integrity
  * across the key domains (orderkey/custkey/partkey/suppkey move together
  * in orders/lineitem; user/event ids in events; doc/vec ids in
  * documents/embeddings). Dimension tables (region, nation) stay fixed —
  * at any real scale they are the broadcast side. Text/embedding payloads
  * replicate verbatim, so every document becomes a 10-way duplicate
  * cluster: deliberately ADVERSARIAL for the dedup family (the df-caps and
  * hot-bucket caps are exactly the guards this stresses).
  *
  * Pure column arithmetic — rerunning produces byte-identical data.
  */
object ScaleGen {
  val Stride = 10000000L

  val keyCols: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq.empty,
    "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def generate(spark: SparkSession, src: String, out: String, reps: Int): Unit = {
    // events.ts round-trips in its on-disk representation: NANOS vintages
    // are read as raw longs (legacy conf) and re-written as int64, µs
    // vintages as TIMESTAMP_NTZ — either way Tables.events normalizes
    // the copy exactly like the source
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val replicas = broadcast(spark.range(reps).toDF("rep"))
    keyCols.foreach { case (t, ids) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      if (ids.nonEmpty) {
        // the replica offset is only collision-free while every source key
        // fits under the stride; an oversized fixture must fail loudly,
        // not silently corrupt the referential integrity it promises
        val maxes = df.agg(max(ids.head).cast("long").as(ids.head),
          ids.tail.map(c => max(c).cast("long").as(c)): _*).collect()(0)
        ids.zipWithIndex.foreach { case (c, i) =>
          val m = maxes.getLong(i)
          require(m < Stride,
            s"ScaleGen: $t.$c max key $m >= stride $Stride — replica key ranges would collide")
        }
      }
      val amplified =
        if (ids.isEmpty) df
        else ids.foldLeft(df.crossJoin(replicas)) { (d, c) =>
          d.withColumn(c, col(c) + col("rep") * Stride)
        }.drop("rep")
      amplified.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  /** The amplified corpus with a deliberately HOT key: after the normal
    * reps× amplification, ~10% of all orders are reassigned to one real
    * customer and ~10% of all events to the same id as user — the "one
    * bot / load-test artifact owns a tenth of the log" shape that breaks
    * plans whose per-key work is quadratic (or whose per-probe cost is
    * linear in per-key dim size). Everything else is identical to
    * [[generate]], so a query's skew factor isolates key-distribution
    * sensitivity, not data volume.
    */
  def generateSkewed(spark: SparkSession, src: String, out: String, reps: Int): Unit = {
    generate(spark, src, out, reps)
    val hot = spark.read.parquet(s"$out/customer.parquet")
      .agg(min(col("c_custkey")).cast("long")).collect()(0).getLong(0)
    val o = spark.read.parquet(s"$out/orders.parquet")
    o.withColumn("o_custkey",
        when(col("o_orderkey") % 10 === 0, lit(hot)).otherwise(col("o_custkey")))
      .write.mode("overwrite").parquet(s"$out/orders_skew.parquet")
    spark.read.parquet(s"$out/events.parquet")
      .withColumn("user_id",
        when(col("event_id") % 10 === 0, lit(hot)).otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$out/events_skew.parquet")
    // swap into place (parquet dirs): the skewed corpus REPLACES orders/
    // events in its own directory tree, so Tables reads it transparently
    for (t <- Seq("orders", "events")) {
      val dir = java.nio.file.Paths.get(out, s"$t.parquet")
      val skew = java.nio.file.Paths.get(out, s"${t}_skew.parquet")
      def rm(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.delete(f))
        }
      rm(dir)
      java.nio.file.Files.move(skew, dir)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/scale10"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Graft.session(Graft.localMaster(32), "graft-scalegen")
    generate(spark, src, out, reps)
    Tables.all.foreach { t =>
      println(s"[scalegen] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}

/** Scale-proof sweep: run EVERY declared query on the base fixture AND the
  * ScaleGen-amplified corpus, and report the wall-time scaling factor per
  * query, gated against a declared bound. Done-bar: no non-exempt query's
  * factor exceeds [[BenchScale.FactorBound]] at 10× data. The two banded
  * pair-generators are bound-exempt because the amplifier deliberately
  * makes every document a reps-way duplicate cluster (candidate growth is
  * corpus-density-driven by design); their adjudication is the mechanical
  * pair census emitted alongside (bucket caps, emitted vs avoided pairs).
  * Output: BENCH_SCALE.json.
  */
object BenchScale {
  /** Declared wall-time scaling bound at 10× data for non-exempt queries. */
  val FactorBound = 12.0

  /** Pair-density-driven generators: their OUTPUT grows with duplicate
    * density, which the amplifier maximizes on purpose. Judged via the
    * pair census, not the wall-time bound.
    */
  val BoundExempt = Set("dedup_minhash_lsh", "dedup_simhash")

  /** A base time below this floor measures fixed overhead (job setup,
    * codegen cache, tiny shuffles), not data-driven work, so the bound is
    * evaluated as scaled / max(base, floor) — otherwise a 0.15 s → 1.9 s
    * movement (pure constant cost at both scales) reads as "12.7×" and the
    * gate becomes a noise detector.
    */
  val BaseTimeFloor = 0.5

  /** Adjudication margin: any entry whose first-pass floored factor lands
    * ABOVE this fraction of the bound — not just above the bound itself —
    * is re-measured median-of-3 per side. A gate that can flip on one
    * noisy run is a gate that gets ignored when it flips. Every near-bound
    * figure in the artifact is an adjudicated median, with the raw runs
    * kept in `requeried_raw` and the survivors listed in `near_bound`.
    */
  val RequeryMargin = 0.9

  /** Re-measures the worst-settling loop may spend beyond the margin pass. */
  val WorstRequeryCap = 5

  /** One query's seconds on the base fixture and on the scaled corpus
    * (−1 = failed).
    */
  final case class Row(name: String, base: Double, scaled: Double) {
    def ok: Boolean = base > 0 && scaled > 0
    def factor: Double = if (ok) scaled / base else -1.0
    def floored: Double = scaled / math.max(base, BaseTimeFloor)
  }

  /** An adjudicated sweep: the rows (each re-measured query at its
    * median-of-3 per side), the raw (base, scaled) runs of every re-measured
    * query, and whether the worst-settling loop settled within its cap.
    */
  final case class Adjudication(rows: Seq[Row],
      requeried: ListMap[String, (Seq[Double], Seq[Double])], settled: Boolean, extra: Int) {
    /** Gated rows whose floored factor exceeds `bound`. */
    def violations(bound: Double): Seq[String] =
      rows.filter(r => gated(r) && r.floored > bound).map(_.name)
    def failures: Seq[String] = rows.filterNot(_.ok).map(_.name)
    def requeriedJson: ListMap[String, Any] = requeried.map { case (n, (b, sc)) =>
      n -> obj("base_runs" -> b.map(fixed(_, 3)), "scaled_runs" -> sc.map(fixed(_, 3)))
    }
  }

  private def gated(r: Row): Boolean = r.ok && !BoundExempt(r.name)

  /** Median-of-3 adjudication of a first pass against `bound`;
    * `rerun(name)` measures one more (base, scaled) pair.
    *
    * A stall landing on one query's scaled run fabricates a factor
    * violation on this host, so every gated entry whose floored factor is
    * above [[RequeryMargin]]·bound is re-measured twice per side and
    * judged by the median: a one-off stall is outvoted, but a flaky real
    * pathology (GC pressure, a spill threshold) that reproduces in either
    * re-run keeps the violation, which best-of would mask. Then, until the
    * worst gated entry is itself adjudicated (adjudicating the worst can
    * demote it and reveal a new unadjudicated worst just below), the worst
    * is re-measured too, at most [[WorstRequeryCap]] times; a loop that
    * stops on the cap reports itself unsettled, so the headline worst is
    * marked as a possibly unconfirmed first-pass figure.
    */
  def adjudicate(first: Seq[Row], bound: Double, rerun: String => (Double, Double)): Adjudication = {
    var requeried = ListMap.empty[String, (Seq[Double], Seq[Double])]
    def requery(r: Row): Row = {
      val (b2, sc2) = rerun(r.name)
      val (b3, sc3) = rerun(r.name)
      requeried += r.name -> ((Seq(r.base, b2, b3), Seq(r.scaled, sc2, sc3)))
      Row(r.name, Measure.median(Seq(r.base, b2, b3)), Measure.median(Seq(r.scaled, sc2, sc3)))
    }
    var rows = first.map(r => if (gated(r) && r.floored > RequeryMargin * bound) requery(r) else r)
    var extra = 0
    var settled = false
    while (!settled && extra < WorstRequeryCap) {
      rows.zipWithIndex.filter(x => gated(x._1)).maxByOption(_._1.floored) match {
        case Some((r, i)) if !requeried.contains(r.name) =>
          rows = rows.updated(i, requery(r)); extra += 1
        case _ => settled = true
      }
    }
    Adjudication(rows, requeried, settled, extra)
  }

  /** A measured sweep and the session it ran in. */
  final case class Sweep(spark: SparkSession, base: String, scaled: String, reps: Int,
      bound: Double, streamRate: Double, adj: Adjudication)

  /** Times `queries` on the SPARK_GRAFT_SF_DIR fixture and on the
    * `reps`-times corpus (args: scaled dir, reps; generated when missing),
    * after warming both and running `stage` on each, then adjudicates the
    * factors against `bound(reps)`.
    */
  def sweep(appName: String, args: Array[String], defaultReps: Int, queries: Seq[QueryDef],
      bound: Int => Double, stage: (SparkSession, String) => Unit): Sweep = {
    val base = Graft.fixtureDir("/root/testdata/sf0.1")
    val scaled = if (args.length > 0) args(0) else s"target/scale$defaultReps"
    val reps = if (args.length > 1) args(1).toInt else defaultReps
    val spark = Measure.session(appName, 32)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(scaled, "lineitem.parquet")))
      ScaleGen.generate(spark, base, scaled, reps)
    for (dir <- Seq(base, scaled)) Measure.prepare(spark, dir, stage)
    val streamRate = Measure.median(Measure.canaryRuns(spark, base))
    // base first (its cold-codegen cost mirrors the per-round sweep), then
    // scaled — the second run reuses the compiled plans, so the factor
    // isolates DATA growth, not compilation
    def pair(d: QueryDef): (Double, Double) =
      (Measure.timeOne(spark, d, base), Measure.timeOne(spark, d, scaled))
    def report(r: Row, tag: String): Unit =
      println(f"[benchscale] ${r.name}%-28s $tag base ${r.base}%6.2f s   x$reps ${r.scaled}%7.2f s   factor ${r.factor}%6.2f")
    val first = queries.map { d =>
      val (b, sc) = pair(d)
      val r = Row(d.name, b, sc)
      report(r, "")
      r
    }
    val byName = queries.map(d => d.name -> d).toMap
    val adj = adjudicate(first, bound(reps), n => pair(byName(n)))
    adj.rows.filter(r => adj.requeried.contains(r.name)).foreach(report(_, "REQUERY(med3)"))
    if (!adj.settled)
      System.err.println(s"[benchscale] WARNING: worst-factor adjudication " +
        s"EXHAUSTED its ${adj.extra}-requery cap without settling — the headline " +
        "worst factor may be an unconfirmed first-pass measurement")
    Sweep(spark, base, scaled, reps, bound(reps), streamRate, adj)
  }

  /** Writes `fields` to the repo-rooted `artifact` and prints its head. */
  def write(artifact: String, fields: (String, Any)*): Unit = {
    val json = Measure.json(obj(fields: _*))
    java.nio.file.Files.write(Graft.repoFile(artifact), json.getBytes("UTF-8"))
    println(json.take(1800))
  }

  def main(args: Array[String]): Unit = {
    val Sweep(spark, base, scaled, reps, _, streamRate, adj) =
      sweep("graft-benchscale", args, 10, SparkEntry.allDefs, _ => FactorBound, Derived.stageAll)
    val rows = adj.rows
    def timeOne(n: String, dir: String): Double =
      Measure.timeOne(spark, SparkEntry.allDefs.find(_.name == n).get, dir)
    // Skewed-key sweep: the per-key-density-sensitive families re-measured
    // on the hot-key corpus (same 10× volume, one customer owning ~10% of
    // orders and ~10% of events) — the factor vs the base fixture goes
    // through the SAME floored bound, so a plan whose per-key work is
    // quadratic (or whose per-probe cost is linear in per-key dim size)
    // fails the gate here even when the uniform corpus hides it.
    val skewDir = s"${scaled}skew"
    // Per-key-density-sensitive families: the as-of probes + event
    // sequences (per-(user, hour) pair residual), the user-keyed batch
    // window ops (sessionize / funnel / Markov — one sort partition per
    // user), and one user-keyed streaming state op (mapGroupsWithState:
    // all of a hot user's events land in one grouped-state call per
    // micro-batch). A hot user owning ~10% of the log is exactly the
    // production shape that breaks any of these whose per-key work is
    // super-linear.
    val SkewQueries = Seq("join_asof_last_order", "join_asof_nearest",
      "join_asof_tolerance", "join_event_sequences",
      "win_sessionize_gaps", "win_funnel_stages", "win_markov_transitions",
      "stream_stateful_user_stats")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(skewDir, "lineitem.parquet")))
      ScaleGen.generateSkewed(spark, base, skewDir, reps)
    // no stream-fixture staging for the skew corpus: the only streaming
    // skew query (stream_stateful_user_stats) reads the events.parquet dir
    // directly via RecordStream.eventsStream — the sentinel-staged copy is
    // only consumed by queries outside SkewQueries
    Measure.prepare(spark, skewDir, (_, _) => ())
    val baseByName = rows.map(r => r.name -> r.base).toMap
    val skewRows = SkewQueries.map { n =>
      val r = Row(n, baseByName.getOrElse(n, -1.0), timeOne(n, skewDir))
      // same median-of-3 adjudication as the main sweep
      if (r.ok && r.floored > RequeryMargin * FactorBound)
        r.copy(scaled = Measure.median(Seq(r.scaled, timeOne(n, skewDir), timeOne(n, skewDir))))
      else r
    }
    val skewViolations = skewRows.filter(r => r.ok && r.floored > FactorBound).map(_.name)

    // Streaming scale leg under RocksDB: the main sweep times every
    // stateful streaming query at 10× data on the default HDFS-backed
    // state store; the provider a 100 TB deployment would run (state
    // larger than heap spills to disk) is exercised here on the five
    // heaviest stateful queries, with wall time (same floored factor vs
    // the main sweep's base) plus the state-store census from the query
    // progress (rows, bytes, and a provider-confirmation flag so a silent
    // fallback to HDFS can't pass).
    val RocksQueries = Seq("stream_quota_enforce", "stream_tws_sessions",
      "stream_stateful_user_stats", "stream_stream_join", "stream_session_windows")
    val progresses =
      new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progresses.synchronized { progresses += e.progress }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocksRows = RocksQueries.map { n =>
      progresses.synchronized(progresses.clear())
      val sec = timeOne(n, scaled)
      Thread.sleep(2000) // listener bus is async; let the tail progress land
      val snap = progresses.synchronized(progresses.toSeq)
      val stateRows = snap.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L)
      val stateBytes = snap.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .maxOption.getOrElse(0L)
      val rocksConfirmed = snap.exists(_.stateOperators.exists(
        _.customMetrics.toString.toLowerCase.contains("rocksdb")))
      (Row(n, baseByName.getOrElse(n, -1.0), sec), stateRows, stateBytes, rocksConfirmed)
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.streams.removeListener(listener)
    val rocksViolations = rocksRows.filter { case (r, _, _, confirmed) =>
      (r.ok && r.floored > FactorBound) || !confirmed
    }.map(_._1.name)

    // candidate-pair census for the bound-exempt generators, both corpora
    // (outside all timing)
    val census = obj(Seq("base" -> base, "scaled" -> scaled).map { case (tag, dir) =>
      tag -> obj(operators.DedupQueries.pairCensus(spark, dir): _*)
    }: _*)
    val worst = rows.filter(_.ok).maxByOption(_.factor)
    val violations = adj.violations(FactorBound)
    // adjudicated near-bound survivors: entries whose MEDIAN factor still
    // sits within the requery margin of the bound — the watch list for the
    // next round, named in the artifact
    val nearBound = rows.filter { r =>
      gated(r) && r.floored > RequeryMargin * FactorBound && r.floored <= FactorBound
    }.map(r => r.name -> obj("floored_factor" -> fixed(r.floored, 2),
      "adjudicated" -> adj.requeried.contains(r.name)))
    def factorRow(r: Row, scaledKey: String) =
      obj("base_sec" -> fixed(r.base, 3), scaledKey -> fixed(r.scaled, 3), "factor" -> fixed(r.factor, 2))
    write("BENCH_SCALE.json",
      "metric" -> "scale_sweep", "base" -> base, "scaled" -> scaled, "data_factor" -> reps,
      "n_queries" -> rows.size, "factor_bound" -> fixed(FactorBound, 1),
      "base_time_floor_sec" -> fixed(BaseTimeFloor, 1),
      "requery_policy" -> f"median-of-3 re-measure per side when floored factor > $RequeryMargin%.1f*factor_bound; survivors listed in near_bound",
      "bound_exempt" -> BoundExempt.toSeq.sorted, "violations" -> violations,
      "within_bound" -> (violations.isEmpty && adj.failures.isEmpty && skewViolations.isEmpty &&
        rocksViolations.isEmpty),
      "failed" -> adj.failures, "near_bound" -> obj(nearBound: _*),
      "requeried_raw" -> adj.requeriedJson,
      "skew_sweep" -> obj(skewRows.map(r => r.name -> factorRow(r, "skew_sec")): _*),
      "skew_violations" -> skewViolations,
      "streaming_rocksdb" -> obj(rocksRows.map { case (r, stateRows, stateBytes, confirmed) =>
        r.name -> obj("base_sec" -> fixed(r.base, 3), "rocksdb_scaled_sec" -> fixed(r.scaled, 3),
          "factor" -> fixed(r.factor, 2), "state_rows" -> stateRows, "state_bytes" -> stateBytes,
          "provider_confirmed" -> confirmed)
      }: _*),
      "streaming_rocksdb_violations" -> rocksViolations,
      "worst_query" -> worst.fold("")(_.name),
      "worst_factor" -> fixed(worst.fold(-1.0)(_.factor), 2),
      "worst_adjudication_settled" -> adj.settled, "worst_adjudication_requeries" -> adj.extra,
      "stream_events_per_sec" -> fixed(streamRate, 0),
      "throttled" -> (streamRate > 0 && streamRate < 0.5 * Measure.CanaryRefEventsPerSec),
      "pair_census" -> census,
      "queries" -> obj(rows.map(r => r.name -> factorRow(r, "scaled_sec")): _*))
    spark.stop()
  }
}

/** 100× spot sweep: the full scale gate stops at 10×, but the "design for
  * 100 TB" claims rest on the five most scale-sensitive families — the
  * persisted band-index probe, incremental cluster maintenance, the
  * sorted-neighborhood fuzzy join, substring-span dedup, and the BM25/PRF
  * retrieval stack. This leg re-measures exactly those queries at
  * data_factor 100 (one leg, not the full sweep) with the same sweep and
  * adjudication as [[BenchScale]], and writes BENCH_SCALE100.json with
  * per-query factors and an adjudicated worst.
  *
  * Interpretation contract: the amplifier replicates every document
  * verbatim, so at 100× each document is a 100-way duplicate cluster —
  * maximal duplicate density by design. A LINEAR operator therefore
  * measures factor ≈ reps (floored by [[BenchScale.BaseTimeFloor]] against
  * constant overhead); the bound is 1.2·reps.
  */
object BenchScale100 {
  val SpotQueries: Seq[String] = Seq(
    "dedup_index_maintenance", "dedup_index_census", "dedup_clusters_incremental",
    "join_fuzzy_blocked", "dedup_substring_spans",
    "sim_bm25_topk", "sim_prf_expansion",
    // the duplicate-density-sensitive banded paragraph shape, and the
    // maintained ANN index probe + census
    "dedup_paragraph_neardup", "sim_index_maintenance", "sim_index_census")

  def main(args: Array[String]): Unit = {
    // the spot families read the band index, the corpus cluster labels and
    // the IVF index: maintained-by-ingest tables in the production story,
    // so they are staged outside query timing
    def stage(spark: SparkSession, dir: String): Unit = {
      operators.DedupQueries.bandIndex(spark, dir)._1.count()
      operators.DedupQueries.corpusClusterLabels(spark, dir).count()
      operators.SimilarityQueries.ivfIndex(spark, dir)._1.count()
    }
    val sw = BenchScale.sweep("graft-benchscale100", args, 100,
      SparkEntry.allDefs.filter(d => SpotQueries.contains(d.name)), 1.2 * _, stage)
    val (reps, adj) = (sw.reps, sw.adj)
    val worst = adj.rows.filter(_.ok).maxByOption(_.floored)
    val violations = adj.violations(sw.bound)
    BenchScale.write("BENCH_SCALE100.json",
      "metric" -> "scale100_spot_sweep", "base" -> sw.base, "scaled" -> sw.scaled,
      "data_factor" -> reps, "n_queries" -> adj.rows.size,
      "factor_bound" -> fixed(sw.bound, 1),
      "base_time_floor_sec" -> fixed(BenchScale.BaseTimeFloor, 1),
      "duplicate_density_note" -> s"the amplifier makes every document a $reps-way duplicate cluster; factors near $reps are LINEAR",
      "violations" -> violations, "within_bound" -> (violations.isEmpty && adj.failures.isEmpty),
      "failed" -> adj.failures, "requeried_raw" -> adj.requeriedJson,
      "worst_query" -> worst.fold("")(_.name),
      "worst_floored_factor" -> fixed(worst.fold(-1.0)(_.floored), 2),
      "stream_events_per_sec" -> fixed(sw.streamRate, 0),
      "queries" -> obj(adj.rows.map(r => r.name -> obj("base_sec" -> fixed(r.base, 3),
        "scaled_sec" -> fixed(r.scaled, 3), "factor" -> fixed(r.factor, 2),
        "floored_factor" -> fixed(r.floored, 2), "sublinearity" -> fixed(r.floored / reps, 3))): _*))
    sw.spark.stop()
  }
}
