package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

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
  * Pure column arithmetic — rerunning produces identical rows and schemas
  * (not identical files: a parquet footer's per-column encoding list can
  * come out in another order).
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
    // are read as raw longs (the session's legacy conf) and re-written as
    // int64, µs vintages as TIMESTAMP_NTZ — either way Tables.events
    // normalizes the copy exactly like the source
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
      val dir = Paths.get(out, s"$t.parquet")
      Scratch.deleteRecursively(dir)
      Files.move(Paths.get(out, s"${t}_skew.parquet"), dir)
    }
  }
}

/** The scale sweep's judgement. `Bench --scale N` times each selected
  * query on the base fixture and, back to back, on the N× [[ScaleGen]]
  * corpus; this object derives everything that run depends on (the
  * corpus paths, the bound, which extra legs run) and adjudicates every
  * factor it reports: the uniform corpus, the hot-key corpus and the
  * RocksDB state store alike.
  *
  * Interpretation contract: the amplifier replicates every document
  * verbatim, so at N× each document is an N-way duplicate cluster. A
  * LINEAR operator therefore measures factor ≈ N (floored by
  * [[BaseTimeFloor]] against constant overhead); the bound is 1.2·N. The
  * two banded pair-generators are bound-exempt, since their candidate
  * growth is corpus-density-driven by design; their adjudication is the
  * mechanical pair census emitted alongside (bucket caps, emitted vs
  * avoided pairs).
  */
object Scale {
  /** The wall-time scaling bound for non-exempt queries at `n`× data. */
  def bound(n: Int): Double = 1.2 * n

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

  /** Per-key-density-sensitive families, re-measured on the hot-key corpus
    * ([[ScaleGen.generateSkewed]]: same volume, one customer owning ~10% of
    * orders and ~10% of events): the as-of probes and event sequences
    * (per-(user, hour) pair residual), the user-keyed batch window ops
    * (sessionize / funnel / Markov — one sort partition per user), and one
    * user-keyed streaming state op (mapGroupsWithState: all of a hot
    * user's events land in one grouped-state call per micro-batch). A plan
    * whose per-key work is super-linear fails the bound here even when the
    * uniform corpus hides it.
    */
  val SkewQueries = Seq("join_asof_last_order", "join_asof_nearest",
    "join_asof_tolerance", "join_event_sequences",
    "win_sessionize_gaps", "win_funnel_stages", "win_markov_transitions",
    "stream_stateful_user_stats")

  /** The five heaviest stateful streaming queries, re-measured on the N×
    * corpus under the RocksDB provider a 100 TB deployment would run
    * (state larger than heap spills to disk), with the state-store census
    * from their progress and a provider confirmation, so a silent fallback
    * to the HDFS-backed store cannot pass.
    */
  val RocksQueries = Seq("stream_quota_enforce", "stream_tws_sessions",
    "stream_stateful_user_stats", "stream_stream_join", "stream_session_windows")

  /** The queries of each extra leg a selection runs: the hot-key leg, the
    * RocksDB leg, and whether the pair census runs (a bound-exempt query
    * is selected).
    */
  final case class Legs(skew: Seq[String], rocks: Seq[String], census: Boolean)

  def legs(selected: Seq[String]): Legs =
    Legs(SkewQueries.filter(selected.contains), RocksQueries.filter(selected.contains),
      selected.exists(BoundExempt))

  /** Where the `n`× corpus of the fixture `base` lives (the hot-key
    * variant with `skew`): one directory per fixture and factor, so a run
    * on one fixture never times the corpus of another.
    */
  def corpusDir(base: String, n: Int, skew: Boolean = false): String =
    s"target/scale/${Paths.get(base).getFileName}x$n${if (skew) "skew" else ""}"

  /** [[corpusDir]], generated unless it holds every fixture table. A
    * corpus is written to a sibling directory and renamed into place, so
    * a generate cut short (a skewed one even after its uniform tables) is
    * never reused.
    */
  def corpus(spark: SparkSession, base: String, n: Int, skew: Boolean = false): String = {
    val dir = corpusDir(base, n, skew)
    if (!Tables.all.forall(t => Files.exists(Paths.get(dir, s"$t.parquet")))) {
      val partial = s"$dir.partial"
      Seq(partial, dir).foreach(d => Scratch.deleteRecursively(Paths.get(d)))
      if (skew) ScaleGen.generateSkewed(spark, base, partial, n)
      else ScaleGen.generate(spark, base, partial, n)
      Files.move(Paths.get(partial), Paths.get(dir))
    }
    dir
  }

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

  /** What `body` returns, and the progress of every streaming query it
    * started, or None when one of them has not reported its termination
    * within 20 s (the graceful-stop budget) after `body` returns. A
    * query's start event reaches the listener before `start()` returns,
    * and the listener bus delivers its later events in order, so its
    * termination event follows its last progress event.
    */
  def progressOf[T](spark: SparkSession)(body: => T): (T, Option[Seq[StreamingQueryProgress]]) = {
    val started, ended = mutable.Set[java.util.UUID]()
    val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = this.synchronized(started += e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        this.synchronized(progress += e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        this.synchronized { ended += e.runId; this.notifyAll() }
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      listener.synchronized {
        while (!started.subsetOf(ended) && System.nanoTime() < deadline)
          listener.wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
        (out, Option.when(started.subsetOf(ended))(progress.toSeq))
      }
    } finally spark.streams.removeListener(listener)
  }

  /** `body` run with the RocksDB state store provider. */
  private def onRocksDB[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
  }

  /** The artifact fields of a scale sweep: `first` holds each selected
    * query's (base, scaled) seconds on `base` and its `n`× corpus `scaled`,
    * and `time(query, dir)` measures one more run. Adjudicates the uniform
    * rows, then runs the hot-key leg, the RocksDB leg and the pair census
    * that the selection calls for ([[legs]]), each leg's factors going
    * through the same [[adjudicate]] against the same [[bound]].
    */
  def judge(spark: SparkSession, base: String, scaled: String, n: Int, first: Seq[Row],
      time: (String, String) => Double): ListMap[String, Any] = {
    val limit = bound(n)
    val adj = adjudicate(first, limit, q => (time(q, base), time(q, scaled)))
    if (!adj.settled)
      System.err.println(s"[bench] WARNING: worst-factor adjudication " +
        s"EXHAUSTED its ${adj.extra}-requery cap without settling — the headline " +
        "worst factor may be an unconfirmed first-pass measurement")
    val Legs(skewQueries, rocksQueries, census) = legs(first.map(_.name))
    val baseOf = adj.rows.map(r => r.name -> r.base).toMap

    // the hot-key corpus is generated and warmed only when a skew query
    // runs; warm only, since no skew query reads a staged corpus-snapshot
    // entry (stream_stateful_user_stats reads the events.parquet dir
    // directly via RecordStream.eventsStream)
    lazy val skewDir = {
      val dir = corpus(spark, base, n, skew = true)
      Measure.prepare(spark, dir, (_, _) => ())
      dir
    }
    val skewAdj = adjudicate(skewQueries.map(q => Row(q, baseOf(q), time(q, skewDir))), limit,
      q => (time(q, base), time(q, skewDir)))

    // the state census comes from each query's first RocksDB run; a run
    // whose progress did not arrive in time is unconfirmed
    val rocksRuns = rocksQueries.map(q => q -> onRocksDB(spark)(progressOf(spark)(time(q, scaled))))
    val rocksAdj = adjudicate(rocksRuns.map { case (q, (sec, _)) => Row(q, baseOf(q), sec) }, limit,
      q => (time(q, base), onRocksDB(spark)(time(q, scaled))))
    def confirmed(progress: Option[Seq[StreamingQueryProgress]]): Boolean =
      progress.exists(_.exists(_.stateOperators.exists(
        _.customMetrics.toString.toLowerCase.contains("rocksdb"))))
    val unconfirmed = rocksRuns.collect { case (q, (_, p)) if !confirmed(p) => q }

    val rows = adj.rows
    val worst = rows.filter(gated).maxByOption(_.floored)
    val adjs = Seq(adj, skewAdj, rocksAdj)
    // adjudicated near-bound survivors: entries whose MEDIAN factor still
    // sits within the requery margin of the bound — the watch list for the
    // next round, named in the artifact
    val nearBound = rows.filter { r =>
      gated(r) && r.floored > RequeryMargin * limit && r.floored <= limit
    }.map(r => r.name -> obj("floored_factor" -> fixed(r.floored, 2),
      "adjudicated" -> adj.requeried.contains(r.name)))
    def row(r: Row) = obj("base_sec" -> fixed(r.base, 3), "scaled_sec" -> fixed(r.scaled, 3),
      "factor" -> fixed(r.factor, 2), "floored_factor" -> fixed(r.floored, 2))
    obj("metric" -> "scale_sweep", "base" -> base, "scaled" -> scaled, "data_factor" -> n,
      "n_queries" -> rows.size, "factor_bound" -> fixed(limit, 1),
      "base_time_floor_sec" -> fixed(BaseTimeFloor, 1),
      "duplicate_density_note" -> s"the amplifier makes every document a $n-way duplicate cluster; factors near $n are LINEAR",
      "requery_policy" -> f"median-of-3 re-measure per side when floored factor > $RequeryMargin%.1f*factor_bound; survivors listed in near_bound",
      "bound_exempt" -> BoundExempt.toSeq.sorted, "violations" -> adj.violations(limit),
      "within_bound" -> (adjs.forall(a => a.violations(limit).isEmpty && a.failures.isEmpty) &&
        unconfirmed.isEmpty),
      "failed" -> adj.failures, "near_bound" -> obj(nearBound: _*),
      "requeried_raw" -> adj.requeriedJson,
      "skew_sweep" -> obj(skewAdj.rows.map(r => r.name -> row(r)): _*),
      "skew_violations" -> skewAdj.violations(limit),
      "skew_requeried_raw" -> skewAdj.requeriedJson,
      "streaming_rocksdb" -> obj(rocksAdj.rows.zip(rocksRuns).map { case (r, (_, (_, p))) =>
        val states = p.getOrElse(Nil).map(_.stateOperators)
        r.name -> (row(r) ++ obj(
          "state_rows" -> states.map(_.map(_.numRowsTotal).sum).maxOption.getOrElse(0L),
          "state_bytes" -> states.map(_.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L),
          "provider_confirmed" -> confirmed(p)))
      }: _*),
      "streaming_rocksdb_violations" -> (rocksAdj.violations(limit) ++ unconfirmed).distinct,
      "streaming_rocksdb_requeried_raw" -> rocksAdj.requeriedJson,
      "worst_query" -> worst.fold("")(_.name),
      "worst_factor" -> fixed(worst.fold(-1.0)(_.factor), 2),
      "worst_floored_factor" -> fixed(worst.fold(-1.0)(_.floored), 2),
      "worst_adjudication_settled" -> adj.settled, "worst_adjudication_requeries" -> adj.extra,
      // candidate-pair census for the bound-exempt generators, both
      // corpora (outside all timing)
      "pair_census" -> (if (!census) obj() else obj(Seq("base" -> base, "scaled" -> scaled).map {
        case (tag, dir) => tag -> obj(operators.DedupQueries.pairCensus(spark, dir): _*)
      }: _*)),
      "queries" -> obj(rows.map(r => r.name -> row(r)): _*))
  }
}
