package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    val spark = Graft.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      "graft-scalegen")
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
    * noisy run is a gate that gets ignored when it flips: r10 recorded
    * `dt_timezone_funcs` at exactly factor 12.00 of bound 12.0 (a pass by
    * zero margin) with no requery record to say whether that was the plan
    * or the window. Every near-bound figure in the artifact is now an
    * adjudicated median, with the raw runs kept in `requeried_raw` and the
    * survivors listed in `near_bound`.
    */
  val RequeryMargin = 0.9

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaled = if (args.length > 0) args(0) else "target/scale10"
    val reps = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", "graft-benchscale")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(scaled, "lineitem.parquet")))
      ScaleGen.generate(spark, base, scaled, reps)

    // warm both corpora + pre-stage streaming fixtures outside any timing
    for (dir <- Seq(base, scaled)) {
      Tables.all.foreach(t => Tables.load(spark, dir, t).count())
      Derived.stageAll(spark, dir)
    }
    // host-noise canary (same contract as Bench)
    val nEvents = Tables.events(spark, base).count()
    def canaryOnce(): Double =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries("stream_payload_pipeline")(spark, base)
          .write.mode("overwrite").format("noop").save()
        nEvents / ((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => -1.0 }
    // median of three, matching Bench: grade the window by its typical
    // rate, not its luckiest instant
    val streamRate = {
      val ok = Seq(canaryOnce(), canaryOnce(), canaryOnce()).filter(_ > 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }
    val throttled = streamRate > 0 && streamRate < 0.5 * 95000.0

    val defs = SparkEntry.allDefs
    def timeOne(d: QueryDef, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        d.run(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[benchscale] ${d.name} @ $dir failed: ${e.getMessage}")
          -1.0
      } finally {
        try {
          spark.catalog.clearCache()
          spark.catalog.listTables().collect()
            .filter(_.isTemporary)
            .foreach(t => spark.catalog.dropTempView(t.name))
        } catch { case _: Throwable => () }
      }
    }
    // base first (its cold-codegen cost mirrors the per-round sweep), then
    // scaled — the second run reuses the compiled plans, so the factor
    // isolates DATA growth, not compilation
    val firstPass = defs.map { d =>
      val b = timeOne(d, base)
      val sc = timeOne(d, scaled)
      val factor = if (b > 0 && sc > 0) sc / b else -1.0
      println(f"[benchscale] ${d.name}%-28s base ${b}%6.2f s   x$reps ${sc}%6.2f s   factor ${factor}%5.2f")
      (d.name, b, sc, factor)
    }
    // Bound-violation requery: this host has multi-minute throttle windows,
    // and a stall landing on one query's scaled run fabricates a factor
    // violation. Adjudication is MEDIAN-OF-3 per side (the first-pass
    // figure plus two re-runs), not best-of: a one-off stall is outvoted
    // by the two clean measurements, but a *flaky real* pathology (GC
    // pressure, spill threshold) that reproduces in either re-run keeps
    // the violation — min-of-two would mask it. All raw measurements stay
    // in the artifact (`requeried_raw`) so adjudicated and as-measured
    // are both visible.
    def floored(b: Double, sc: Double): Double = sc / math.max(b, BaseTimeFloor)
    val requeried = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def med3(first: Double, x: Double, y: Double): Double = {
      val v = Seq(first, x, y).filter(_ > 0).sorted
      if (v.isEmpty) -1.0 else v(v.size / 2)
    }
    def requeryOne(r: (String, Double, Double, Double)): (String, Double, Double, Double) = {
      val (n, b, sc, _) = r
      val d = defs.find(_.name == n).get
      val b2 = timeOne(d, base)
      val sc2 = timeOne(d, scaled)
      val b3 = timeOne(d, base)
      val sc3 = timeOne(d, scaled)
      requeried(n) = Seq(b, sc, b2, sc2, b3, sc3)
      val bMed = med3(b, b2, b3)
      val scMed = med3(sc, sc2, sc3)
      println(f"[benchscale] ${d.name}%-28s REQUERY(med3) base ${bMed}%6.2f s   x$reps ${scMed}%6.2f s   factor ${scMed / bMed}%5.2f")
      (n, bMed, scMed, scMed / bMed)
    }
    val marginPass = firstPass.map { case r @ (n, b, sc, _) =>
      if (b > 0 && sc > 0 && !BoundExempt(n)
          && floored(b, sc) > RequeryMargin * FactorBound) requeryOne(r)
      else r
    }
    // The sweep's WORST surviving factor is its least-confirmed number when
    // it lands just below the requery margin: r13 froze win_median_trailing
    // at 9.71 first-pass (margin 10.8) where r11 froze the identical plan
    // at 4.27 — a 2.3× disagreement between two freezes is a measurement
    // problem, and the artifact's headline figure shouldn't rest on one
    // run. Adjudicate median-of-3 until the GLOBAL floored-worst non-exempt
    // entry is itself an adjudicated one — a single worst-pick is not
    // enough, because adjudicating the worst can demote it and reveal a
    // new unadjudicated worst just below it (the r14 first freeze hit
    // exactly that: frame_sample 9.74 → med3 8.84 left fuzzy_blocked 9.34
    // on top, unconfirmed). Capped at 5 extra adjudications per sweep.
    var adjudicationExtra = 0
    var adjudicationSettled = false
    val rows = {
      var cur = marginPass
      var extra = 0
      var settled = false
      while (!settled && extra < 5) {
        val worst = cur.zipWithIndex.collect {
          case ((n, b, sc, _), i) if b > 0 && sc > 0 && !BoundExempt(n) =>
            (floored(b, sc), i, n)
        }.sortBy(-_._1).headOption
        worst match {
          case Some((_, i, n)) if !requeried.contains(n) =>
            cur = cur.updated(i, requeryOne(cur(i))); extra += 1
          case _ => settled = true
        }
      }
      // Cap-exhaustion visibility (ADVICE r14 #4): a loop that exits on the
      // 5-requery cap leaves the headline worst factor an unconfirmed
      // first-pass figure — record settled-vs-exhausted (and the count) so
      // the artifact distinguishes the two instead of reading identically.
      adjudicationExtra = extra
      adjudicationSettled = settled
      if (!settled)
        System.err.println(s"[benchscale] WARNING: worst-factor adjudication " +
          s"EXHAUSTED its $extra-requery cap without settling — the headline " +
          "worst factor may be an unconfirmed first-pass measurement")
      cur
    }
    // Skewed-key sweep: the per-key-density-sensitive families re-measured
    // on the hot-key corpus (same 10× volume, one customer owning ~10% of
    // orders and ~10% of events) — the factor vs the base fixture goes
    // through the SAME floored bound, so a plan whose per-key work is
    // quadratic (or whose per-probe cost is linear in per-key dim size)
    // fails the gate here even when the uniform corpus hides it.
    val skewDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "target/scale10skew")
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
    Tables.all.foreach(t => Tables.load(spark, skewDir, t).count())
    // no stream-fixture staging needed for the skew corpus: the only
    // streaming skew query (stream_stateful_user_stats) reads the
    // events.parquet dir directly via RecordStream.eventsStream — the
    // sentinel-staged copy is only consumed by queries outside SkewQueries
    val baseByName = rows.map(r => r._1 -> r._2).toMap
    val skewRows = SkewQueries.flatMap { n =>
      defs.find(_.name == n).map { d =>
        val sk1 = timeOne(d, skewDir)
        val b = baseByName.getOrElse(n, -1.0)
        if (b > 0 && sk1 > 0 && floored(b, sk1) > RequeryMargin * FactorBound) {
          // same median-of-3 adjudication as the main sweep
          val sk2 = timeOne(d, skewDir)
          val sk3 = timeOne(d, skewDir)
          val skMed = med3(sk1, sk2, sk3)
          (n, b, skMed, if (b > 0 && skMed > 0) skMed / b else -1.0)
        } else (n, b, sk1, if (b > 0 && sk1 > 0) sk1 / b else -1.0)
      }
    }
    val skewViolations = skewRows.filter { case (n, b, sk, _) =>
      b > 0 && sk > 0 && floored(b, sk) > FactorBound
    }.map(_._1)

    // Streaming scale leg under RocksDB (VERDICT r11 #5): the main sweep
    // times every stateful streaming query at 10× data, but on the default
    // HDFS-backed state store — the provider the 100 TB deployment would
    // actually run (state larger than heap spills to disk) was only ever
    // exercised at unit-test scale. Re-run the five heaviest stateful
    // queries on the scaled corpus under RocksDBStateStoreProvider and
    // record wall time (same floored factor vs the main sweep's base) plus
    // the state-store census from the query progress (rows, bytes, and a
    // provider-confirmation flag so a silent fallback to HDFS can't pass).
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
    val rocksRows = RocksQueries.flatMap { n =>
      defs.find(_.name == n).map { d =>
        progresses.synchronized(progresses.clear())
        val sec = timeOne(d, scaled)
        Thread.sleep(2000) // listener bus is async; let the tail progress land
        val snap = progresses.synchronized(progresses.toSeq)
        val stateRows = snap.map(_.stateOperators.map(_.numRowsTotal).sum)
          .maxOption.getOrElse(0L)
        val stateBytes = snap.map(_.stateOperators.map(_.memoryUsedBytes).sum)
          .maxOption.getOrElse(0L)
        val rocksConfirmed = snap.exists(_.stateOperators.exists(
          _.customMetrics.toString.toLowerCase.contains("rocksdb")))
        val b = baseByName.getOrElse(n, -1.0)
        (n, b, sec, if (b > 0 && sec > 0) sec / b else -1.0, stateRows, stateBytes,
          rocksConfirmed)
      }
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.streams.removeListener(listener)
    val rocksViolations = rocksRows.filter { case (n, b, sec, _, _, _, ok) =>
      (b > 0 && sec > 0 && floored(b, sec) > FactorBound) || !ok
    }.map(_._1)

    // candidate-pair census for the bound-exempt generators, both corpora
    // (outside all timing)
    val census = Seq("base" -> base, "scaled" -> scaled).map { case (tag, dir) =>
      val entries = operators.DedupQueries.pairCensus(spark, dir)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s""""$tag":$entries"""
    }.mkString("{", ",", "}")
    val ok = rows.filter(_._4 > 0)
    val worst = if (ok.isEmpty) ("", -1.0) else { val w = ok.maxBy(_._4); (w._1, w._4) }
    // the gate: floored factor vs the declared bound, exempt set excluded
    val violations = rows.filter { case (n, b, sc, _) =>
      b > 0 && sc > 0 && !BoundExempt(n) && floored(b, sc) > FactorBound
    }.map(_._1)
    val failures = rows.filter(_._4 <= 0).map(_._1)
    val json = {
      val qs = rows.map { case (n, b, sc, f) =>
        f""""$n":{"base_sec":$b%.3f,"scaled_sec":$sc%.3f,"factor":$f%.2f}"""
      }.mkString("{", ",", "}")
      val viol = violations.map("\"" + _ + "\"").mkString("[", ",", "]")
      val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
      val exempt = BoundExempt.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val req = requeried.map { case (n, ms) =>
        val Seq(b1, sc1, b2, sc2, b3, sc3) = ms
        f""""$n":{"base_runs":[$b1%.3f,$b2%.3f,$b3%.3f],"scaled_runs":[$sc1%.3f,$sc2%.3f,$sc3%.3f]}"""
      }.mkString("{", ",", "}")
      val skew = skewRows.map { case (n, b, sk, f) =>
        f""""$n":{"base_sec":$b%.3f,"skew_sec":$sk%.3f,"factor":$f%.2f}"""
      }.mkString("{", ",", "}")
      val skewViol = skewViolations.map("\"" + _ + "\"").mkString("[", ",", "]")
      val rocks = rocksRows.map { case (n, b, sec, f, rws, bytes, ok) =>
        f""""$n":{"base_sec":$b%.3f,"rocksdb_scaled_sec":$sec%.3f,"factor":$f%.2f,"state_rows":$rws,"state_bytes":$bytes,"provider_confirmed":$ok}"""
      }.mkString("{", ",", "}")
      val rocksViol = rocksViolations.map("\"" + _ + "\"").mkString("[", ",", "]")
      // adjudicated near-bound survivors: entries whose MEDIAN factor
      // still sits within the requery margin of the bound after the
      // med3 pass — the watch list for the next round, named in the
      // artifact instead of discovered by re-reading 385 figures
      val nearBound = rows.filter { case (n, b, sc, _) =>
        b > 0 && sc > 0 && !BoundExempt(n) && {
          val f = floored(b, sc)
          f > RequeryMargin * FactorBound && f <= FactorBound
        }
      }.map { case (n, b, sc, _) =>
        f""""$n":{"floored_factor":${floored(b, sc)}%.2f,"adjudicated":${requeried.contains(n)}}"""
      }.mkString("{", ",", "}")
      val policy = f"median-of-3 re-measure per side when floored factor > $RequeryMargin%.1f*factor_bound; survivors listed in near_bound"
      f"""{"metric":"scale_sweep","base":"$base","scaled":"$scaled","data_factor":$reps,"n_queries":${rows.size},"factor_bound":$FactorBound%.1f,"base_time_floor_sec":$BaseTimeFloor%.1f,"requery_policy":"$policy","bound_exempt":$exempt,"violations":$viol,"within_bound":${violations.isEmpty && failures.isEmpty && skewViolations.isEmpty && rocksViolations.isEmpty},"failed":$fails,"near_bound":$nearBound,"requeried_raw":$req,"skew_sweep":$skew,"skew_violations":$skewViol,"streaming_rocksdb":$rocks,"streaming_rocksdb_violations":$rocksViol,"worst_query":"${worst._1}","worst_factor":${worst._2}%.2f,"worst_adjudication_settled":$adjudicationSettled,"worst_adjudication_requeries":$adjudicationExtra,"stream_events_per_sec":$streamRate%.0f,"throttled":$throttled,"pair_census":$census,"queries":$qs}"""
    }
    java.nio.file.Files.write(Graft.repoFile("BENCH_SCALE.json"),
      json.getBytes("UTF-8"))
    println(json.take(1800))
    spark.stop()
  }
}

/** 100× spot sweep (VERDICT r15 "what's missing" #4): the full scale gate
  * stops at 10×, but the "design for 100 TB" claims rest on the five most
  * scale-sensitive families — the persisted band-index probe, incremental
  * cluster maintenance, the sorted-neighborhood fuzzy join, substring-span
  * dedup, and the BM25/PRF retrieval stack. This leg re-measures exactly
  * those queries at data_factor 100 (one leg, not the 431-query sweep) and
  * writes BENCH_SCALE100.json with per-query factors and an adjudicated
  * worst.
  *
  * Interpretation contract: the amplifier replicates every document
  * verbatim, so at 100× each document is a 100-way duplicate cluster —
  * maximal duplicate density by design. A LINEAR operator therefore
  * measures factor ≈ reps (floored by [[BenchScale.BaseTimeFloor]] against
  * constant overhead); the bound is 1.2·reps, and anything above it gets a
  * median-of-3 adjudication plus a named cause in the artifact rather than
  * a silent number.
  */
object BenchScale100 {
  val SpotQueries: Seq[String] = Seq(
    "dedup_index_maintenance", "dedup_index_census", "dedup_clusters_incremental",
    "join_fuzzy_blocked", "dedup_substring_spans",
    "sim_bm25_topk", "sim_prf_expansion",
    // r17 additions (VERDICT r16 "what's missing" #2 and #4): the
    // duplicate-density-sensitive banded paragraph shape, and the new
    // maintained ANN index probe + census
    "dedup_paragraph_neardup", "sim_index_maintenance", "sim_index_census")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaled = if (args.length > 0) args(0) else "target/scale100"
    val reps = if (args.length > 1) args(1).toInt else 100
    val factorBound = 1.2 * reps
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", "graft-benchscale100")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(scaled, "lineitem.parquet")))
      ScaleGen.generate(spark, base, scaled, reps)

    // warm both corpora and pre-stage the memoized per-fixture tables the
    // spot families consume (the band index and corpus cluster labels are
    // maintained-by-ingest tables in the production story — built outside
    // query timing, exactly like the 10× sweep stages them)
    for (dir <- Seq(base, scaled)) {
      Tables.all.foreach(t => Tables.load(spark, dir, t).count())
      operators.DedupQueries.bandIndex(spark, dir)._1.count()
      operators.DedupQueries.corpusClusterLabels(spark, dir).count()
      operators.SimilarityQueries.ivfIndex(spark, dir)._1.count()
    }
    val nEvents = Tables.events(spark, base).count()
    def canaryOnce(): Double =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries("stream_payload_pipeline")(spark, base)
          .write.mode("overwrite").format("noop").save()
        nEvents / ((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => -1.0 }
    val streamRate = {
      val ok = Seq(canaryOnce(), canaryOnce(), canaryOnce()).filter(_ > 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }

    val defs = SparkEntry.allDefs.filter(d => SpotQueries.contains(d.name))
    def timeOne(d: QueryDef, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        d.run(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[benchscale100] ${d.name} @ $dir failed: ${e.getMessage}")
          -1.0
      } finally {
        try {
          spark.catalog.clearCache()
          spark.catalog.listTables().collect()
            .filter(_.isTemporary)
            .foreach(t => spark.catalog.dropTempView(t.name))
        } catch { case _: Throwable => () }
      }
    }
    def floored(b: Double, sc: Double): Double =
      sc / math.max(b, BenchScale.BaseTimeFloor)
    def med3(a: Double, x: Double, y: Double): Double = {
      val v = Seq(a, x, y).filter(_ > 0).sorted
      if (v.isEmpty) -1.0 else v(v.size / 2)
    }
    val requeried = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def requeryOne(n: String, b: Double, sc: Double): (String, Double, Double, Double) = {
      val d = defs.find(_.name == n).get
      val (b2, sc2) = (timeOne(d, base), timeOne(d, scaled))
      val (b3, sc3) = (timeOne(d, base), timeOne(d, scaled))
      requeried(n) = Seq(b, sc, b2, sc2, b3, sc3)
      val (bm, scm) = (med3(b, b2, b3), med3(sc, sc2, sc3))
      println(f"[benchscale100] $n%-28s REQUERY(med3) base $bm%6.2f s  x$reps $scm%7.2f s  factor ${scm / bm}%6.2f")
      (n, bm, scm, scm / bm)
    }
    val firstPass = defs.map { d =>
      val b = timeOne(d, base)
      val sc = timeOne(d, scaled)
      val f = if (b > 0 && sc > 0) sc / b else -1.0
      println(f"[benchscale100] ${d.name}%-28s base $b%6.2f s  x$reps $sc%7.2f s  factor $f%6.2f")
      (d.name, b, sc, f)
    }
    // adjudicate every over-bound entry AND the global worst, median-of-3
    var rows = firstPass.map { case r @ (n, b, sc, _) =>
      if (b > 0 && sc > 0 && floored(b, sc) > factorBound) requeryOne(n, b, sc) else r
    }
    rows.filter(r => r._2 > 0 && r._3 > 0)
      .sortBy(r => -floored(r._2, r._3)).headOption.foreach { case (n, b, sc, _) =>
        if (!requeried.contains(n)) {
          val i = rows.indexWhere(_._1 == n)
          rows = rows.updated(i, requeryOne(n, b, sc))
        }
      }
    val ok = rows.filter(r => r._2 > 0 && r._3 > 0)
    val worst = if (ok.isEmpty) ("", -1.0)
      else { val w = ok.maxBy(r => floored(r._2, r._3)); (w._1, floored(w._2, w._3)) }
    val violations = rows.filter { case (_, b, sc, _) =>
      b > 0 && sc > 0 && floored(b, sc) > factorBound
    }.map(_._1)
    val failures = rows.filter(_._4 <= 0).map(_._1)
    val qs = rows.map { case (n, b, sc, f) =>
      f""""$n":{"base_sec":$b%.3f,"scaled_sec":$sc%.3f,"factor":$f%.2f,"floored_factor":${floored(b, sc)}%.2f,"sublinearity":${floored(b, sc) / reps}%.3f}"""
    }.mkString("{", ",", "}")
    val req = requeried.map { case (n, ms) =>
      val Seq(b1, sc1, b2, sc2, b3, sc3) = ms
      f""""$n":{"base_runs":[$b1%.3f,$b2%.3f,$b3%.3f],"scaled_runs":[$sc1%.3f,$sc2%.3f,$sc3%.3f]}"""
    }.mkString("{", ",", "}")
    val viol = violations.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      f"""{"metric":"scale100_spot_sweep","base":"$base","scaled":"$scaled","data_factor":$reps,"n_queries":${rows.size},"factor_bound":$factorBound%.1f,"base_time_floor_sec":${BenchScale.BaseTimeFloor}%.1f,"duplicate_density_note":"the amplifier makes every document a $reps-way duplicate cluster; factors near $reps are LINEAR","violations":$viol,"within_bound":${violations.isEmpty && failures.isEmpty},"failed":$fails,"requeried_raw":$req,"worst_query":"${worst._1}","worst_floored_factor":${worst._2}%.2f,"stream_events_per_sec":$streamRate%.0f,"queries":$qs}"""
    // repo-rooted like BENCH_SCALE.json (ADVICE r16 #2): a run launched
    // from a subdirectory must not strand the committed artifact in cwd
    java.nio.file.Files.write(Graft.repoFile("BENCH_SCALE100.json"),
      json.getBytes("UTF-8"))
    println(json.take(1800))
    spark.stop()
  }
}
