package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import Measure.{fixed, obj}

/** Per-round benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR at local[32] (SPARK_GRAFT_CPUS overrides), each timed
  * by [[Measure.timeOne]], and prints one JSON line with per-query seconds.
  * Tables are warmed and the derived corpus tables staged first
  * ([[Measure.prepare]]), so query timings measure compute, not first-touch
  * I/O or one-time builds.
  */
object Bench {
  /** Committed reference figures: the frozen clean-window BENCH_FULL of the
    * previous round (refreshed at each round's freeze), its append-only
    * first-seen origin, and the adjudicated-regression expectations.
    */
  val RefFile = "bench_ref.json"
  val OriginFile = "bench_ref_origin.json"
  val ExpectedFile = "bench_expected.json"

  def main(args: Array[String]): Unit = {
    val sfDir = Graft.fixtureDir("/root/testdata/sf0.1")
    val spark = Measure.session("graft-bench", 32)
    // Staging is not silently absorbed: it is reported as `staging_sec`, so
    // cross-round comparisons of the consumer queries see where the build
    // went.
    val stagingSec = Measure.prepare(spark, sfDir, Derived.stageAll)

    // Streaming throughput vs the reference's 2 rec/s producer ceiling
    // (BASELINE.md), measured FIRST (before the sweep perturbs the JVM)
    // because it doubles as the host-noise canary: this VM has
    // multi-minute throttle windows with 2-100× slowdowns, and a sweep
    // recorded inside one looks like a broad regression. All raw runs stay
    // in the artifact.
    val canaryRuns = Measure.canaryRuns(spark, sfDir)
    val streamRate = Measure.median(canaryRuns)
    // Latency-floor canary: streaming queries also pay a single-threaded,
    // fsync/metadata-latency-bound ceremony floor (WAL + offset log +
    // planning + memory-sink drain) that a host can degrade independently
    // of throughput. A one-row single-batch stream measures that floor
    // directly. Recorded for window forensics; not used in any gate.
    def floorOnce(i: Int): Double = try {
      val stage = Scratch.dir("graft_floor_")
      spark.range(1).toDF("id").write.mode("overwrite").parquet(s"$stage/in")
      val t0 = System.nanoTime()
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .parquet(s"$stage/in")
        .writeStream.outputMode("append").format("memory")
        .queryName(s"bench_floor_$i").start()
      q.processAllAvailable(); q.stop(); q.awaitTermination(20000)
      spark.table(s"bench_floor_$i").write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.dropTempView(s"bench_floor_$i")
      sec
    } catch { case _: Throwable => -1.0 }
    val floorRuns = Seq(floorOnce(1), floorOnce(2), floorOnce(3))
    val ceremonyFloor = Measure.median(floorRuns)

    // Two window-quality grades, both self-described in the artifact:
    // `throttled` (< 0.5×) and `degraded` (< 0.85×, a window whose
    // per-query figures should be read against `regressions_rechecked`,
    // not at face value).
    val canaryRatio =
      if (streamRate > 0 && sfDir.endsWith("sf0.1"))
        streamRate / Measure.CanaryRefEventsPerSec
      else -1.0
    val throttled = canaryRatio > 0 && canaryRatio < 0.5
    val degraded = canaryRatio > 0 && canaryRatio < 0.85

    // Optional args: bench only the named queries (local iteration aid; the
    // driver invokes with no args and benches everything).
    val only = args.toSet
    val benched = SparkEntry.allDefs.filter(d => only.isEmpty || only(d.name))
    def timeOne(d: QueryDef): Double = Measure.timeOne(spark, d, sfDir)
    // Degraded-window policy: run the sweep, then ONE full re-run, and
    // report the per-query best (throttled implies degraded). The first
    // pass's figures go to queries_raw so both passes stay in the artifact.
    val raw = scala.collection.mutable.LinkedHashMap[String, Double]()
    val onePass = benched.map(d => d -> timeOne(d))
    val rerunFullSweep = degraded
    val firstPass =
      if (!rerunFullSweep) onePass
      else onePass.map { case (d, sec1) =>
        raw(d.name) = sec1
        d -> Measure.best(sec1, timeOne(d))
      }
    // Re-measure gross outliers (over 5 s AND over 5× the sweep median)
    // once and report the best; the first-pass figure stays in queries_raw.
    val median = Measure.median(firstPass.map(_._2))
    val results = firstPass.map { case (d, sec) =>
      if (sec > 5.0 && median > 0 && sec > 5.0 * median) {
        if (!raw.contains(d.name)) raw(d.name) = sec
        d.name -> Measure.best(sec, timeOne(d))
      } else d.name -> sec
    }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val (worstName, worstSec) =
      if (results.isEmpty) ("", 0.0) else results.maxBy(_._2)

    // Two flag channels share one gate: the per-round regression channel
    // against bench_ref.json, and the cumulative-drift channel against
    // bench_ref_origin.json (a snapshot of the first frozen clean-window
    // reference that a refresh never rewrites, so drift baked in one
    // sub-0.3 s slice per refresh stays visible). Ratios are
    // canary-normalized: when this window's canary is slower than the
    // reference's, the expectation scales down by the same factor, clamped
    // at 1.0 so a faster window never masks a real regression. Flag =
    // normalized ratio > 1.5 AND > 0.3 s absolute growth (sub-second
    // jitter is not a regression). Flags are reported, never fail the run.
    def norm(refRate: Double): Double =
      if (refRate > 0 && streamRate > 0) math.min(1.0, streamRate / refRate) else 1.0
    def flag(now: Double, prev: Double, n: Double): Option[Double] = {
      val ratio = (now / prev) * n
      if (prev > 0 && now > 0 && ratio > 1.5 && now - prev > 0.3) Some(ratio) else None
    }
    // A flag raised inside the sweep can be window noise (a throttle
    // burst, GC from a neighbor query) rather than a plan regression, so
    // every flagged query is re-measured solo at the end of the run —
    // best-of-2 when the first solo run would itself confirm the flag, so
    // neither one unlucky nor one lucky solo run decides — and the
    // decision is the query's best time this session vs the reference.
    // Returns (query, reference, sweep, solo).
    def recheck(ref: Map[String, Double], n: Double): Seq[(String, Double, Double, Double)] =
      results.flatMap { case (name, now) =>
        ref.get(name).flatMap(prev => flag(now, prev, n).map(r => (name, prev, now, r)))
      }.sortBy(-_._4).map { case (name, prev, sweep, _) =>
        val d = benched.find(_.name == name).get
        val solo1 = timeOne(d)
        val solo = if (flag(solo1, prev, n).isDefined) Measure.best(solo1, timeOne(d)) else solo1
        (name, prev, sweep, solo)
      }
    // Returns (query, reference, best, ratio) for the flags that reproduce.
    def confirm(rechecked: Seq[(String, Double, Double, Double)], n: Double)
        : Seq[(String, Double, Double, Double)] =
      rechecked.flatMap { case (name, prev, sweep, solo) =>
        val now = Measure.best(sweep, solo)
        flag(now, prev, n).map(r => (name, prev, now, r))
      }.sortBy(-_._4)

    val (refQ, refRate) = Measure.readRef(RefFile).getOrElse((Map.empty[String, Double], -1.0))
    val refNorm = norm(refRate)
    val rechecked = recheck(refQ, refNorm)
    val confirmed = confirm(rechecked, refNorm)

    // Adjudicated-regression channel: a deliberate semantic change that
    // slows its query is named IN THE REPO, in bench_expected.json
    // ({query, reason, expired} entries), so the acceptance travels with
    // the artifact. While an entry is ACTIVE (expired=false) its flag
    // routes to `regressions_expected` and the bench_ref refresh is
    // REFUSED, keeping the accepted cost visible against the old
    // reference; retiring it (expired=true) lets the next clean full sweep
    // bake the cost into `prev`. A present-but-unparseable file warns
    // loudly instead of silently dropping every adjudication.
    val expectedEntries: Seq[(String, String, Boolean)] =
      if (!java.nio.file.Files.exists(Graft.repoFile(ExpectedFile))) Seq.empty
      else try {
        val out = Measure.readJson(ExpectedFile).path("expectations").asScala.toSeq
          .filter(_.hasNonNull("query"))
          .map(e => (e.path("query").asText(), e.path("reason").asText(""),
            e.path("expired").asBoolean(false)))
        if (out.isEmpty)
          System.err.println(s"[bench] WARNING: $ExpectedFile exists but contains " +
            "zero parseable expectation entries — committed adjudications are NOT in effect")
        out
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] WARNING: failed to parse $ExpectedFile " +
            s"(${e.getMessage}) — committed adjudications are NOT in effect")
          Seq.empty
      }
    val expectedReasons = expectedEntries.map { case (n, r, _) => n -> r }.toMap
    val activeExpected = expectedEntries.collect { case (n, _, false) => n }.distinct
    val (regressionsExpected, regressions) =
      confirmed.partition { case (n, _, _, _) => expectedReasons.contains(n) }

    // bench_ref refresh policy: the reference is only rewritten from a FULL
    // sweep in a clean-enough window (canary_ratio >= 0.95) with ZERO
    // regression flags surviving solo recheck — refreshing from a degraded
    // window would bake its slowness into every future ratio, and
    // refreshing over a live regression would grandfather it. Armed by
    // default (the policy gate is the refusal mechanism); any falsy
    // SPARK_GRAFT_REFRESH_REF (0/false/no/off) disarms it for local runs
    // that must not touch the frozen reference. A refused refresh is
    // recorded in the artifact.
    val refreshPolicy = "full sweep && canary_ratio>=0.95 && n_regressions==0" +
      " && no active (unexpired) entry in bench_expected.json" +
      " && BENCH_FULL.json not frozen at HEAD"
    val refreshRequested = {
      val rawEnv = sys.env.get("SPARK_GRAFT_REFRESH_REF")
      val disarm = rawEnv.exists(v =>
        Set("0", "false", "no", "off").contains(v.trim.toLowerCase))
      System.err.println(s"[bench] refresh arming: env=${rawEnv.getOrElse("<unset>")} " +
        s"-> ${if (disarm) "DISARMED" else "armed"}")
      !disarm
    }
    // Frozen-artifact detection: when the committed BENCH_FULL.json is
    // clean at HEAD — the state a freeze commit hands over — a sweep must
    // not overwrite the artifact the round doc describes (DocsClaimSpec
    // guards that binding). Such sweeps write BENCH_POSTFREEZE.json and
    // never rewrite bench_ref.json. SPARK_GRAFT_FREEZE=1 (only the literal
    // "1") marks the one run that IS the freeze and legitimately
    // overwrites the committed artifact. Detection errors FAIL CLOSED: an
    // undeterminable git state is treated as frozen. The repo root is
    // resolved explicitly so a bench launched from a non-root cwd still
    // checks the real artifact.
    val freezeRun = sys.env.get("SPARK_GRAFT_FREEZE").contains("1")
    val frozenArtifact: Boolean = !freezeRun && (try {
      val rootP = new ProcessBuilder("git", "rev-parse", "--show-toplevel").start()
      val root = new String(rootP.getInputStream.readAllBytes, "UTF-8").trim
      if (rootP.waitFor() != 0 || root.isEmpty)
        sys.error("not inside a git worktree")
      val tracked = new ProcessBuilder("git", "-C", root, "ls-files",
        "--error-unmatch", "BENCH_FULL.json").redirectErrorStream(true).start()
      val clean = new ProcessBuilder("git", "-C", root, "diff", "--quiet",
        "HEAD", "--", "BENCH_FULL.json").start()
      tracked.waitFor() == 0 && clean.waitFor() == 0 &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(root, "BENCH_FULL.json"))
    } catch { case t: Throwable =>
      System.err.println("[bench] frozen-artifact state undeterminable (" +
        t.getMessage + ") — failing CLOSED: treating BENCH_FULL.json as frozen")
      true
    })
    if (frozenArtifact)
      System.err.println("[bench] BENCH_FULL.json is committed and clean at HEAD " +
        "— post-freeze flow: writing BENCH_POSTFREEZE.json, refresh disabled")
    val refreshEligible =
      only.isEmpty && canaryRatio >= 0.95 && regressions.isEmpty &&
        activeExpected.isEmpty && !frozenArtifact
    val refreshed = refreshRequested && refreshEligible
    // Grandfathering audit: a refresh bakes every RETIRED (expired=true)
    // expectation's accepted cost into the new `prev`; record exactly which
    // retired entries were baked, so the acceptance stays auditable.
    val bakedExpired =
      if (!refreshed) Seq.empty
      else expectedEntries.collect { case (n, reason, true) => obj("query" -> n, "reason" -> reason) }

    // Drift channel: the origin figures were recorded as solo best-of-window
    // measurements, so the sweep side is rechecked the same way as the
    // regression channel before anything is listed (one-sided GC/neighbor
    // inflation otherwise re-flags ~20 sub-second queries every round).
    // `origin_parse_ok` makes a missing/unparseable origin file visible
    // instead of reading as an empty drift list.
    val origin = Measure.readRef(OriginFile).filter(_._1.nonEmpty)
    val (originQ, originRate) = origin.getOrElse((Map.empty[String, Double], -1.0))
    val originNorm = norm(originRate)
    val driftRechecked = recheck(originQ, originNorm)
    val driftCumulative = confirm(driftRechecked, originNorm)
    // Origin coverage append: on each refresh, first-seen origins (this
    // sweep's figure, the same one entering bench_ref) are APPENDED for
    // queries the origin file lacks; existing entries are never rewritten.
    val originAppended: Seq[String] =
      if (!refreshed) Seq.empty
      else if (origin.isEmpty) {
        // Bootstrap: with no parseable queries object there is nothing to
        // splice into, so write a skeleton seeded with this clean-window
        // sweep's figures (exactly what the append would have recorded).
        System.err.println(s"[bench] WARNING: $OriginFile missing/unparseable " +
          "— bootstrapping a fresh origin skeleton from this sweep")
        try {
          val seed = results.filter(_._2 > 0)
          java.nio.file.Files.write(Graft.repoFile(OriginFile), Measure.json(obj(
            "bootstrapped_from" -> "this sweep (origin file was absent/unparseable)",
            "stream_events_per_sec" -> fixed(streamRate, 0),
            "queries" -> figures(seed.sortBy(_._1), 3))).getBytes("UTF-8"))
          seed.map(_._1)
        } catch { case _: Throwable => Seq.empty }
      }
      else {
        val missing = results.filter { case (n, v) => v > 0 && !originQ.contains(n) }
        // SPLICE only the missing entries into the existing queries object
        // text: "append-only" means string insertion, so unknown top-level
        // fields and the existing figures' formatting survive untouched.
        if (missing.nonEmpty) try {
          val path = Graft.repoFile(OriginFile)
          val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          val m = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt).get
          val add = missing.sortBy(_._1)
            .map { case (n, v) => s"${Measure.json(n)}:${fixed(v, 3)}" }.mkString(",")
          val spliced = txt.substring(0, m.end(1)) +
            (if (m.group(1).trim.isEmpty) add else "," + add) + txt.substring(m.end(1))
          java.nio.file.Files.write(path, spliced.getBytes("UTF-8"))
          missing.map(_._1)
        } catch { case _: Throwable => Seq.empty }
        else Seq.empty
      }
    if (refreshRequested && !refreshEligible)
      System.err.println(
        f"[bench] bench_ref refresh REFUSED (policy: $refreshPolicy; " +
          f"canary_ratio=$canaryRatio%.3f, n_regressions=${regressions.size}, " +
          s"active_expected=${activeExpected.mkString("[", ",", "]")}, " +
          s"filtered=${only.nonEmpty})")

    // Full per-query detail is too big for the driver's log tail (it keeps
    // only the last ~2000 chars of stdout), so it goes to files:
    // BENCH_FULL.json at the repo root (committed with the round) and
    // target/bench.json. Filtered (arg-subset) runs never clobber the
    // committed sweep artifact, and post-freeze sweeps go to
    // BENCH_POSTFREEZE.json.
    val fullArtifact =
      if (only.nonEmpty) "target/bench_partial.json"
      else if (frozenArtifact) "BENCH_POSTFREEZE.json"
      else "BENCH_FULL.json"
    def flagged(rs: Seq[(String, Double, Double, Double)], ref: String, now: String,
        ratio: String) = rs.map { case (n, refSec, sec, r) =>
      obj("query" -> n, ref -> fixed(refSec, 3), now -> fixed(sec, 3), ratio -> fixed(r, 2))
    }
    val detail = Measure.json(obj(
      "metric" -> "total", "value" -> fixed(total, 3), "unit" -> "sec",
      "artifact_file" -> fullArtifact, "frozen_artifact_flow" -> frozenArtifact,
      "queries" -> figures(results, 3), "queries_raw" -> figures(raw, 3),
      "sf" -> sfDir, "staging_sec" -> fixed(stagingSec, 3),
      "stream_events_per_sec" -> fixed(streamRate, 0),
      "canary_runs" -> canaryRuns.map(fixed(_, 0)),
      "canary_best_ref" -> fixed(Measure.CanaryRefEventsPerSec, 0),
      "canary_ratio" -> fixed(canaryRatio, 3),
      "ceremony_floor_sec" -> fixed(ceremonyFloor, 3), "floor_runs" -> floorRuns.map(fixed(_, 3)),
      "throttled" -> throttled, "degraded" -> degraded, "full_rerun" -> rerunFullSweep,
      "bench_ref" -> RefFile, "ref_refresh_policy" -> refreshPolicy,
      "ref_refresh_requested" -> refreshRequested, "ref_refreshed" -> refreshed,
      "refresh_baked_expired" -> bakedExpired,
      "bench_ref_origin" -> OriginFile, "origin_parse_ok" -> origin.nonEmpty,
      "origin_appended" -> originAppended,
      "drift_cumulative" -> flagged(driftCumulative, "origin", "now_sec", "cum_ratio"),
      "drift_rechecked" -> driftRechecked.map { case (n, orig, sweep, solo) =>
        obj("query" -> n, "origin" -> fixed(orig, 3), "sweep_sec" -> fixed(sweep, 3),
          "solo_sec" -> fixed(solo, 3))
      },
      "regressions" -> flagged(regressions, "prev", "best_sec", "ratio"),
      "regressions_expected" -> regressionsExpected.map { case (n, prev, now, r) =>
        obj("query" -> n, "reason" -> expectedReasons.getOrElse(n, ""),
          "prev" -> fixed(prev, 3), "best_sec" -> fixed(now, 3), "ratio" -> fixed(r, 2))
      },
      "expected_file" -> ExpectedFile, "expected_active" -> activeExpected,
      "regressions_rechecked" -> rechecked.map { case (n, prev, sweep, solo) =>
        obj("query" -> n, "prev" -> fixed(prev, 3), "sweep_sec" -> fixed(sweep, 3),
          "solo_sec" -> fixed(solo, 3),
          "solo_ratio" -> fixed(if (prev > 0 && solo > 0) solo / prev else -1.0, 2))
      }))
    val outFiles = Seq("target/bench.json", fullArtifact) ++
      (if (refreshed) Seq(RefFile) else Seq.empty)
    for (p <- outFiles) {
      try {
        val path = Graft.repoFile(p)
        if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.write(path, detail.getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }

    // The stdout contract line itself must fit the tail budget, so it
    // carries the totals plus a representative headline subset, trimmed
    // from the end while it is over 1800 chars. Per-query data for
    // everything else lives in the full artifact (pointer included).
    val headline = Seq(
      "q01_pricing_summary", "join_revenue_by_nation", "join_asof_last_order",
      "win_rank_top_orders", "win_topk_native", "agg_percentiles_by_flag",
      "map_hof_funcs", "json_funcs", "dt_funcs", "hash_funcs",
      "misc_salted_join", "src_bucketed_join", "sub_scalar_correlated",
      "dedup_exact", "dedup_ngram_jaccard", "dedup_simhash",
      "dedup_minhash_lsh", "dedup_clusters", "dedup_embedding_cosine",
      "dedup_semantic", "dedup_substring_spans", "sim_brute_topk",
      "sim_ivf_topk", "sim_lsh_topk", "sim_bm25_topk", "sim_pq_adc_topk",
      "text_quality_flags", "text_ngram_profile", "misc_scd2_history",
      "curation_contamination", "pipeline_curation_full", "multimodal_features",
      "stream_payload_pipeline", "stream_native_windowed",
      "stream_session_windows", "stream_tws_sessions", "stream_stream_join",
      "stream_stream_left_join", "stream_dedup_within_watermark")
    val byName = results.toMap
    def compactLine(n: Int): String = Measure.json(obj(
      "metric" -> "total", "value" -> fixed(total, 3), "unit" -> "sec", "sf" -> sfDir,
      "n_queries" -> results.size, "worst_query" -> worstName,
      "worst_sec" -> fixed(worstSec, 2), "staging_sec" -> fixed(stagingSec, 2),
      "stream_events_per_sec" -> fixed(streamRate, 0),
      "canary_ratio" -> fixed(canaryRatio, 2), "throttled" -> throttled,
      "degraded" -> degraded, "n_regressions" -> regressions.size,
      "n_flags_rechecked" -> rechecked.size, "queries_full" -> fullArtifact,
      "queries" -> figures(headline.filter(byName.contains).take(n).map(k => k -> byName(k)), 2)))
    val line = (headline.size to 0 by -1).map(compactLine).find(_.length <= 1800)
      .getOrElse(compactLine(0))
    println(line)
    spark.stop()
  }

  /** Per-query seconds as an ordered JSON object of `dp`-decimal figures. */
  private def figures(m: Iterable[(String, Double)], dp: Int): ListMap[String, Any] =
    ListMap(m.toSeq.map { case (k, v) => k -> fixed(v, dp) }: _*)
}
