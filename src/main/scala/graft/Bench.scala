package graft

import scala.collection.immutable.ListMap

import Measure.{fixed, obj}

/** The measurement main: runs every declared query (or the named ones) on
  * SPARK_GRAFT_SF_DIR at local[32] (SPARK_GRAFT_CPUS overrides), each timed
  * by [[Measure.timeOne]], and prints one JSON line with per-query seconds.
  * Tables are warmed and the derived corpus tables staged first
  * ([[Measure.prepare]]), so query timings measure compute, not first-touch
  * I/O or one-time builds.
  *
  * Each sweep is judged against one committed same-host reference,
  * [[Measure.RefFile]], which only `runMain graft.Bench --refresh` rewrites;
  * other sweeps write `target/bench.json` (`target/bench_partial.json` when
  * given query names) and never a committed file.
  *
  * `--scale N` times each query on the fixture and, back to back, on its
  * N× [[ScaleGen]] corpus ([[Scale.corpus]]), and writes the factors that
  * [[Scale.judge]] adjudicates to `target/bench_scale.json` instead.
  */
object Bench {
  /** A regression flag: the normalized ratio of `now` over the reference
    * figure `ref`, when it is over 1.5 and `now` is more than 0.3 s slower
    * (sub-second jitter is not a regression). The ratio is scaled by the
    * window ratio clamped at 1.0: a slower window lowers the expectation by
    * the same factor, a faster one never masks a real regression.
    */
  def flag(now: Double, ref: Double, window: Double): Option[Double] = {
    val ratio = now / ref * (if (window > 0) math.min(1.0, window) else 1.0)
    if (ref > 0 && now > 0 && ratio > 1.5 && now - ref > 0.3) Some(ratio) else None
  }

  /** A flagged query: its reference, sweep and solo seconds. */
  final case class Recheck(name: String, ref: Double, sweep: Double, solo: Double)

  /** The regression channel. A flag raised inside the sweep can be window
    * noise (a throttle burst, GC from a neighbour query) rather than a plan
    * regression, so every flagged query is re-measured solo by `solo`,
    * worst first, twice when the first solo run would itself confirm the
    * flag (neither one unlucky nor one lucky solo run decides). A flag is
    * confirmed when the query's best time of the session still raises it.
    * Returns the re-checks and the confirmed (query, reference, best,
    * ratio), worst first.
    */
  def regressions(results: Seq[(String, Double)], ref: Map[String, Double], window: Double,
      solo: String => Double): (Seq[Recheck], Seq[(String, Double, Double, Double)]) = {
    val rechecked = results.flatMap { case (name, now) =>
      ref.get(name).flatMap(prev => flag(now, prev, window).map(r => (name, prev, now, r)))
    }.sortBy(-_._4).map { case (name, prev, sweep, _) =>
      val solo1 = solo(name)
      val best = if (flag(solo1, prev, window).isDefined) Measure.best(solo1, solo(name)) else solo1
      Recheck(name, prev, sweep, best)
    }
    val confirmed = rechecked.flatMap { r =>
      val now = Measure.best(r.sweep, r.solo)
      flag(now, r.ref, window).map(ratio => (r.name, r.ref, now, ratio))
    }.sortBy(-_._4)
    (rechecked, confirmed)
  }

  /** Why `--refresh` must leave the reference as it is in a window graded
    * `window` at `ratio`, or None when it may rewrite it: only an `ok` or
    * `unrated` window measures the host at its usual speed, and a sweep
    * taken slower would grade every later sweep against a slow host.
    */
  def refreshRefusal(window: String, ratio: Double): Option[String] =
    if (window == "ok" || window == "unrated") None
    else Some(f"the window graded $window (window_ratio $ratio%.2f); ${Measure.RefFile} is " +
      "left as it is: refresh again when the host is quieter, or, to re-base the reference " +
      s"on a new host or after a host-loop change, delete ${Measure.RefFile} first so the " +
      "refresh runs unrated")

  /** A run's options: `--refresh`, `--scale N`, and the query names. */
  final case class Args(refresh: Boolean, scale: Option[Int], only: Set[String])

  def parseArgs(args: Seq[String]): Args = {
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case "--refresh" :: tail => go(tail, a.copy(refresh = true))
      case "--scale" :: tail =>
        val n = tail.headOption.flatMap(_.toIntOption).filter(_ > 0)
        require(n.isDefined, "--scale takes a positive integer data factor")
        go(tail.tail, a.copy(scale = n))
      case name :: tail => go(tail, a.copy(only = a.only + name))
    }
    val a = go(args.toList, Args(refresh = false, scale = None, only = Set.empty))
    require(!a.refresh || (a.scale.isEmpty && a.only.isEmpty), "--refresh rewrites the " +
      "reference from a full sweep of the fixture and takes neither --scale nor query names")
    a
  }

  /** One figure of a sweep: `name` on the corpus `dir`, with its first-pass
    * figure in `raw` when it was re-run.
    */
  final case class Timed(name: String, dir: String, sec: Double, raw: Option[Double])

  /** Times each of `names` on each of `dirs` through `time`, a query's
    * corpora back to back: its later corpora then reuse the classes its
    * first run compiled, where Spark's generated-class cache (100 entries)
    * would have evicted them by the end of a whole pass, so a factor
    * isolates data growth, not compilation. With `fullRerun` (a degraded
    * window) the whole pass runs once more and each figure keeps its best.
    * Then a gross outlier (over 5 s AND over 5× the median of its corpus)
    * is re-run once and keeps its best.
    */
  def sweep(names: Seq[String], dirs: Seq[String], fullRerun: Boolean,
      time: (String, String) => Double): Seq[Timed] = {
    val onePass = for (n <- names; d <- dirs) yield Timed(n, d, time(n, d), None)
    val firstPass =
      if (!fullRerun) onePass
      else onePass.map(t => t.copy(sec = Measure.best(t.sec, time(t.name, t.dir)), raw = Some(t.sec)))
    val median = firstPass.groupBy(_.dir).map { case (d, ts) => d -> Measure.median(ts.map(_.sec)) }
    firstPass.map { t =>
      val m = median(t.dir)
      if (t.sec > 5.0 && m > 0 && t.sec > 5.0 * m)
        Timed(t.name, t.dir, Measure.best(t.sec, time(t.name, t.dir)), t.raw.orElse(Some(t.sec)))
      else t
    }
  }

  def main(args: Array[String]): Unit = {
    val Args(refresh, scale, only) = parseArgs(args.toSeq)
    val sfDir = Graft.fixtureDir("/root/testdata/sf0.1")
    // The host loop runs before the session exists, so it times the host
    // alone. This VM has multi-minute throttle windows with 2-100×
    // slowdowns; a sweep recorded inside one looks like a broad regression.
    val calibRuns = Measure.calibRuns(Measure.nproc)
    val calibMs = Measure.median(calibRuns)
    val ref = Measure.readReference()
    val windowRatio = Measure.windowRatio(ref, calibMs)
    val window = Measure.grade(windowRatio)
    if (refresh) refreshRefusal(window, windowRatio).foreach { why =>
      System.err.println(s"[bench] --refresh refused: $why")
      sys.exit(2)
    }
    val spark = Graft.session(Graft.localMaster(32), "graft-bench")
    val cores = spark.sparkContext.defaultParallelism
    val scaled = scale.map(n => (n, Scale.corpus(spark, sfDir, n)))
    val corpora = sfDir +: scaled.map(_._2).toSeq
    // Staging is not silently absorbed: it is reported as `staging_sec`.
    val stagingSec = corpora.map(Measure.prepare(spark, _, Derived.stageAll)).sum
    // Streaming throughput vs the reference's 2 rec/s producer ceiling
    // (BASELINE.md), measured before the sweep perturbs the JVM.
    val streamRuns = Measure.streamRuns(spark, sfDir)
    val streamRate = Measure.median(streamRuns)

    val benched = SparkEntry.allDefs.filter(d => only.isEmpty || only(d.name))
    val byName = benched.map(d => d.name -> d).toMap
    def timeOn(name: String, dir: String): Double = Measure.timeOne(spark, byName(name), dir)
    // Degraded-window policy: run the sweep, then ONE full re-run, and
    // report the per-query best. The first pass's figures go to
    // queries_raw so both passes stay in the artifact.
    val fullRerun = window == "degraded" || window == "throttled"
    val timed = sweep(benched.map(_.name), corpora, fullRerun, timeOn)
    def rawOn(dir: String) = timed.filter(_.dir == dir).flatMap(t => t.raw.map(t.name -> _))
    val host = obj("cores" -> cores, "nproc" -> Measure.nproc, "calib_ms" -> fixed(calibMs, 3),
      "calib_runs" -> calibRuns.map(fixed(_, 3)), "window_ratio" -> fixed(windowRatio, 3),
      "window" -> window, "full_rerun" -> fullRerun, "staging_sec" -> fixed(stagingSec, 3),
      "stream_events_per_sec" -> fixed(streamRate, 0),
      "stream_runs" -> streamRuns.map(fixed(_, 0)))

    scaled match {
      case Some((n, dir)) =>
        val secs = timed.map(t => (t.name, t.dir) -> t.sec).toMap
        val first = benched.map(d => Scale.Row(d.name, secs((d.name, sfDir)), secs((d.name, dir))))
        val detail = Measure.json(Scale.judge(spark, sfDir, dir, n, first, timeOn) ++ host ++
          obj("queries_raw" -> obj("base" -> figures(rawOn(sfDir), 3),
            "scaled" -> figures(rawOn(dir), 3))))
        write("target/bench_scale.json", detail)
        println(detail.take(1800))
        spark.stop()
        return
      case None =>
    }

    val results = timed.map(t => t.name -> t.sec)
    val raw = rawOn(sfDir)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val (worstName, worstSec) =
      if (results.isEmpty) ("", 0.0) else results.maxBy(_._2)

    // Query figures compare only with a reference taken on this host, on
    // the same fixture and core count.
    val comparable = ref.filter(r =>
      windowRatio > 0 && r.sf == sfDir && r.cores == cores).map(_.queries)
    val (rechecked, confirmed) =
      regressions(results, comparable.getOrElse(Map.empty), windowRatio, timeOn(_, sfDir))

    // Full per-query detail is too big for the driver's log tail (it keeps
    // only the last ~2000 chars of stdout), so it goes to files.
    val artifact = if (only.nonEmpty) "target/bench_partial.json" else "target/bench.json"
    val detail = Measure.json(obj(
      "metric" -> "total", "value" -> fixed(total, 3), "unit" -> "sec", "sf" -> sfDir,
      "reference" -> (if (comparable.isDefined) Measure.RefFile else "")) ++ host ++ obj(
      "queries" -> figures(results, 3), "queries_raw" -> figures(raw, 3),
      "regressions" -> confirmed.map { case (n, prev, now, r) =>
        obj("query" -> n, "prev" -> fixed(prev, 3), "best_sec" -> fixed(now, 3),
          "ratio" -> fixed(r, 2))
      },
      "regressions_rechecked" -> rechecked.map { r =>
        obj("query" -> r.name, "prev" -> fixed(r.ref, 3), "sweep_sec" -> fixed(r.sweep, 3),
          "solo_sec" -> fixed(r.solo, 3),
          "solo_ratio" -> fixed(if (r.ref > 0 && r.solo > 0) r.solo / r.ref else -1.0, 2))
      }))
    for (p <- artifact +: (if (refresh) Seq(Measure.RefFile) else Seq.empty)) write(p, detail)

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
    val resultOf = results.toMap
    def compactLine(n: Int): String = Measure.json(obj(
      "metric" -> "total", "value" -> fixed(total, 3), "unit" -> "sec", "sf" -> sfDir,
      "n_queries" -> results.size, "worst_query" -> worstName,
      "worst_sec" -> fixed(worstSec, 2), "staging_sec" -> fixed(stagingSec, 2),
      "stream_events_per_sec" -> fixed(streamRate, 0),
      "window_ratio" -> fixed(windowRatio, 2), "window" -> window,
      "n_regressions" -> confirmed.size, "n_flags_rechecked" -> rechecked.size,
      "queries_full" -> artifact,
      "queries" -> figures(headline.filter(resultOf.contains).take(n).map(k => k -> resultOf(k)), 2)))
    val line = (headline.size to 0 by -1).map(compactLine).find(_.length <= 1800)
      .getOrElse(compactLine(0))
    println(line)
    spark.stop()
  }

  /** Writes `text` to the repo-rooted `path`. */
  private def write(path: String, text: String): Unit = {
    val file = Graft.repoFile(path)
    java.nio.file.Files.createDirectories(file.toAbsolutePath.getParent)
    java.nio.file.Files.write(file, text.getBytes("UTF-8"))
  }

  /** Per-query seconds as an ordered JSON object of `dp`-decimal figures. */
  private def figures(m: Iterable[(String, Double)], dp: Int): ListMap[String, Any] =
    ListMap(m.toSeq.map { case (k, v) => k -> fixed(v, dp) }: _*)
}
