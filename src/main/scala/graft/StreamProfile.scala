package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Instrumented solo profiler for the streaming ceremony-drift cluster
  * (VERDICT r12 #5): `stream_dedup` / `stream_dedup_within_watermark` /
  * `stream_sliding_counts` drifted to 1.3–1.5× their r9 bench_ref figures
  * with git-identical plans. This names where the wall time actually goes,
  * from StreamingQueryProgress: micro-batch component times (planning,
  * offset walCommit, addBatch, state commit) vs everything OUTSIDE trigger
  * execution (query start/stop ceremony, memory-sink drain, final batch
  * sort) — so the drift can be attributed to a component, not adjudicated
  * as "wobble".
  *
  * Runs in a FRESH warmed JVM, so its medians also answer the aging
  * question: if fresh-solo ≈ the r12 in-JVM solo recheck (measured after a
  * 408-query sweep), the drift is NOT sweep-JVM aging; if fresh-solo ≈ the
  * r9 reference, it is.
  *
  * Output: STREAM_PROFILE.json (per query: wall runs, medians, summed
  * per-batch durationMs components, state-op commit times, batch count).
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val targets =
      if (args.nonEmpty) args.toSeq
      else Seq("stream_dedup", "stream_dedup_within_watermark", "stream_sliding_counts")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "5").toInt
    val spark = Graft.session(s"local[$cpus]", "graft-stream-profile")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same warm + staging protocol as Bench, so figures are comparable
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    streaming.RecordStream.eventsStreamWithSentinels(spark, sfDir)
    streaming.RecordStream.kinesisFixture(spark, sfDir)

    // Window-quality canary (same pipeline as Bench) so the profile is
    // self-describing about host state: these phases are latency-bound
    // (fsync, driver metadata ops), and the throughput canary is the only
    // cross-round comparable we have.
    val nEvents = Tables.events(spark, sfDir).count()
    val canary = {
      val rates = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries("stream_payload_pipeline")(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        nEvents / ((System.nanoTime() - t0) / 1e9)
      }.sorted
      rates(1)
    }

    // Ceremony-floor decomposition: a ONE-ROW single-batch stream through
    // the same memory-sink protocol as runToMemory — its wall time is pure
    // per-query streaming ceremony (no data). Phase-timed so the floor's
    // composition (start vs drain vs stop vs sink read) is in the artifact.
    val floorRuns = (1 to runs).map { i =>
      val stage = Scratch.dir("graft_floor_")
      spark.range(1).toDF("id").write.mode("overwrite").parquet(s"$stage/in")
      val t0 = System.nanoTime()
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .parquet(s"$stage/in")
      val q = src.writeStream.outputMode("append").format("memory")
        .queryName(s"floor_sink_$i").start()
      val t1 = System.nanoTime()
      q.processAllAvailable()
      val t2 = System.nanoTime()
      q.stop(); q.awaitTermination(20000)
      val t3 = System.nanoTime()
      spark.table(s"floor_sink_$i").write.mode("overwrite").format("noop").save()
      val t4 = System.nanoTime()
      spark.catalog.dropTempView(s"floor_sink_$i")
      Map("start" -> (t1 - t0) / 1e9, "drain" -> (t2 - t1) / 1e9,
        "stop" -> (t3 - t2) / 1e9, "sink_read" -> (t4 - t3) / 1e9,
        "total" -> (t4 - t0) / 1e9)
    }

    val progresses = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progresses.synchronized { progresses += e.progress }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; if (s.isEmpty) -1.0 else s(s.size / 2)
    }

    val out = targets.map { name =>
      val d = SparkEntry.allDefs.find(_.name == name)
        .getOrElse(sys.error(s"unknown query $name"))
      val measured = (1 to runs).map { _ =>
        progresses.synchronized(progresses.clear())
        val t0 = System.nanoTime()
        d.run(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // async listener bus: let the tail progress land
        val snap = progresses.synchronized(progresses.toSeq)
        val comp = scala.collection.mutable.LinkedHashMap[String, Long]()
        snap.foreach { p =>
          p.durationMs.forEach((k, v) => comp(k) = comp.getOrElse(k, 0L) + v)
          p.stateOperators.foreach { so =>
            comp("state_commitTimeMs") =
              comp.getOrElse("state_commitTimeMs", 0L) + so.commitTimeMs
            comp("state_allUpdatesTimeMs") =
              comp.getOrElse("state_allUpdatesTimeMs", 0L) + so.allUpdatesTimeMs
            comp("state_allRemovalsTimeMs") =
              comp.getOrElse("state_allRemovalsTimeMs", 0L) + so.allRemovalsTimeMs
          }
        }
        // post-timing hygiene matching Bench.timeOne
        try {
          spark.catalog.clearCache()
          spark.catalog.listTables().collect().filter(_.isTemporary)
            .foreach(t => spark.catalog.dropTempView(t.name))
        } catch { case _: Throwable => () }
        (wall, snap.size, comp.toMap)
      }
      val walls = measured.map(_._1)
      val batches = measured.map(_._2.toDouble)
      val keys = measured.flatMap(_._3.keys).distinct.sorted
      val compMed = keys.map(k =>
        k -> med(measured.map(_._3.getOrElse(k, 0L).toDouble)))
      val trigMed = compMed.toMap.getOrElse("triggerExecution", 0.0)
      val wallMed = med(walls)
      (name, wallMed, walls, med(batches), compMed,
        wallMed - trigMed / 1000.0)
    }
    spark.streams.removeListener(listener)

    val json = out.map { case (n, wallMed, walls, nb, comp, outside) =>
      val comps = comp.map { case (k, v) => f""""$k":${v}%.0f""" }.mkString("{", ",", "}")
      f""""$n":{"wall_med_sec":$wallMed%.3f,"wall_runs":${walls.map(w => f"$w%.3f").mkString("[", ",", "]")},"n_batches_med":$nb%.0f,"components_ms_med":$comps,"outside_trigger_sec":$outside%.3f}"""
    }.mkString(
      s"""{"metric":"stream_profile","sf":"$sfDir","runs_per_query":$runs,"stream_events_per_sec":${f"$canary%.0f"},"canary_ratio":${f"${canary / 95000.0}%.3f"},"ceremony_floor":{${
        floorRuns.head.keys.toSeq.sorted.map { k =>
          f""""${k}_med_sec":${med(floorRuns.map(_(k)))}%.3f"""
        }.mkString(",")
      }},"queries":{""",
      ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get("STREAM_PROFILE.json"),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
