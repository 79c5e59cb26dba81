package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, current_timestamp, when}
import org.apache.spark.sql.streaming.Trigger

import graft.{Graft, QueryDef, SparkEntry, Tables}
import graft.streaming.RecordStream

/** JVM side of the benchmark: runs one workload against inputs that
  * `run.py` generated into a work directory, and writes the raw
  * measurements to `<work>/result.json` and the spans to `<work>/spans.json`.
  * `run.py` derives every reported figure from those.
  *
  * Usage: PerfBench <workload> <work dir> <trace 0|1> <cores> <set-up rounds>
  *   <records per shard per micro-batch>
  *
  * Every layer is timed from outside, around calls to its public entry
  * points: `QueryDef.run` (construct), `queryExecution.executedPlan` (plan),
  * the noop write (exec), and the `kinesis-like` stream drained with
  * `Trigger.AvailableNow`. Counts come from listeners registered here.
  */
object PerfBench {
  val Tpch: Seq[String] = Seq(
    "q01_pricing_summary", "q02_min_cost_supplier", "q03_shipping_priority",
    "q04_order_priority", "q05_local_supplier", "q06_forecast_revenue",
    "q07_volume_shipping", "q08_market_share", "q09_product_profit",
    "q10_returned_items", "q11_important_stock", "q12_ship_delay_priority",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_parts_supplier", "q17_small_quantity", "q18_large_orders",
    "q19_discounted_revenue", "q20_potential_promotion", "q21_waiting_supplier",
    "q22_global_sales")

  /** JIT warm-up run in every set-up round: declared join, aggregate and
    * subquery shapes over the TPC-H tables that are not in `Tpch`.
    */
  val TpchWarmup: Seq[String] =
    Seq("join_semi_urgent", "agg_rollup_orders", "sub_in_predicate")

  val TpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Event-time horizon within which a re-sent record is a duplicate. */
  val DedupDelay = "1 minute"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private var cores: Int = _
  private var perShardCap: Long = _
  private var spark: SparkSession = _
  private var progress: ProgressListener = _
  private var phases: PhaseListener = _
  private var spans: Spans = _
  private var work: String = _
  private lazy val defs: Map[String, QueryDef] =
    SparkEntry.allDefs.map(d => d.name -> d).toMap

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, traceArg, coresArg, roundsArg, capArg) = args
    work = workDir
    cores = coresArg.toInt
    perShardCap = capArg.toLong
    val traced = traceArg == "1"
    val rounds = roundsArg.toInt
    spans = new Spans(java.util.UUID.randomUUID().toString)
    val calibMs = calibrate()
    val fields = try workload match {
      case "stream_ingest" => streamIngest(traced, rounds)
      case "tpch_queries" => tpchQueries(traced, rounds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally if (spark != null) spark.stop()
    Files.writeString(Paths.get(work, "spans.json"),
      json.writeValueAsString(Map("run" -> spans.run, "spans" -> spans.all)))
    Files.writeString(Paths.get(work, "result.json"),
      json.writeValueAsString(fields + ("calib_ms" -> calibMs)))
  }

  /** A fixed loop (16 passes of a dependent multiply-add over 8 MB) run on
    * one thread per core at once, timed nine times. It does not depend on
    * the program, so a shift in its time between runs is a shift in host
    * speed or in the cores the host leaves free.
    */
  private def calibrate(): Seq[Double] = {
    val arrays = Seq.fill(cores)(new Array[Long](1 << 20))
    (1 to 9).map { _ =>
      val t0 = System.nanoTime()
      val threads = arrays.map(a => new Thread(() => spin(a)))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
  }

  private def spin(a: Array[Long]): Unit = {
    var x = 1L
    var pass = 0
    while (pass < 16) {
      var i = 0
      while (i < a.length) {
        x = x * 6364136223846793005L + a(i)
        a(i) = x
        i += 1
      }
      pass += 1
    }
  }

  // ---------------------------------------------------------------- sessions

  /** Stop the current session and start a fresh one through the program's
    * own session factory, with this benchmark's listeners attached.
    */
  private def newSession(nCores: Int, withPhases: Boolean): SparkSession = {
    if (spark != null) spark.stop()
    spark = Graft.session(s"local[$nCores]", "perfbench")
    spark.conf.set("spark.sql.shuffle.partitions", nCores.toString)
    progress = new ProgressListener
    spark.streams.addListener(progress)
    phases = null
    if (withPhases) {
      phases = new PhaseListener
      spark.sparkContext.addSparkListener(phases)
    }
    spark
  }

  /** Drain the listener bus so every task/job event of finished work has
    * reached the listeners before they are read.
    */
  private def settle(): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Write dirty pages back before a timed region, so the kernel's
    * delayed write-back of set-up files does not land inside it.
    */
  private def sync(): Unit = new ProcessBuilder("sync").inheritIO().start().waitFor()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Counters of the phase listener, by phase, for `run.py`. */
  private def counters(): Map[String, Map[String, Long]] = {
    settle()
    Seq("construct", "exec", "stream").map(p =>
      p -> phases.phases.getOrDefault(p, new PhaseCounters).fields).toMap
  }

  // ------------------------------------------------------------ batch work

  private def tables(i: Int): String = Paths.get(work, s"tables_$i").toString

  final case class Timing(name: String, constructS: Double, planS: Double, execS: Double,
      spanS: Double, codegenS: Double, codegenCompiles: Long, error: Option[String])

  /** Run each query once: construct, plan and noop write, timed apart.
    * Returns each query's timing and, unless it threw, its DataFrame. With
    * `traced` set, each phase runs under its own job group
    * (`<phase>:<query>`) for the phase listener.
    */
  private def runQueries(names: Seq[String], dir: String, traced: Boolean,
      parent: Long): Seq[(Timing, Option[DataFrame])] = names.map { n =>
    def phase[T](p: String, qSpan: Long)(body: => T): (T, Double) = {
      if (traced) spark.sparkContext.setJobGroup(s"$p:$n", s"$p $n")
      try {
        val (out, s) = spans.time(p, qSpan)(_ => body)
        (out, (s.endNs - s.startNs) / 1e9)
      } finally if (traced) spark.sparkContext.clearJobGroup()
    }
    val cg0 = CodeGenerator.compileTime
    val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val ((df, c, p, e), q) = spans.time(s"query $n", parent) { qSpan =>
        val (df, c) = phase("construct", qSpan)(defs(n).run(spark, dir))
        val (_, p) = phase("plan", qSpan)(df.queryExecution.executedPlan)
        val (_, e) = phase("exec", qSpan)(df.write.mode("overwrite").format("noop").save())
        (df, c, p, e)
      }
      (Timing(n, c, p, e, (q.endNs - q.startNs) / 1e9,
        (CodeGenerator.compileTime - cg0) / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0, None), Some(df))
    } catch {
      case ex: Throwable =>
        System.err.println(s"[perfbench] $n failed: $ex")
        (Timing(n, 0, 0, 0, 0, 0, 0, Some(String.valueOf(ex.getMessage).take(300))), None)
    }
  }

  /** Write each query's result to `<out>/<query>` for the oracle check,
    * `cores` queries at a time. A write that fails leaves no output, which
    * the check counts as a failed query.
    */
  private def writeResults(results: Seq[(String, DataFrame)], out: String): Unit = {
    val pool = Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(results) { case (n, df) =>
      Future(try df.write.mode("overwrite").parquet(s"$out/$n") catch {
        case ex: Exception => System.err.println(s"[perfbench] writing $n failed: $ex")
      })
    }, Duration.Inf)
    finally pool.shutdown()
  }

  /** Each set-up round starts a fresh session on its own copy of the
    * tables, scans every table once and runs the `TpchWarmup` queries. The
    * timed pass runs in the last round's session. With `traced` set, it is
    * traced itself: the phase listener is attached to its session and the
    * phases run under job groups. Its wall time against that of untraced
    * runs is the tracing overhead. A 1-core pass on a fresh session and
    * copy of the tables follows.
    */
  private def tpchQueries(traced: Boolean, rounds: Int): Map[String, Any] = {
    var warmupFailed = Seq.empty[String]
    val setup = (1 to rounds).map { r =>
      sync()
      val (_, s) = spans.time(s"setup round $r", 0) { round =>
        newSession(cores, withPhases = traced && r == rounds)
        TpchTables.foreach(t => Tables.load(spark, tables(r), t).count())
        warmupFailed ++= runQueries(TpchWarmup, tables(r), false, round)
          .collect { case (t, None) => t.name }
      }
      (s.endNs - s.startNs) / 1e9
    }
    sync()
    if (traced) {
      settle()
      phases.phases.clear()
    }
    val (results, _) = spans.time("timed pass", 0)(id =>
      runQueries(Tpch, tables(rounds), traced, id))
    val timed = results.map(_._1)
    spans.time("result writes", 0)(_ => writeResults(
      results.collect { case (t, Some(df)) => t.name -> df }, Paths.get(work, "out").toString))
    val fields = Map(
      "setup_rounds_s" -> setup,
      "warmup_failed" -> warmupFailed.distinct,
      "tables_dir" -> tables(rounds),
      "oracles" -> Tpch.flatMap(n => defs(n).oracle.map(n -> _)).toMap,
      "queries" -> timed)
    if (!traced) fields
    else {
      val cs = counters()
      newSession(1, withPhases = false)
      TpchTables.foreach(t => Tables.load(spark, tables(rounds + 1), t).count())
      sync()
      val (one, _) = spans.time("1-core pass", 0)(id =>
        runQueries(Tpch, tables(rounds + 1), false, id).map(_._1))
      fields ++ Map("counters" -> cs, "one_core" -> one)
    }
  }

  // ----------------------------------------------------------- stream work

  /** The consumer pipeline: shard-ordered source, payload decode with its
    * dead-letter channel, keyed dedup of producer re-sends, and one
    * checkpointed file sink carrying both channels. `batch_ts` is the
    * micro-batch timestamp, which orders the batches a record landed in.
    */
  private def pipeline(logs: String): DataFrame =
    RecordStream.decodePayload(source(logs))
      .withWatermark("arrivalTs", DedupDelay)
      .dropDuplicatesWithinWatermark("partitionKey", "data")
      .select(
        when(col("decode_error").isNull, "good").otherwise("dead").as("channel"),
        col("shardId"), col("sequenceNumber"), col("partitionKey"),
        col("text").as("payload"), current_timestamp().as("batch_ts"))

  private def source(logs: String): DataFrame =
    spark.readStream.format("kinesis-like")
      .option("path", logs)
      .option("maxRecordsPerShardPerBatch", perShardCap.toString)
      .load()

  /** Drain `df` to the end of the logs; returns wall seconds. */
  private def drain(df: DataFrame, name: String, sink: Option[String]): Double = {
    val w = df.writeStream.queryName(name)
      .option("checkpointLocation", Paths.get(work, s"ckpt_$name").toString)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
    val t0 = System.nanoTime()
    val q = sink match {
      case Some(path) => w.format("parquet").option("path", path).start()
      case None => w.format("noop").start()
    }
    if (!q.awaitTermination(170000L)) {
      q.stop()
      throw new IllegalStateException(s"stream $name did not drain")
    }
    val s = secs(t0)
    spans.add(s"drain $name", 0, t0, System.nanoTime())
    s
  }

  /** Per-micro-batch components and state-store figures of stream `name`. */
  private def batches(name: String): Seq[Map[String, Double]] =
    progress.batches(name).map { p =>
      val parts = Seq("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
        "walCommit", "addBatch", "commitOffsets")
      val st = p.stateOperators.headOption
      parts.map(k => k -> Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).toMap ++
        Map(
          "rows" -> p.numInputRows.toDouble,
          "stateCommit" -> st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
          "stateUpdates" -> st.map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0),
          "stateRows" -> st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "stateMemoryBytes" -> st.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
          "stateDroppedByWatermark" -> st.map(_.numRowsDroppedByWatermark.toDouble).getOrElse(0.0))
    }

  /** With `traced` set, the timed drain itself is traced (the phase listener
    * is attached to its session); its wall time against that of untraced
    * runs is the tracing overhead. The source-only and decode-only drains
    * and a 1-core drain of the same logs follow.
    */
  private def streamIngest(traced: Boolean, rounds: Int): Map[String, Any] = {
    val logs = Paths.get(work, "logs").toString
    val setup = (1 to rounds).map { r =>
      sync()
      val t0 = System.nanoTime()
      newSession(cores, withPhases = traced && r == rounds)
      drain(pipeline(Paths.get(work, "warm_logs").toString), s"warm$r",
        Some(Paths.get(work, s"sink_warm$r").toString))
      spans.add(s"setup round $r", 0, t0, System.nanoTime())
      secs(t0)
    }
    val sink = Paths.get(work, "sink_main").toString
    sync()
    if (traced) {
      settle()
      phases.phases.clear()
    }
    val wall = drain(pipeline(logs), "main", Some(sink))
    val fields = Map(
      "setup_rounds_s" -> setup,
      "drain_s" -> wall,
      "sink" -> sink,
      "batches" -> batches("main"))
    if (!traced) fields
    else {
      val cs = counters()
      spark.sparkContext.removeSparkListener(phases)
      val deadLetters = spark.read.parquet(sink).filter(col("channel") === "dead").count()
      val sourceS = drain(source(logs), "source_only", None)
      val decodeS = drain(RecordStream.decodePayload(source(logs)), "decode_only", None)
      newSession(1, withPhases = false)
      val oneS = drain(pipeline(logs), "one_core", Some(Paths.get(work, "sink_one").toString))
      fields ++ Map("counters" -> cs, "dead_letters" -> deadLetters,
        "source_only_s" -> sourceS, "decode_only_s" -> decodeS, "one_core_s" -> oneS)
    }
  }
}
