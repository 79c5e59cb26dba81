package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's stream-record model, rebuilt from the reference's Kinesis
  * record surface (SURVEY.md §1.3):
  * payload bytes + partition key + sequence number + shard id + arrival ts
  * (reference: AmazonKinesisRecordProducerSample.java:127-135,
  * AmazonKinesisApplicationSampleRecordProcessor.java:99-110).
  */
case class KinesisLikeRecord(
    partitionKey: String,
    data: Array[Byte],
    sequenceNumber: String,
    shardId: String,
    arrivalTs: java.sql.Timestamp)

object RecordStream {

  /** Number of shards the reference provisions
    * (AmazonKinesisRecordProducerSample.java:66,94-95).
    */
  val NumShards = 2

  /** Producer parity [REF A1]: the reference emits one record per 500 ms
    * (`Thread.sleep(500)`, AmazonKinesisRecordProducerSample.java:133,136)
    * with payload `"testData-" + LocalDateTime.now()` (:128-129) and a
    * fresh epoch-millis partition key (:126,130). Rebuilt on the `rate`
    * source: 2 rows/s, shard = value % 2, monotonically increasing
    * sequence numbers per shard (the rate source's `value`).
    */
  def generator(spark: SparkSession, rowsPerSecond: Int = 2): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        concat(lit("partitionKey-"), (col("timestamp").cast("double") * 1000).cast("long"))
          .as("partitionKey"),
        encode(
          concat(lit("testData-"), date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS")),
          "UTF-8").as("data"),
        col("value").cast("string").as("sequenceNumber"),
        concat(lit("shardId-"), lpad(pmod(col("value"), lit(NumShards)).cast("string"), 12, "0"))
          .as("shardId"),
        col("timestamp").as("arrivalTs"))

  /** Decode-with-error-channel [REF A8/A9]: strict UTF-8 decode + payload
    * parse. The reference logs-and-skips malformed records
    * (…SampleRecordProcessor.java:105-108); Spark task retries are
    * per-task, not per-record, so poison-pill semantics become an explicit
    * error column: `parsed` is null iff the record is malformed, and
    * `decode_error` says why. Downstream splits on it (dead-letter).
    */
  def decodePayload(records: DataFrame): DataFrame =
    records
      .withColumn("text", col("data").cast("string"))
      .withColumn("event_ts",
        expr("try_to_timestamp(regexp_extract(text, '^testData-(.+)$', 1), " +
          "\"yyyy-MM-dd'T'HH:mm:ss.SSS\")"))
      .withColumn("decode_error",
        when(col("text").isNull, "malformed-utf8")
          .when(col("event_ts").isNull, "bad-payload-format"))
      .withColumn("parsed",
        when(col("decode_error").isNull,
          struct(lit("testData").as("tag"), col("event_ts"))))

  /** Dead-letter split [REF A9]: good records flow on; failures are
    * retained with their error, not dropped (the reference's skip-after-10-
    * retries becomes an auditable side channel).
    */
  def splitDeadLetter(decoded: DataFrame): (DataFrame, DataFrame) =
    (decoded.filter(col("decode_error").isNull),
      decoded.filter(col("decode_error").isNotNull))

  /** The streaming-shaped events table: the fixture `events.parquet`
    * replayed through the file stream source (all-distributed, no driver
    * round-trip). `ts` normalization mirrors the batch reader
    * (Tables.events): TIMESTAMP(NANOS) fixtures are read as long nanos
    * and truncated to µs; µs fixtures arrive as TIMESTAMP_NTZ and are
    * cast into the (UTC-pinned) session zone.
    */
  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The fixture file every staged/derived events entry declares as its
    * source: a fixture dir can be regenerated in place, sometimes with a
    * different parquet vintage, so a rewrite must rebuild the schema probe
    * and the staged sentinels/shard logs.
    */
  private def eventsFile(dir: String): Seq[String] = Seq(s"$dir/events.parquet")

  /** On-disk type of the fixture's ts column under the session's
    * legacy-nanos conf: LongType for TIMESTAMP(NANOS) vintages,
    * TIMESTAMP_NTZ for µs ones.
    * One parquet-footer read per fixture, memoized.
    */
  private def tsDiskType(spark: SparkSession, dir: String): DataType =
    graft.Derived.get(spark, "stream.tsDiskType", eventsFile(dir)) {
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    }

  private def normalizeTs(df: DataFrame, tsType: DataType): DataFrame = tsType match {
    case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val tsType = tsDiskType(spark, dir)
    normalizeTs(
      spark.readStream
        .schema(eventsSchema(tsType))
        // glob, not a bare file path: the file stream source requires a
        // directory or glob (basePath must be a directory)
        .parquet(s"$dir/events.parq*"),
      tsType)
  }

  /** Events as a *multi-batch* stream for watermark-driven operators
    * (append-mode session windows): the fixture file is staged into a temp
    * dir followed by two far-future sentinel records in their own files.
    * With maxFilesPerTrigger=1 the sentinels arrive as later micro-batches,
    * advancing the watermark past every real session's end so append mode
    * finalizes and emits them; the sentinels' own windows stay pending and
    * are never emitted. This is the deterministic replacement for
    * wall-clock waits (SURVEY.md §7 hard-point 3).
    */
  def eventsStreamWithSentinels(spark: SparkSession, dir: String,
      filesPerTrigger: Int = 1): DataFrame = {
    val tsType = tsDiskType(spark, dir)
    // staging costs three small Spark write jobs, so it runs once per
    // fixture and session — bench timings then measure the stream, not
    // driver-side file staging
    val stage = graft.Derived.get(spark, "stream.sentinels", eventsFile(dir))(
      stageSentinels(spark, dir))
    normalizeTs(
      spark.readStream
        .schema(eventsSchema(tsType))
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(s"$stage/*"),
      tsType)
  }

  private def stageSentinels(spark: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = graft.Scratch.dir("graft_stream_")
    val tsType = tsDiskType(spark, dir)
    // sentinel files must carry the SAME ts representation as the copied
    // fixture file — the stream reads both through one user schema
    def tsValue(tsNanos: Long): Any = tsType match {
      case LongType => tsNanos
      case TimestampNTZType => java.time.LocalDateTime.ofEpochSecond(
        tsNanos / 1000000000L, (tsNanos % 1000000000L).toInt, java.time.ZoneOffset.UTC)
      case _ => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        tsNanos / 1000000000L, tsNanos % 1000000000L))
    }
    Files.copy(Paths.get(s"$dir/events.parquet"), Paths.get(s"$stage/batch0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    def sentinel(i: Int, tsNanos: Long): Unit = {
      import org.apache.spark.sql.Row
      import scala.jdk.CollectionConverters._
      // one 'purchase' + one 'click' row per sentinel: event-type filters
      // get pushed BELOW the watermark node by Catalyst, so a sentinel with
      // its own type would never advance a type-filtered side's clock.
      // user_id/event_id are negative so downstream queries filter them.
      val df = spark.createDataFrame(
        java.util.List.of(
          Row(-(2L * i), tsValue(tsNanos), -1L, "purchase", 0.0, "{}"),
          Row(-(2L * i + 1), tsValue(tsNanos), -1L, "click", 0.0, "{}")),
        eventsSchema(tsType))
      val tmp = s"$stage/_tmp_sentinel$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      // relocate the single part file so the stream glob sees a plain file
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(s"$stage/sentinel$i.parquet"))
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      Thread.sleep(5) // distinct mod-times => deterministic file order
    }
    // 2030-01-01/02/03 UTC, far beyond the 2024 fixture range. Three of
    // them: stateful operators evict/emit one batch *after* the watermark
    // covers a group, and outer joins hold left rows until the watermark
    // passes the end of their admissible right-side window — the third
    // sentinel guarantees a batch in which every real group is flushable.
    sentinel(1, 1893456000000000000L)
    sentinel(2, 1893542400000000000L)
    sentinel(3, 1893628800000000000L)
    stage
  }

  /** Stateful streaming shuffle partitions: state cardinality in these
    * queries (users, windows, dedup keys) is thousands, not billions, and
    * every partition is a state-store instance that commits a delta file
    * per micro-batch — 32 of them is pure overhead at this state size. On
    * a real cluster this is the streaming-specific
    * `spark.sql.shuffle.partitions` sized to state volume / executor count,
    * set independently of the batch query width.
    */
  val StreamShufflePartitions = "8"

  /** Stage the events fixture in the reference's stream shape: [[NumShards]]
    * shard logs [REF A1], records routed by partition key (user_id) mod
    * shard count, ordered by (ts, event_id) within each shard, payload in
    * the producer's `testData-<ISO>` format with every 97th record
    * corrupted (the poison-pill fixture) [REF A9]. Driver-side staging is
    * fixture *creation* — the reference producer is likewise a single
    * driver loop (AmazonKinesisRecordProducerSample.java:122-137) — not a
    * query path; queries read the staged logs through the distributed
    * [[graft.streaming.source.KinesisLikeProvider]]. Memoized like the
    * sentinel staging — once per fixture and session, outside any timed
    * path.
    */
  def kinesisFixture(spark: SparkSession, dir: String): String =
    graft.Derived.get(spark, "stream.kinesisFixture", eventsFile(dir)) {
      val stage = graft.Scratch.dir("graft_kinesis_")
      writeShardLogs(spark, dir, stage)((shard, _) => f"shard-$shard%03d.txt")
      stage
    }

  /** The events fixture staged MID-RESHARD [REF A14]: shard 0 was split at
    * 2024-01-15 — records before the split live in the (now closed) parent
    * `shard-000`, records at/after it in its child `shard-100`, with the
    * lineage declared in `_topology.txt`. The native source must drain the
    * parent completely before serving the child (the KCL's
    * parent-before-children guarantee); shard 1 is untouched and streams
    * independently.
    */
  def kinesisReshardFixture(spark: SparkSession, dir: String): String =
    graft.Derived.get(spark, "stream.kinesisReshardFixture", eventsFile(dir)) {
      val stage = graft.Scratch.dir("graft_kinesis_rs_")
      val splitNanos = java.time.Instant.parse("2024-01-15T00:00:00Z")
        .getEpochSecond * 1000000000L
      writeShardLogs(spark, dir, stage) { (shard, tsNanos) =>
        if (shard != 0) f"shard-$shard%03d.txt"
        else if (tsNanos < splitNanos) "shard-000.txt"
        else "shard-100.txt"
      }
      val topo = new java.io.PrintWriter(new java.io.File(stage, "_topology.txt"), "UTF-8")
      try topo.print("shardId-000000000100\tshardId-000000000000\n")
      finally topo.close()
      stage
    }

  /** Writes every events-fixture record as a shard-log line
    * (`ts_nanos<TAB>pkey<TAB>payload`) into `stage`, in (shard, ts,
    * event_id) order, each to the file `fileOf(shard, tsNanos)` names.
    */
  private def writeShardLogs(spark: SparkSession, dir: String, stage: String)(
      fileOf: (Int, Long) => String): Unit = {
    val rows = graft.Tables.events(spark, dir)
      .select(
        pmod(col("user_id"), lit(NumShards)).cast("int").as("shard"),
        (expr("unix_micros(ts)") * 1000L).as("ts_nanos"),
        col("user_id").cast("string").as("pkey"),
        when(col("event_id") % 97 === 0, concat(lit("garbage-"), col("event_id")))
          .otherwise(concat(lit("testData-"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS"))).as("payload"),
        col("event_id"))
      .orderBy("shard", "ts_nanos", "event_id")
      .collect()
    val writers = scala.collection.mutable.Map[String, java.io.PrintWriter]()
    try rows.foreach { r =>
      val f = fileOf(r.getInt(0), r.getLong(1))
      val w = writers.getOrElseUpdate(f,
        new java.io.PrintWriter(new java.io.File(stage, f), "UTF-8"))
      w.print(s"${r.getLong(1)}\t${r.getString(2)}\t${r.getString(3)}\n")
    } finally writers.values.foreach(_.close())
  }

  /** The events fixture replayed through the native shard-ordered
    * DataSourceV2 source — the engine's own "Kinesis consumer" surface.
    */
  def kinesisSource(spark: SparkSession, dir: String,
      maxRecordsPerShardPerBatch: Long = Long.MaxValue): DataFrame =
    spark.readStream
      .format(classOf[graft.streaming.source.KinesisLikeProvider].getName)
      .option("path", kinesisFixture(spark, dir))
      .option("maxRecordsPerShardPerBatch", maxRecordsPerShardPerBatch.toString)
      .load()

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the accumulated table. `processAllAvailable` + explicit stop keeps the
    * run deterministic (SURVEY.md §7 "genuinely hard" #3). The streaming
    * shuffle-partition count is applied for the query's lifetime (it is
    * locked into the checkpoint at first batch) and restored after.
    */
  def runToMemory(
      spark: SparkSession,
      stream: DataFrame,
      name: String,
      mode: String,
      shufflePartitions: String = StreamShufflePartitions,
      availableNow: Boolean = false): DataFrame = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    try {
      val writer = stream.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
      // AvailableNow terminates by itself once the start-time snapshot is
      // drained (in rate-limited batches); continuous queries are drained
      // with processAllAvailable + explicit stop.
      val q = (if (availableNow)
        writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      else writer).start()
      try {
        if (availableNow) q.awaitTermination() else q.processAllAvailable()
      } finally {
        q.stop()
        q.awaitTermination(20000) // graceful-stop budget [REF A15]
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    spark.table(name)
  }
}
