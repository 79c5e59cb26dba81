package graft

import org.apache.spark.sql.streaming.Trigger
import graft.streaming.RecordStream

/** The native shard-ordered DataSourceV2 source (KinesisLikeProvider):
  * exactly-once replay, dense per-shard sequence numbers, within-shard
  * arrival order, shard routing, and checkpointed restart-recovery — the
  * reference consumer's contract (AmazonKinesisApplicationSampleRecord
  * Processor.java:117-148) rebuilt natively.
  */
class NativeSourceSpec extends SparkSuite {

  private val Shard0 = "shardId-000000000000"
  private val Shard1 = "shardId-000000000001"

  test("replays all shards exactly once with dense ordered sequences [REF A7/A8]") {
    val df = RecordStream.kinesisSource(spark, Sf)
    val got = RecordStream.runToMemory(spark, df, "native_all_sink", "append")
    val rows = got.select("shardId", "sequenceNumber", "arrivalTs", "partitionKey").collect()
    val n = Tables.events(spark, Sf).count()
    assert(rows.length == n, s"expected $n records, got ${rows.length}")
    val byShard = rows.groupBy(_.getString(0))
    assert(byShard.keySet == Set(Shard0, Shard1))
    byShard.foreach { case (shard, rs) =>
      // dense 0..n-1, each exactly once: no loss, no duplication
      assert(rs.map(_.getLong(1)).sorted.toSeq == (0L until rs.length.toLong),
        s"$shard sequence numbers not dense")
      // within-shard order: arrival time nondecreasing along the sequence
      val ts = rs.sortBy(_.getLong(1)).map(_.getTimestamp(2).getTime)
      assert(ts.zip(ts.tail).forall { case (a, b) => a <= b },
        s"$shard arrival order violated")
      // partition-key routing: key mod NumShards picked this shard
      val want = if (shard == Shard1) 1L else 0L
      assert(rs.forall(_.getString(3).toLong % RecordStream.NumShards == want))
    }
  }

  test("reshard fixture splits shard-000 in order and copies shard-001 byte for byte") {
    def log(stage: String, f: String) = java.nio.file.Paths.get(stage, f)
    def lines(stage: String, f: String) =
      java.nio.file.Files.readAllLines(log(stage, f)).toArray.toSeq
    val plain = RecordStream.kinesisFixture(spark, Sf)
    val reshard = RecordStream.kinesisReshardFixture(spark, Sf)
    val (parent, child) = (lines(reshard, "shard-000.txt"), lines(reshard, "shard-100.txt"))
    assert(parent.nonEmpty && child.nonEmpty)
    assert(parent ++ child == lines(plain, "shard-000.txt"))
    assert(java.nio.file.Files.readAllBytes(log(reshard, "shard-001.txt")).toSeq ==
      java.nio.file.Files.readAllBytes(log(plain, "shard-001.txt")).toSeq)
  }

  test("restart from checkpoint resumes per-shard offsets exactly [REF A10]") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kin_ck_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_kin_out_").toString
    val n = Tables.events(spark, Sf).count()
    val perBatch = 200L
    def start(trigger: Option[Trigger]) = {
      val w = RecordStream.kinesisSource(spark, Sf, maxRecordsPerShardPerBatch = perBatch)
        .select("shardId", "sequenceNumber")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
      trigger.fold(w)(w.trigger).start()
    }
    // one rate-limited micro-batch, then stop mid-stream
    val q1 = start(Some(Trigger.Once()))
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst > 0 && afterFirst < n,
      s"first batch should be a strict prefix, got $afterFirst of $n")
    // restart: must resume from the checkpointed per-shard offsets
    val q2 = start(None)
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == n, s"expected $n rows after restart, got ${out.count()}")
    // (shard, seq) pairs are unique: nothing reprocessed, nothing lost
    assert(out.distinct().count() == n)
  }

  test("mid-log slice seeks to its start byte and reads exactly [fromSeq, untilSeq)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val staged = RecordStream.kinesisFixture(spark, Sf)
    val mb = new streaming.source.KinesisLikeMicroBatch(staged, Long.MaxValue, "graft-events")
    val all = mb.latestOffset(mb.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[streaming.source.ShardOffsets].offsets
    val (shard, end) = all.toSeq.minBy(_._1)
    assert(end > 100, s"fixture shard too small: $end")
    // a strict mid-log slice: the reader must seek (fromByte > 0), not
    // re-read from the head, and produce exactly the right sequence range
    val from = end / 3
    val until = from + 50
    val parts = mb.planInputPartitions(
      streaming.source.ShardOffsets(all.map { case (s, _) => s -> (if (s == shard) from else 0L) }),
      streaming.source.ShardOffsets(all.map { case (s, _) => s -> (if (s == shard) until else 0L) }))
    assert(parts.length == 1)
    val p = parts.head.asInstanceOf[streaming.source.KinesisShardPartition]
    assert(p.fromByte > 0, "mid-log slice should start at a nonzero byte offset")
    val reader = new streaming.source.KinesisShardReaderFactory().createReader(p)
    val seqs = scala.collection.mutable.ArrayBuffer.empty[Long]
    try while (reader.next()) seqs += reader.get().getLong(3)
    finally reader.close()
    assert(seqs.toSeq == (from until until), s"got ${seqs.take(5)}..${seqs.takeRight(5)}")
  }

  test("engine ReadMaxRows composes with the per-shard batch cap") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val staged = RecordStream.kinesisFixture(spark, Sf)
    val mb = new streaming.source.KinesisLikeMicroBatch(staged, 100L, "graft-events")
    val start = mb.initialOffset()
    // engine cap below the option total (2 shards x 100): total advance <= 150
    val capped = mb.latestOffset(start, ReadLimit.maxRows(150L))
      .asInstanceOf[streaming.source.ShardOffsets].offsets
    assert(capped.values.sum == 150L, s"total advance should hit the engine cap: $capped")
    assert(capped.values.forall(_ <= 100L), s"per-shard option cap violated: $capped")
    // engine cap above the option total: the option is the binding limit
    val loose = mb.latestOffset(start, ReadLimit.maxRows(10000L))
      .asInstanceOf[streaming.source.ShardOffsets].offsets
    assert(loose.values.forall(_ == 100L), s"expected option cap to bind: $loose")
  }

  test("Trigger.AvailableNow drains the backlog in rate-limited batches, then stops [REF A6/A10]") {
    // sf0.001 has ~250 records/shard; a 60/shard/batch cap forces >= 5
    // rate-limited micro-batches before the snapshot target is reached
    val df = RecordStream.kinesisSource(spark, Sf, maxRecordsPerShardPerBatch = 60)
      .groupBy("shardId").count()
    val q = df.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("native_avnow_sink")
      .trigger(Trigger.AvailableNow())
      .start()
    // self-termination is the AvailableNow contract — no stop() needed
    assert(q.awaitTermination(120000), "AvailableNow query must terminate on its own")
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 5, s"expected >= 5 rate-limited batches, got $dataBatches")
    val got = spark.table("native_avnow_sink").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, Sf)
      .selectExpr(s"concat('shardId-', lpad(CAST(user_id % ${RecordStream.NumShards} AS STRING), 12, '0')) AS shardId")
      .groupBy("shardId").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("reshard: child shard is withheld until its parent drains [REF A14]") {
    // hand-staged mid-reshard stream: parent shard-000 (5 records, closed),
    // its child shard-100 (4 records), and an independent shard-001
    val stage = java.nio.file.Files.createTempDirectory("graft_kin_topo_").toString
    def write(name: String, n: Int, t0: Long): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(stage, name), "UTF-8")
      try (0 until n).foreach(i => w.print(s"${t0 + i * 1000000L}\tpk\tpayload-$name-$i\n"))
      finally w.close()
    }
    write("shard-000.txt", 5, 1000000000L)
    write("shard-100.txt", 4, 6000000000L)
    write("shard-001.txt", 6, 1000000000L)
    write("shard-002.txt", 3, 1000000000L)
    // MERGE: shard-200 is the child of BOTH shard-001 and shard-002
    write("shard-200.txt", 2, 9000000000L)
    val topo = new java.io.PrintWriter(new java.io.File(stage, "_topology.txt"), "UTF-8")
    try topo.print(
      "shardId-000000000100\tshardId-000000000000\n" +
        "shardId-000000000200\tshardId-000000000001\n" +
        "shardId-000000000200\tshardId-000000000002\n")
    finally topo.close()

    // 2 records/shard/batch: the parent needs 3 batches; the child must not
    // produce its first record before the parent's last batch is committed
    val df = spark.readStream
      .format(classOf[graft.streaming.source.KinesisLikeProvider].getName)
      .option("path", stage)
      .option("maxRecordsPerShardPerBatch", "2")
      .load()
    val arrivals = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val q = df.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        arrivals.synchronized {
          arrivals ++= batch.select("shardId", "sequenceNumber").collect()
            .map(r => (id, r.getString(0), r.getLong(1)))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow reshard drain must terminate")

    val byShard = arrivals.groupBy(_._2)
    assert(byShard.keySet == Set(
      "shardId-000000000000", "shardId-000000000100", "shardId-000000000001",
      "shardId-000000000002", "shardId-000000000200"))
    // exactly-once, dense sequences per shard
    assert(byShard("shardId-000000000000").map(_._3).sorted.toSeq == (0L until 5L))
    assert(byShard("shardId-000000000100").map(_._3).sorted.toSeq == (0L until 4L))
    assert(byShard("shardId-000000000001").map(_._3).sorted.toSeq == (0L until 6L))
    assert(byShard("shardId-000000000002").map(_._3).sorted.toSeq == (0L until 3L))
    assert(byShard("shardId-000000000200").map(_._3).sorted.toSeq == (0L until 2L))
    // THE reshard guarantee: every parent record commits strictly before
    // any child record (the child never shares a batch with parent tail)
    val lastParentBatch = byShard("shardId-000000000000").map(_._1).max
    val firstChildBatch = byShard("shardId-000000000100").map(_._1).min
    assert(firstChildBatch > lastParentBatch,
      s"child started in batch $firstChildBatch, parent finished in $lastParentBatch")
    // MERGE: the child waits for BOTH parents — the slower one (shard-001,
    // 6 records at cap 2 = 3 batches) gates it
    val lastMergedParentBatch = (byShard("shardId-000000000001") ++
      byShard("shardId-000000000002")).map(_._1).max
    val firstMergeChildBatch = byShard("shardId-000000000200").map(_._1).min
    assert(firstMergeChildBatch > lastMergedParentBatch,
      s"merge child started in batch $firstMergeChildBatch before both parents " +
        s"finished ($lastMergedParentBatch)")
    // parents themselves are NOT held back by anyone's lineage
    assert(byShard("shardId-000000000001").map(_._1).min == 0)
    assert(byShard("shardId-000000000002").map(_._1).min == 0)
  }

  test("payload pipeline over the native source matches the batch truth") {
    val got = streaming.StreamingQueries.payloadPipeline(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Tables.events(spark, Sf)
      .selectExpr(
        s"concat('shardId-', lpad(CAST(user_id % ${RecordStream.NumShards} AS STRING), 12, '0')) AS shardId",
        "CAST(event_id % 97 <> 0 AS INT) AS good")
      .groupBy("shardId")
      .agg(org.apache.spark.sql.functions.expr("CAST(sum(good) AS BIGINT)").as("n_good"),
        org.apache.spark.sql.functions.expr("CAST(sum(1 - good) AS BIGINT)").as("n_dead_letter"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("the chunked seek index equals a byte-by-byte index") {
    // the reference: an offset after every newline byte, scanned one by one
    def byteIndex(f: java.io.File): Seq[Long] = {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      0L +: bytes.indices.filter(bytes(_) == '\n').map(_ + 1L)
    }
    val stage = java.nio.file.Files.createTempDirectory("graft_kin_index_")
    val rec = (i: Int) => s"${1000000000L + i}\tpk$i\tpayload-$i-ünï€😀\n"
    val big = (0 until 5000).map(rec).mkString // spans several 64 KB chunks
    val cases = Seq("empty" -> "", "terminated" -> (rec(0) + rec(1)),
      "unterminated" -> (rec(0) + rec(1).take(9)), "utf8" -> big, "utf8_tail" -> (big + "ü€"))
    for ((name, text) <- cases) {
      val f = stage.resolve(s"$name.txt")
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      assert(streaming.source.KinesisLikeSource.lineIndex(f.toFile).toSeq == byteIndex(f.toFile),
        name)
    }
  }

  test("an unterminated final line is not a record until its newline lands") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import streaming.source.{KinesisLikeMicroBatch, KinesisShardReaderFactory}
    val stage = java.nio.file.Files.createTempDirectory("graft_kin_tail_")
    val log = stage.resolve("shard-000.txt")
    val line = (i: Int) => s"${1000000000L + i}\tpk$i\tpayload-$i"
    java.nio.file.Files.write(log,
      ((0 until 3).map(i => line(i) + "\n").mkString + line(3).take(12)).getBytes("UTF-8"))
    def readAll(): Seq[(Long, String)] = {
      val mb = new KinesisLikeMicroBatch(stage.toString, Long.MaxValue, "s")
      val end = mb.latestOffset(mb.initialOffset(), ReadLimit.allAvailable())
      mb.planInputPartitions(mb.initialOffset(), end).toSeq.flatMap { p =>
        val r = new KinesisShardReaderFactory().createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => (r.get().getLong(3), new String(r.get().getBinary(4), "UTF-8"))).toList
        finally r.close()
      }
    }
    // the half-written record 3 is withheld, not served truncated
    assert(readAll() == (0 until 3).map(i => (i.toLong, s"payload-$i")))
    // once the writer finishes the line, record 3 is read whole
    java.nio.file.Files.write(log, (line(3).drop(12) + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(readAll() == (0 until 4).map(i => (i.toLong, s"payload-$i")))
  }
}
