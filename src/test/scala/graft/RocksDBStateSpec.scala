package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RocksDB state store provider: the scale path for streaming state (state
  * larger than executor heap spills to disk instead of OOMing). Needs its
  * own session because the provider is fixed per-query at start.
  */
class RocksDBStateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.session("local[2]", "graft-rocksdb-test")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  test("streaming aggregation runs on the RocksDB state store") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft_rocks_").toString
    (0 until 1000).map(i => (i % 7, 1L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$stage/in.parquet")
    val agg = spark.readStream.schema("k INT, v LONG").parquet(s"$stage/*")
      .groupBy("k").agg(sum("v").as("total"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("rocks_sink").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("rocks_sink").as[(Int, Long)].collect().toMap
    assert(got.values.sum == 1000L)
    assert(got.keySet == (0 until 7).toSet)
    // the run actually used RocksDB (provider recorded in the query progress)
    val provider = q.lastProgress.stateOperators.headOption
      .map(_.customMetrics.toString).getOrElse("")
    assert(provider.toLowerCase.contains("rocksdb"), s"metrics: $provider")
  }

  test("a drained declared stream's collected progress reaches its last committed batch") {
    // a session-wide checkpoint root keeps the memory sink's checkpoint
    // (named after the query) after the query stops, so its commit log
    // can be read back
    val root = Scratch.dir("graft_rocks_progress_")
    val key = "spark.sql.streaming.checkpointLocation"
    val d = SparkEntry.allDefs.find(_.name == "stream_stateful_user_stats").get
    spark.conf.set(key, root)
    val (sec, progress) =
      try Scale.progressOf(spark)(Measure.timeOne(spark, d, "/root/testdata/sf0.001"))
      finally spark.conf.unset(key)
    assert(sec > 0)
    val got = progress.getOrElse(fail("no termination event within the timeout"))
    val commits = new java.io.File(s"$root/stream_stateful_sink/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong)
    assert(commits.nonEmpty)
    assert(got.map(_.batchId).max == commits.max)
    assert(got.exists(_.stateOperators.exists(
      _.customMetrics.toString.toLowerCase.contains("rocksdb"))), got.map(_.json).mkString("\n"))
  }

  test("state-v2 TTL purges expired keys from the checkpoint (statestore probe)") {
    // transformWithState in ProcessingTime mode self-triggers micro-batches,
    // so a deterministic "two batches, N epochs" TTL probe is impossible
    // offline (docs/ROUND4.md §4). This sidesteps it: the TTL contract is
    // about the CHECKPOINT, so stop the query after the TTL has elapsed and
    // at least one later commit, then read the checkpoint back with the
    // batch `statestore` source — aged-out keys must be physically gone,
    // fresh keys present.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Scratch.dir("graft_ttl_probe_")
    val in = MemoryStream[(Long, Long)]
    val out = in.toDS().groupByKey(_._1)
      .transformWithState(new streaming.TtlCountProcessor(ttlMs = 3000),
        TimeMode.ProcessingTime(), OutputMode.Update())
    val q = out.toDF().writeStream.outputMode("update").format("memory")
      .queryName("ttl_probe_sink").option("checkpointLocation", ckpt).start()
    var touchNanos = System.nanoTime()
    try {
      // TTL mode SELF-TRIGGERS micro-batches, so processAllAvailable never
      // settles — poll the sink for the data we fed instead (the extra
      // self-triggered batches are what runs the TTL purge, so they are a
      // feature here, not a nuisance)
      def awaitSink(rows: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (spark.table("ttl_probe_sink").count() < rows &&
          System.nanoTime() < deadline) Thread.sleep(100)
        assert(spark.table("ttl_probe_sink").count() >= rows,
          s"sink never reached $rows rows")
      }
      in.addData((1L, 1L), (2L, 1L)) // keys 1, 2 — will age out
      awaitSink(2)
      Thread.sleep(6500) // > 2× TTL
      in.addData((3L, 1L)) // fresh key; its batch commits after expiry,
      awaitSink(3)        // which is the commit that purges keys 1 and 2
      in.addData((3L, 1L)) // re-touch: key 3's TTL restarts just before stop
      awaitSink(4)
      touchNanos = System.nanoTime()
    } finally { q.stop(); q.awaitTermination(20000) }
    // this host has multi-second throttle stalls: if stop() landed more
    // than the TTL after the re-touch, a self-triggered batch may have
    // legitimately purged key 3 too — the aged-out half of the contract
    // (keys 1, 2 gone) still holds unconditionally, so assert only that
    // half when the run straddled the TTL
    val sinceTouchMs = (System.nanoTime() - touchNanos) / 1000000L
    val state = spark.read.format("statestore")
      .option("stateVarName", "counts").load(ckpt)
    val keys = state.select("key.*").collect().map(_.getLong(0)).toSet
    assert(!keys.contains(1L) && !keys.contains(2L),
      s"aged-out keys survived in the checkpoint: $keys")
    if (sinceTouchMs < 3000)
      assert(keys == Set(3L), s"expected only the fresh key in state, got: $keys")
  }
}
