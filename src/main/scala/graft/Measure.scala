package graft

import java.math.RoundingMode

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The measurement core that [[Bench]], [[BenchScale]] and [[BenchScale100]]
  * share: one session set-up, one warm-and-stage step, one timer with its
  * post-timing hygiene, one stream-rate canary, one median and one JSON
  * reader and writer. Every figure these mains report is measured the same
  * way, so a change to the protocol is made here once.
  */
object Measure {
  /** Clean-window median rate of the stream canary at sf0.1, in events/s
    * (BENCH_FULL history at `local[32]`: 95-110 k events/s). A window's
    * canary ratio is its own canary rate over this figure.
    */
  val CanaryRefEventsPerSec = 95000.0

  /** A session on `SPARK_GRAFT_CPUS` cores (`defaultCores` when unset) that
    * reads `events.ts` (TIMESTAMP(NANOS)) as raw longs, which the warm-up
    * scan of every table needs.
    */
  def session(appName: String, defaultCores: Int): SparkSession = {
    val spark = Graft.session(Graft.localMaster(defaultCores), appName)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Warms `dir` (parquet footers, buffer cache, scan codegen: a `count()`
    * of every fixture table), then runs `stage` on it and returns the
    * staging seconds. Staged tables model persisted corpus snapshots
    * (built once per corpus, read by every consumer), so their build is
    * timed here, never inside whichever query happens to read them first.
    */
  def prepare(spark: SparkSession, dir: String, stage: (SparkSession, String) => Unit): Double = {
    Tables.all.foreach(t => Tables.load(spark, dir, t).count())
    val t0 = System.nanoTime()
    stage(spark, dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to run `d` on `dir` to completion through the noop sink
    * (`count()` can skip column reads; noop cannot), or −1 on failure.
    *
    * Afterwards every cached frame and temp view is dropped: memory-sink
    * tables (one per streaming query, up to fixture size) and leftover
    * caches otherwise pile up on the driver heap across a long sweep and
    * tax late queries with GC (measured as a 1.5-2.5× in-sweep vs solo gap
    * on the last streaming queries). Each query creates its own views, so
    * dropping them between queries is safe.
    */
  def timeOne(spark: SparkSession, d: QueryDef, dir: String): Double = {
    val t0 = System.nanoTime()
    try {
      d.run(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[measure] ${d.name} @ $dir failed: ${e.getMessage}")
        -1.0
    } finally {
      try {
        spark.catalog.clearCache()
        spark.catalog.listTables().collect().filter(_.isTemporary)
          .foreach(t => spark.catalog.dropTempView(t.name))
      } catch { case _: Throwable => () }
    }
  }

  /** Median of the positive (successful) runs, −1 when there are none. */
  def median(runs: Seq[Double]): Double = {
    val ok = runs.filter(_ > 0).sorted
    if (ok.isEmpty) -1.0 else ok(ok.size / 2)
  }

  /** Fastest of the positive runs, −1 when there are none. */
  def best(runs: Double*): Double = runs.filter(_ > 0).minOption.getOrElse(-1.0)

  /** Three runs of the host-noise canary: events/s of the events table
    * through the full decode pipeline (`stream_payload_pipeline`), −1 for a
    * failed run. Graded by [[median]], so one throttle burst landing on a
    * single run cannot misgrade the window.
    */
  def canaryRuns(spark: SparkSession, dir: String): Seq[Double] = {
    val nEvents = try Tables.events(spark, dir).count() catch { case _: Throwable => -1L }
    val pipeline = SparkEntry.allDefs.find(_.name == "stream_payload_pipeline").get
    Seq.fill(3) {
      if (nEvents < 0) -1.0
      else try {
        val t0 = System.nanoTime()
        pipeline.run(spark, dir).write.mode("overwrite").format("noop").save()
        nEvents / ((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => -1.0 }
    }
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build()

  /** `v` rounded half-up to `dp` decimals, written as a JSON number. */
  def fixed(v: Double, dp: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(dp, RoundingMode.HALF_UP)

  /** A JSON object whose keys keep the order given. */
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  /** Compact JSON text of maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** The parsed JSON file at `path` under the repo root. */
  def readJson(path: String): JsonNode = mapper.readTree(Graft.repoFile(path).toFile)

  /** The `queries` figures and `stream_events_per_sec` of a bench reference
    * file (`bench_ref.json`, `bench_ref_origin.json`); None when the file is
    * missing or unparseable.
    */
  def readRef(path: String): Option[(Map[String, Double], Double)] = try {
    val root = readJson(path)
    val queries = root.path("queries").properties.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    Some((queries, root.path("stream_events_per_sec").asDouble(-1.0)))
  } catch { case _: Throwable => None }
}
