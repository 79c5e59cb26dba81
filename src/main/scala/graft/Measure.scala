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
  * post-timing hygiene, one host loop and window grade, one stream-rate
  * figure, one median and one JSON reader and writer. Every figure these
  * mains report is measured the same way, so a change to the protocol is
  * made here once.
  */
object Measure {
  /** The committed same-host reference: a full sweep's artifact, written
    * only by `Bench --refresh` and read by every later sweep.
    */
  val RefFile = "BENCH_FULL.json"

  /** The host's core count, the thread count of the host loop. */
  val nproc: Int = Runtime.getRuntime.availableProcessors

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

  /** `n` runs of `run` after one untimed warm run (JIT, page cache), which
    * is discarded.
    */
  private def warmRuns(n: Int)(run: => Double): Seq[Double] = { run; Seq.fill(n)(run) }

  /** The host loop: milliseconds for `threads` threads at once to each run
    * `pass` over its own 8 MB array, nine timed runs after a warm one. It
    * runs no program code, so it moves only with the host: its clock and
    * the cores other tenants leave free. perfbench's `calibrate()` times
    * the same loop.
    */
  def calibRuns(threads: Int, pass: Array[Long] => Unit = spin): Seq[Double] = {
    val arrays = Seq.fill(threads)(new Array[Long](1 << 20))
    warmRuns(9) {
      val t0 = System.nanoTime()
      val ts = arrays.map(a => new Thread(() => pass(a)))
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
  }

  /** 16 passes of a dependent multiply-add over `a`. */
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

  /** This host's speed against `ref`'s: the reference's host-loop
    * milliseconds over `calibMs` (a slower host reads below 1), or −1 when
    * there is no reference from a host with this core count.
    */
  def windowRatio(ref: Option[Reference], calibMs: Double): Double =
    ref.filter(r => r.nproc == nproc && r.calibMs > 0 && calibMs > 0)
      .fold(-1.0)(_.calibMs / calibMs)

  /** The window grade of a [[windowRatio]]: below 0.5 `throttled`, below
    * 0.85 `degraded` (a sweep then runs twice and keeps each query's best),
    * `unrated` without a same-host reference.
    */
  def grade(ratio: Double): String =
    if (ratio < 0) "unrated" else if (ratio < 0.5) "throttled"
    else if (ratio < 0.85) "degraded" else "ok"

  /** Three timed runs, after a warm one, of events/s of the events table
    * through the full decode pipeline (`stream_payload_pipeline`); −1 for a
    * failed run. A reported figure: it moves with the streaming code, so
    * no gate reads it.
    */
  def streamRuns(spark: SparkSession, dir: String): Seq[Double] = {
    val pipeline = SparkEntry.allDefs.find(_.name == "stream_payload_pipeline").get
    val nEvents = try Tables.events(spark, dir).count() catch { case _: Throwable => -1L }
    if (nEvents < 0) Seq.fill(3)(-1.0)
    else eventRates(nEvents)(pipeline.run(spark, dir).write.mode("overwrite").format("noop").save())
  }

  /** Events/s of `drain` over `nEvents`, three timed runs after a warm one;
    * −1 for a run that throws.
    */
  def eventRates(nEvents: Long)(drain: => Unit): Seq[Double] = warmRuns(3) {
    try {
      val t0 = System.nanoTime()
      drain
      nEvents / ((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => -1.0 }
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

  /** A reference's host (`nproc`, its host-loop `calib_ms`), its sweep
    * (fixture `sf`, session `cores`) and its per-query seconds.
    */
  final case class Reference(nproc: Int, calibMs: Double, sf: String, cores: Int,
      queries: Map[String, Double])

  /** The committed [[Reference]]; None when [[RefFile]] is missing,
    * unparseable or carries no host figures.
    */
  def readReference(): Option[Reference] = try {
    val root = readJson(RefFile)
    val queries = root.path("queries").properties.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    Some(Reference(root.path("nproc").asInt(-1), root.path("calib_ms").asDouble(-1.0),
      root.path("sf").asText(""), root.path("cores").asInt(-1), queries))
      .filter(r => r.nproc > 0 && r.calibMs > 0)
  } catch { case _: Throwable => None }
}
