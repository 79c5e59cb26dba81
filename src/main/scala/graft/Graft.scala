package graft

import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graft.GraftDatasetBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Session factory for the engine.
  *
  * Settings are chosen for correctness parity with the DuckDB oracle (UTC
  * session time zone) and for local runs with one shuffle partition per
  * core of the master (`local[N]` → N, `local[*]` → the host's cores), not
  * the 200 default that over-schedules tiny shuffles. On a real cluster the
  * same builder is used with `spark.sql.shuffle.partitions` sized to ~2-3×
  * total cores and AQE left on to coalesce / skew-split at runtime. The
  * `file` scheme is bound to [[LocalFs]] for both Hadoop APIs, so local
  * checkpoint, state-store and sink writes start no `chmod`/`readlink`
  * process. On a `local` master the session's Hadoop configuration also
  * drops Hadoop's bundled defaults ([[trimBundledDefaults]]), so tasks stop
  * shipping them.
  */
object Graft {
  /** RAM-backed local scratch (optimization r17, guide §6 I/O layout):
    * Spark's local dirs (shuffle files, block-manager disk store,
    * broadcast spill) and the JVM temp dir (streaming temp checkpoints,
    * [[Scratch]] staging parquet) are EPHEMERAL by construction here —
    * every piece is per-run state that a JVM-exit sweeper or Spark itself
    * deletes — so on hosts with a writable tmpfs they belong on it
    * rather than on the data disk. (What made streaming checkpoints slow
    * here was not the disk: a 300-byte write, fsync and rename, the shape
    * of one offset-log entry, measured 0.4 ms median on the 4-core dev
    * host's data disk; the per-file `chmod`/`readlink` processes Hadoop
    * started were the cost, and [[LocalFs]] removes them on any disk.)
    * Parameterized for other deployments: SPARK_GRAFT_LOCAL_DIR=<path>
    * overrides the root (a cluster sets its NVMe scratch), =0 disables
    * (fall back to java.io.tmpdir). NOT result caching: only transient
    * run state moves; every query still computes from the parquet inputs.
    */
  def fastLocalDir(): Option[String] = {
    val env = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
    val root = env match {
      case Some("0") | Some("false") | Some("off") | Some("no") => return None
      case Some(p) => p
      case None => "/dev/shm"
    }
    try {
      val base = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.isWritable(base)) return None
      val d = base.resolve("graft-local")
      java.nio.file.Files.createDirectories(d)
      Some(d.toString)
    } catch { case _: Throwable => None }
  }

  /** Point the JVM temp dir at the fast local root too, so streaming temp
    * checkpoints and [[Scratch]] directories follow. Must run before the
    * first temp-file creation (the JDK caches the property on first use);
    * both mains call [[session]]/this before touching Spark.
    */
  def redirectTmpDir(): Unit =
    fastLocalDir().foreach { d =>
      try {
        val t = java.nio.file.Paths.get(d, "tmp")
        java.nio.file.Files.createDirectories(t)
        System.setProperty("java.io.tmpdir", t.toString)
      } catch { case _: Throwable => () }
    }

  /** Cores a master runs tasks on: `local` → 1, `local[N]` / `local[N,F]`
    * → N, `local[*]` and any other master → this host's processors.
    */
  private def masterCores(master: String): Int = {
    val LocalN = """local\[(\d+)(?:,\d+)?\]""".r
    master match {
      case "local" => 1
      case LocalN(n) => n.toInt
      case _ => Runtime.getRuntime.availableProcessors
    }
  }

  def session(master: String = "local[*]", appName: String = "graft"): SparkSession = {
    val cpus = masterCores(master).toString
    redirectTmpDir()
    val builder = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts ships as TIMESTAMP(NANOS) in some fixture vintages, which
      // the vectorized reader accepts only as raw long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    LocalFs.confs.foreach { case (k, v) => builder.config(k, v) }
    fastLocalDir().foreach(d => builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    LocalFs.evictStale(spark.sessionState.newHadoopConf())
    if (master == "local" || master.startsWith("local[")) trimBundledDefaults(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val BundledDefaults = Set("core-default.xml", "mapred-default.xml", "yarn-default.xml")
  private val SchemeBinding = """fs\.(?:AbstractFileSystem\.)?[^.]+\.impl""".r
  /** The one bundled default a local path reads whose compiled-in
    * fallback differs: with output compression on and no codec set,
    * Spark's text writers fall back to gzip where `mapred-default.xml`
    * says `DefaultCodec`.
    */
  private val KeptDefault = "mapreduce.output.fileoutputformat.compress.codec"

  /** Drop every Hadoop configuration entry whose only sources are Hadoop's
    * bundled `core-`, `mapred-` and `yarn-default.xml`, from both the
    * context's configuration and the shared state's copy that
    * `newHadoopConf()` starts from. Those are 1,070 of a `local[4]`
    * session's 1,097 entries (112 KB serialized), and Spark ships the
    * configuration several times per micro-batch: the file sink's job
    * description and its stats tracker each carry one into every sink
    * task, and the state store broadcasts one per batch. Each copy
    * deserializes every entry's source list through its own
    * `GZIPInputStream`. Trimmed, `newHadoopConf()` holds 50 entries
    * (6.9 KB), which deserialize in about 0.8 ms instead of 11 ms.
    *
    * A dropped key reads its compiled-in default instead. For the keys
    * the local paths read (the local `FileSystem` and `FileContext`,
    * `FileOutputCommitter`, Parquet, the codec factory) the two agree,
    * except [[KeptDefault]]. The scheme bindings stay
    * (`fs.<scheme>.impl`, `fs.AbstractFileSystem.<scheme>.impl`):
    * `FileContext` has no compiled-in fallback for them. Entries set by
    * Spark, `spark.hadoop.*`, SQL confs, [[LocalFs.confs]] or a
    * `*-site.xml` all stay.
    *
    * `JobConf`'s static initializer adds the `mapred` and `yarn` defaults
    * and reloads every default-loading configuration, which would bring the
    * dropped entries back, so it runs first. Non-local masters are left as
    * they are.
    */
  private def trimBundledDefaults(spark: SparkSession): Unit = {
    new JobConf(false)
    Seq(spark.sparkContext.hadoopConfiguration, GraftDatasetBridge.sharedHadoopConf(spark)).foreach {
      conf =>
        val drop = conf.asScala.map(_.getKey).filter { k =>
          val sources = conf.getPropertySources(k)
          sources != null && sources.forall(BundledDefaults) &&
            !SchemeBinding.matches(k) && k != KeptDefault
        }
        drop.foreach(conf.unset)
    }
  }

  /** The fixture directory a main runs on: `SPARK_GRAFT_SF_DIR`, else `default`. */
  def fixtureDir(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** `local[N]` with N = `SPARK_GRAFT_CPUS`, else `defaultCores`. */
  def localMaster(defaultCores: Int): String =
    s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString)}]"

  /** Resolve a committed-artifact path against the git toplevel (ADVICE
    * r16 #2): the bench/scale mains write BENCH_*.json where the round
    * commits from, so a run launched from a subdirectory must not strand
    * the artifact in cwd where it reads as missing/stale. Absolute paths
    * pass through; an undeterminable git state falls back to cwd.
    */
  def repoFile(name: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(name)
    if (p.isAbsolute) return p
    try {
      val proc = new ProcessBuilder("git", "rev-parse", "--show-toplevel").start()
      val root = new String(proc.getInputStream.readAllBytes, "UTF-8").trim
      if (proc.waitFor() == 0 && root.nonEmpty)
        java.nio.file.Paths.get(root).resolve(p)
      else p
    } catch { case _: Throwable => p }
  }
}

/** Loader for the driver-generated fixture tables (TESTDATA.md).
  *
  * Every operator takes `(SparkSession, sfDir)` and reads through here so a
  * cluster deployment only has to change the path scheme (e.g. s3://…). The
  * dimension tables (`region`, `nation`, `supplier`, `part`, `customer`) are
  * small at every scale factor relative to the facts (`lineitem`, `orders`,
  * `events`) — join code broadcasts them explicitly.
  */
object Tables {
  val fact = Seq("orders", "lineitem", "events", "documents", "embeddings")
  val dims = Seq("region", "nation", "customer", "supplier", "part")
  val all: Seq[String] = dims ++ fact

  /** Relation memo (optimization r18, guide §6 listing cost): every
    * `spark.read.parquet` call re-lists the path and re-reads the footer
    * schema on the driver — ~20-60 ms of per-query ceremony that a real
    * deployment pays ONCE per table via its catalog/metastore. The resolved
    * DataFrame is a [[Derived]] entry per (session, table file): only the
    * relation METADATA (schema + file index) is reused — execution still
    * scans the parquet input every time — and a table file rewritten in
    * place re-resolves.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Derived.get(spark, "table", Seq(path))(spark.read.parquet(path))
  }

  /** Same relation memo for IMMUTABLE staging parquet paths (the
    * corpus-snapshot tables: graph edges, CC labels, band-index
    * signatures, sketch partials — each written exactly once per
    * [[Derived]] entry and never overwritten). Mutable scratch dirs (e.g.
    * the reused delta-closure output) must keep calling spark.read.parquet
    * directly: a memoized relation would serve a stale file listing after
    * an overwrite.
    */
  def loadPath(spark: SparkSession, path: String): DataFrame =
    Derived.get(spark, "path", Nil, path)(spark.read.parquet(path))

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped as two different parquet types across fixture
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader only
    * accepts as long nanos via the legacy conf that [[Graft.session]] sets,
    * truncated here to µs with exact integer division (the same truncation
    * DuckDB applies) — and
    * plain µs TIMESTAMP without UTC adjustment, which Spark reads as
    * TIMESTAMP_NTZ. Both are normalized to a session-zone TIMESTAMP at µs
    * precision (the session zone is pinned to UTC engine-wide), matching
    * DuckDB's naive µs TIMESTAMP, so oracle parity holds regardless of
    * fixture vintage.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every fixture table as a temp view (for spark.sql queries).
    * Goes through the typed accessors so `events` gets its nanos→µs
    * timestamp handling regardless of query order.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}

/** A declared operator: a Spark implementation plus (when SQL-expressible)
  * a DuckDB oracle over the same parquet tables. The driver hash-compares
  * the two at sf0.01, so every query must be *deterministic*: totally
  * ordered output, doubles rounded, timestamps rendered as strings.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def defs: Seq[QueryDef]
}
