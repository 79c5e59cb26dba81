package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one registry for derived tables: every value the engine derives
  * from a fixture, or builds once per session, is an entry here —
  * resolved table relations, staged stream fixtures, the persisted
  * corpus-snapshot tables (graph edges, cluster labels, band and IVF
  * indexes, sketch partials) and trained models.
  *
  * One key rule for every entry: the session it was built in, its name and
  * arguments, and the (mtime, size) fingerprint of every source file it
  * declares. So:
  *  - a source file rewritten in place changes the key, and the next access
  *    rebuilds the entry (and every entry that declares the same file);
  *  - the session is part of the key by reference, so two live sessions
  *    (`newSession()` included) never share an entry;
  *  - a session's entries are dropped when its SparkContext ends, so the
  *    registry never pins a stopped session's frames.
  *
  * Builders nest (the band index reads `Tables.load`, a trained classifier
  * reads its memoized feature frame), so the map holds lazy slots and
  * never runs a builder inside its own locking: each builder runs under
  * its slot's lock, and one that throws leaves the slot unbuilt, so the
  * next access retries.
  */
object Derived {
  private final case class Key(
      session: SparkSession, name: String, args: Seq[Any], sources: Seq[String])

  private final class Slot(build: () => Any) {
    lazy val value: Any = build()
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Slot]()

  /** The entry `name(args)` of `spark`, built on first access and rebuilt
    * whenever one of the `sources` files changes.
    */
  def get[V](spark: SparkSession, name: String, sources: Seq[String], args: Any*)
      (build: => V): V = {
    val key = Key(spark, name, args, sources.map(fingerprint))
    var slot = entries.get(key)
    if (slot == null) {
      contextEndListener(spark)
      slot = entries.computeIfAbsent(key, _ => new Slot(() => build))
    }
    slot.value.asInstanceOf[V]
  }

  /** `path` plus its (mtime, size): a file regenerated in place gets a new
    * fingerprint. For a directory-shaped parquet table this is the
    * directory's own entry, which changes when its files are replaced.
    */
  private def fingerprint(path: String): String = {
    val fp = try {
      val a = java.nio.file.Files.readAttributes(java.nio.file.Paths.get(path),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      s"${a.lastModifiedTime.toMillis}:${a.size}"
    } catch { case _: Throwable => "absent" }
    s"$path@$fp"
  }

  /** The listener that drops `spark`'s entries when its SparkContext ends,
    * registered with the context on the session's first entry. It is
    * itself held as an entry of the session, so it goes with them.
    */
  private[graft] def contextEndListener(spark: SparkSession): SparkListener =
    entries.computeIfAbsent(Key(spark, "", Nil, Nil), _ => new Slot(() => {
      val l = new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          entries.keySet.removeIf(_.session eq spark)
      }
      spark.sparkContext.addSparkListener(l)
      l
    })).value.asInstanceOf[SparkListener]

  /** Number of entries `spark` holds, its context-end listener excluded. */
  private[graft] def size(spark: SparkSession): Int =
    entries.keySet.stream.filter(k => (k.session eq spark) && k.name.nonEmpty).count.toInt

  /** A catalog table name no other entry, session or JVM uses: managed
    * tables live in the context-wide catalog and the shared warehouse dir,
    * so a per-session entry must not reuse a name another session reads.
    */
  def tableName(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID.toString.replace('-', '_')

  /** Build every corpus-snapshot entry a sweep over `dir` reads, so no
    * query's timing absorbs a one-time build: the staged stream fixtures
    * (sentinel files, kinesis shard logs), the graph edge list, the
    * cluster labels, the band index and its corpus closure, the IVF index
    * and the sketch-partial tables.
    */
  def stageAll(spark: SparkSession, dir: String): Unit = {
    streaming.RecordStream.eventsStreamWithSentinels(spark, dir)
    streaming.RecordStream.kinesisFixture(spark, dir)
    operators.GraphQueries.edges(spark, dir).count()
    operators.DedupQueries.clusterLabels(spark, dir).count()
    operators.DedupQueries.bandIndex(spark, dir)._1.count()
    operators.DedupQueries.corpusClusterLabels(spark, dir).count()
    operators.SimilarityQueries.ivfIndex(spark, dir)._1.count()
    operators.AggQueries.hllPartials(spark, dir).count()
    operators.AggQueries.tdPartials(spark, dir).count()
  }
}
