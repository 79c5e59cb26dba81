package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias

/** The derived-table registry: fixture invalidation, session isolation,
  * release at context end, nested builders — and the guard that keeps
  * every fixture- or session-keyed memo in it.
  */
class DerivedSpec extends SparkSuite {

  /** Every fixture-keyed entry of a sweep over `dir`, as a value that is
    * `eq` on a registry hit (memoized relation, staged path).
    */
  private def witnesses(s: SparkSession, dir: String): Map[String, AnyRef] = Map(
    "Tables.load(documents)" -> Tables.load(s, dir, "documents"),
    "Tables.load(lineitem)" -> Tables.load(s, dir, "lineitem"),
    "kinesisFixture" -> streaming.RecordStream.kinesisFixture(s, dir),
    "graph.edges" -> operators.GraphQueries.edges(s, dir),
    "dedup.clusterLabels" -> operators.DedupQueries.clusterLabels(s, dir),
    "dedup.bandIndex" -> operators.DedupQueries.bandIndex(s, dir)._2,
    "dedup.corpusClusterLabels" -> operators.DedupQueries.corpusClusterLabels(s, dir),
    "similarity.ivfIndex" -> operators.SimilarityQueries.ivfIndex(s, dir)._2,
    "agg.hllPartials" -> operators.AggQueries.hllPartials(s, dir),
    "agg.tdPartials" -> operators.AggQueries.tdPartials(s, dir))

  private def copyFixture(): Path = {
    val dir = Files.createTempDirectory("graft-derived-spec")
    Tables.all.foreach(t => Files.copy(Paths.get(Sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir
  }

  test("a fixture rewritten in place mid-JVM rebuilds every dependent entry") {
    val dir = copyFixture()
    val d = dir.toString
    val before = witnesses(spark, d)
    val docsBefore = Tables.documents(spark, d).count()
    // a second sweep over the unchanged fixture is all registry hits
    witnesses(spark, d).foreach { case (k, v) => assert(v eq before(k), s"$k rebuilt") }

    // documents regenerated with fewer rows; the other sources rewritten
    // byte-identical, so only their fingerprint (mtime) changes
    val part = Files.createTempDirectory("graft-derived-rewrite").resolve("docs")
    Tables.documents(spark, d).filter("doc_id % 7 <> 3").coalesce(1)
      .write.parquet(part.toString)
    val newDocs = Files.list(part).filter(_.toString.endsWith(".parquet")).findFirst.get
    Files.move(newDocs, dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val later = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis + 5000)
    Seq("lineitem", "orders", "embeddings", "events", "documents").foreach { t =>
      val f = dir.resolve(s"$t.parquet")
      if (t != "documents") {
        val bytes = Files.readAllBytes(f)
        Files.write(f, bytes)
      }
      Files.setLastModifiedTime(f, later)
    }

    val after = witnesses(spark, d)
    after.foreach { case (k, v) => assert(!(v eq before(k)), s"$k served a stale entry") }
    val docsAfter = Tables.documents(spark, d).count()
    assert(docsAfter < docsBefore, s"documents relation not re-resolved: $docsAfter")
    assert(docsAfter == spark.read.parquet(s"$d/documents.parquet").count())
  }

  private def catalogTable(df: DataFrame): String =
    df.queryExecution.analyzed.collectFirst { case a: SubqueryAlias => a.identifier.name }
      .getOrElse(fail("no catalog table in:\n" + df.queryExecution.analyzed))

  test("two live sessions never share an entry or a managed-table name") {
    val other = spark.newSession()
    assert(!(Tables.load(spark, Sf, "region") eq Tables.load(other, Sf, "region")))
    assert(Tables.load(other, Sf, "region") eq Tables.load(other, Sf, "region"))
    val (mine, theirs) = (operators.DedupQueries.bandIndex(spark, Sf)._1,
      operators.DedupQueries.bandIndex(other, Sf)._1)
    assert(catalogTable(mine).startsWith("graft_band_postings"))
    assert(catalogTable(mine) != catalogTable(theirs))
    assert(catalogTable(operators.SimilarityQueries.ivfIndex(spark, Sf)._1) !=
      catalogTable(operators.SimilarityQueries.ivfIndex(other, Sf)._1))
    // both sessions still read their own table after the other's build
    assert(mine.count() == theirs.count())
  }

  test("a stopped session's entries are dropped at the end of its context") {
    // the JVM-wide test session stays up: a second session's end-of-context
    // callback is driven directly
    val other = spark.newSession()
    Tables.load(other, Sf, "nation")
    streaming.RecordStream.kinesisFixture(other, Sf)
    Tables.load(spark, Sf, "nation")
    val kept = Derived.size(spark)
    assert(Derived.size(other) > 0)
    // the callback is registered on the shared context's listener bus
    val onEnd = Derived.contextEndListener(other)
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    val registered = bus.getClass
      .getMethod("findListenersByClass", classOf[scala.reflect.ClassTag[_]])
      .invoke(bus, scala.reflect.ClassTag(onEnd.getClass)).asInstanceOf[Seq[AnyRef]]
    assert(registered.exists(_ eq onEnd))
    onEnd.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis))
    assert(Derived.size(other) == 0)
    assert(Derived.size(spark) == kept, "another session's entries were dropped")
  }

  test("nested builders do not deadlock or throw Recursive update") {
    var builds = 0
    def leaf(): Int = Derived.get(spark, "spec.leaf", Nil) { builds += 1; 1 }
    def mid(): Int = Derived.get(spark, "spec.mid", Nil) { builds += 1; leaf() + 1 }
    def top(): Int = Derived.get(spark, "spec.top", Nil) { builds += 1; mid() + leaf() }
    assert(top() == 3)
    assert(top() == 3)
    assert(builds == 3, "each entry is built once")
    // a deep chain: a single map computing a builder in place would
    // re-enter a bin (or resize) it is still reserving
    def chain(i: Int): Int =
      if (i == 0) 0 else Derived.get(spark, "spec.chain", Nil, i)(chain(i - 1) + 1)
    assert(chain(200) == 200)
  }

  test("a builder that throws leaves its entry unbuilt for a retry") {
    var attempts = 0
    def flaky(): String = Derived.get(spark, "spec.flaky", Nil) {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](flaky())
    assert(flaky() == "built")
    assert(flaky() == "built" && attempts == 2)
  }

  /** The lines of `src/main` (file, trimmed line) that may build a map or
    * identity key outside the registry, with the reason each is not a
    * fixture- or session-keyed memo.
    */
  private val MemoAllowlist: Map[(String, String), String] = Map(
    ("graft/functions/HyperplaneFunctions.scala",
      "new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()") ->
      "HyperplaneOps.cache: a pure function of (planes, dims), no fixture or session")

  test("no memo map or identity key grows back outside Derived") {
    SourceSweep.guard(
      """new\s+(java\.util\.concurrent\.)?ConcurrentHashMap|System\.identityHashCode""".r,
      "graft/Derived.scala", MemoAllowlist)
  }
}
