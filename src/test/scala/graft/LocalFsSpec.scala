package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.RecordStream
import scala.jdk.CollectionConverters._

/** The process-free `file:` binding ([[LocalFs]]): same modes and link
  * status as Hadoop's own local filesystem, no child process, served to
  * both Hadoop APIs by [[Graft.session]], and a checkpointed stream that
  * lays out and resumes its checkpoint exactly as under the default binding.
  * The local session's Hadoop configuration holds none of Hadoop's bundled
  * defaults beyond the scheme bindings, before and after a stream and a
  * batch write, and the checkpoint and sink come out as with the defaults.
  */
class LocalFsSpec extends SparkSuite {

  private def fresh[F <: org.apache.hadoop.fs.FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val ours = fresh(new LocalFs.Raw)
  private lazy val hadoop = fresh(new RawLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Processes started in this pid namespace since boot (the last pid). */
  private def lastPid(): Long =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").last.toLong

  test("setPermission sets the same mode bits as Hadoop's local filesystem") {
    val dir = Files.createTempDirectory("graft_localfs_")
    for (octal <- Seq("644", "600", "755", "700")) {
      val perm = new FsPermission(octal)
      val (a, b) = (dir.resolve(s"ours_$octal"), dir.resolve(s"hadoop_$octal"))
      Files.write(a, Array[Byte](1)); Files.write(b, Array[Byte](1))
      ours.setPermission(new Path(a.toString), perm)
      hadoop.setPermission(new Path(b.toString), perm)
      assert(mode(a) == Integer.parseInt(octal, 8), octal)
      assert(mode(a) == mode(b), octal)
    }
    // the sticky bit is beyond NIO: it must take Hadoop's path and land
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    ours.setPermission(new Path(sticky.toString), new FsPermission("1777"))
    assert(mode(sticky) == Integer.parseInt("1777", 8))
    intercept[java.io.FileNotFoundException](
      ours.setPermission(new Path(dir.resolve("missing").toString), new FsPermission("644")))
  }

  test("getFileLinkStatus matches Hadoop's on a regular file and on a symlink") {
    val dir = Files.createTempDirectory("graft_localfs_")
    val file = Files.write(dir.resolve("f.txt"), "abc".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    for (p <- Seq(file, link, dir).map(x => new Path(x.toString))) {
      val (a, b) = (ours.getFileLinkStatus(p), hadoop.getFileLinkStatus(p))
      assert((a.getPath, a.isSymlink, a.isDirectory, a.getLen, a.getModificationTime) ==
        (b.getPath, b.isSymlink, b.isDirectory, b.getLen, b.getModificationTime), p)
      if (a.isSymlink) assert(a.getSymlink == b.getSymlink)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[java.io.FileNotFoundException](
      ours.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("chmod and link-status lookups start no process") {
    val dir = Files.createTempDirectory("graft_localfs_")
    val files = (0 until 50).map(i => Files.write(dir.resolve(s"f$i"), Array[Byte](1)))
    val before = lastPid()
    files.foreach { f =>
      val p = new Path(f.toString)
      ours.setPermission(p, new FsPermission("640"))
      ours.getFileLinkStatus(p)
    }
    // Hadoop's own binding starts 100 here (a chmod and a readlink per file);
    // the margin is for threads the JVM happens to start meanwhile
    assert(lastPid() - before < 25, s"${lastPid() - before} pids allocated")
  }

  test("Graft.session binds file: for both Hadoop APIs, over a stale FileSystem cache") {
    val root = URI.create("file:///")
    // evict whatever is cached, then let a plain Configuration cache Hadoop's own
    FileSystem.get(root, new Configuration()).close()
    assert(!FileSystem.get(root, new Configuration()).isInstanceOf[LocalFs.FileSystem])
    val conf = Graft.session("local[4]", "graft-test").sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).isInstanceOf[LocalFs.FileSystem])
    assert(new Path("file:///tmp").getFileSystem(conf).isInstanceOf[LocalFs.FileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
  }

  private val Bundled = Set("core-default.xml", "mapred-default.xml", "yarn-default.xml")
  private def bundledOnly(c: Configuration, k: String): Boolean =
    Option(c.getPropertySources(k)).exists(_.forall(Bundled))
  private def entries(c: Configuration): Map[String, String] =
    c.asScala.map(e => e.getKey -> e.getValue).toMap
  /** Every entry a default-loading configuration takes from the bundled files. */
  private lazy val BundledEntries: Map[String, String] = {
    val c = new JobConf()
    entries(c).filter { case (k, _) => bundledOnly(c, k) }
  }
  /** The bundled defaults a trimmed configuration keeps: the scheme
    * bindings and the output codec, whose compiled-in fallback differs.
    */
  private def keptDefault(k: String): Boolean =
    """fs\.(AbstractFileSystem\.)?[^.]+\.impl""".r.matches(k) ||
      k == "mapreduce.output.fileoutputformat.compress.codec"

  private def assertTrimmed(conf: Configuration): Unit = {
    val left = entries(conf).keySet.filter(bundledOnly(conf, _))
    assert(left.forall(keptDefault), s"bundled defaults left: ${left.filterNot(keptDefault).take(5)}")
    val missing = BundledEntries.keySet.filter(keptDefault).filter(conf.getRaw(_) == null)
    assert(missing.isEmpty, s"kept defaults dropped: $missing")
    assert(conf.size < 100, s"${conf.size} entries")
  }

  test("a local session's Hadoop configuration drops the bundled defaults and keeps every other entry") {
    assert(BundledEntries.size > 1000)
    val conf = Graft.session("local[4]", "graft-test").sessionState.newHadoopConf()
    assertTrimmed(conf)
    assertTrimmed(spark.sparkContext.hadoopConfiguration)
    // Whatever Spark, spark.hadoop.*, SQL confs and LocalFs set, replayed over the
    // full defaults: every resulting entry not only from the bundled files is
    // present with its value. `unset` also drops a key's deprecated aliases, so
    // this holds only if no dropped key is an alias of a kept one.
    val expected = new JobConf()
    val set = entries(conf) ++ spark.conf.getAll ++ spark.conf.getAll.collect {
      case (k, v) if k.startsWith("spark.hadoop.") => k.stripPrefix("spark.hadoop.") -> v
    }
    set.foreach { case (k, v) => expected.set(k, v) }
    val kept = entries(expected).filter { case (k, _) => !bundledOnly(expected, k) }
    val lost = kept.filter { case (k, v) => conf.getRaw(k) != v }
    assert(lost.isEmpty, s"lost or changed: ${lost.take(5)}")
    assert(kept.size > 20 && LocalFs.confs.forall { case (k, v) => conf.get(k.stripPrefix("spark.hadoop.")) == v })
  }

  /** The consumer shape: source → decode → dedup within a watermark →
    * checkpointed parquet sink with both channels.
    */
  private def consumer(cap: Long): DataFrame =
    RecordStream.decodePayload(RecordStream.kinesisSource(spark, Sf, cap))
      .withWatermark("arrivalTs", "1 minute")
      .dropDuplicatesWithinWatermark("partitionKey", "data")
      .select(when(col("decode_error").isNull, "good").otherwise("dead").as("channel"),
        col("shardId"), col("sequenceNumber"), col("partitionKey"), col("text"))

  private def drain(root: JPath, trigger: Trigger): Unit = {
    val q = consumer(100).writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .format("parquet").option("path", root.resolve("out").toString)
      .trigger(trigger).start()
    assert(q.awaitTermination(120000), "stream did not drain")
  }

  /** Checkpoint entries relative to `root`, with their mode bits. */
  private def layout(root: JPath): Map[String, Int] = {
    val ckpt = root.resolve("ckpt")
    val s = Files.walk(ckpt)
    try s.iterator().asScala.map(p => ckpt.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }
  /** What a session resolves `file:` to without [[LocalFs]] (uncached, so
    * this session's cached instance is not served instead).
    */
  private lazy val DefaultBinding = Seq(
    "fs.file.impl" -> FileSystem.getFileSystemClass("file", new Configuration()).getName,
    "fs.AbstractFileSystem.file.impl" -> new Configuration().get("fs.AbstractFileSystem.file.impl"),
    "fs.file.impl.disable.cache" -> "true")

  test("FileSystem rename keeps the default binding's contract") {
    val dir = Files.createTempDirectory("graft_localfs_")
    def renames(fs: FileSystem, tag: String): Seq[Boolean] = {
      val Seq(a, b, c) = Seq("a", "b", "c").map(n => new Path(dir.resolve(tag + n).toString))
      Seq(a, b).foreach(p => fs.create(p).close())
      // onto an existing file, then onto a free name
      val r = Seq(fs.rename(a, b), fs.rename(a, c))
      r ++ Seq(a, b, c).map(fs.exists)
    }
    val default = new Configuration()
    DefaultBinding.foreach { case (k, v) => default.set(k, v) }
    assert(renames(fresh(new LocalFs.FileSystem), "ours_") ==
      renames(FileSystem.get(URI.create("file:///"), default), "default_"))
  }

  /** Drain with `confs` set as session confs, which every `newHadoopConf()` carries. */
  private def drainWith(confs: Iterable[(String, String)], root: JPath): Unit = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try drain(root, Trigger.AvailableNow())
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a checkpointed consumer resumes exactly and lays out its checkpoint as under the default binding") {
    val stock = Files.createTempDirectory("graft_ckpt_hadoop_")
    drainWith(DefaultBinding, stock)
    // the bundled defaults back in place, under this session's binding
    val defaults = Files.createTempDirectory("graft_ckpt_defaults_")
    drainWith(BundledEntries.filter { case (k, _) => !keptDefault(k) }, defaults)

    val straight = Files.createTempDirectory("graft_ckpt_ours_")
    drain(straight, Trigger.AvailableNow())
    assertTrimmed(spark.sessionState.newHadoopConf())
    val got = layout(straight)
    for (want <- Seq(layout(stock), layout(defaults)))
      assert(got == want, s"differs: ${(got.toSet diff want.toSet).take(5)} vs ${(want.toSet diff got.toSet).take(5)}")
    assert(got.keys.exists(_.endsWith(".delta.crc")) && got.keys.exists(_.endsWith(".crc.crc")))

    // one rate-limited batch, stop, restart from the checkpoint
    val resumed = Files.createTempDirectory("graft_ckpt_resumed_")
    drain(resumed, Trigger.Once())
    val first = spark.read.parquet(resumed.resolve("out").toString).count()
    drain(resumed, Trigger.AvailableNow())
    def rows(root: JPath) =
      spark.read.parquet(root.resolve("out").toString).collect().map(_.toString).sorted.toSeq
    val all = rows(straight)
    assert(first > 0 && first < all.length, s"first batch $first of ${all.length}")
    assert(rows(resumed) == all)
    assert(rows(stock) == all)
    assert(rows(defaults) == all)

    spark.range(100).write.parquet(straight.resolve("batch").toString)
    assertTrimmed(spark.sessionState.newHadoopConf())
    assertTrimmed(spark.sparkContext.hadoopConfiguration)
  }
}
