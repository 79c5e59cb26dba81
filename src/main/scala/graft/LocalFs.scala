package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without child processes.
  *
  * Without the native-hadoop library, `RawLocalFileSystem` runs an external
  * `chmod` for every file or directory it creates and a `readlink` for
  * every link-status lookup (each `FileContext` rename asks for two). The
  * streaming checkpoint (offset and commit logs, state-store deltas and
  * their checksums) and the file sink write and rename several files per
  * micro-batch, so those spawns were most of a micro-batch's cost. These
  * bindings do both in the JVM through `java.nio`; everything else,
  * including the `.crc` sidecars, is Hadoop's own, and renames behave as
  * under the binding they replace. [[Graft.session]] registers them for
  * the `file` scheme.
  */
object LocalFs {
  class Raw extends RawLocalFileSystem {
    /** `chmod` through NIO; the sticky bit, which NIO cannot set, still
      * goes through Hadoop's own path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        val modes = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission lists owner r/w/x .. others r/w/x: mode bits 8 .. 0
        PosixFilePermission.values.zipWithIndex.foreach { case (m, i) =>
          if ((bits & (0x100 >> i)) != 0) modes.add(m)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, modes)
        catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
      }

    /** A regular file or directory is its own link status; only a real
      * symlink asks Hadoop (and so `readlink`) for the target.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `FileSystem` API binding (`fs.file.impl`): checksummed, like Hadoop's.
    * A rename onto an existing file fails, as in HDFS and in Hive's
    * `ProxyLocalFileSystem`, which Hadoop's service loader picks for
    * `file:` on this classpath when no impl is configured.
    */
  class FileSystem extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
  }

  /** `FileContext` API binding (`fs.AbstractFileSystem.file.impl`), the one
    * Spark's checkpoint file manager uses: Hadoop's `LocalFs` over [[Raw]].
    */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  private class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    // the two overrides of Hadoop's RawLocalFs
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Session confs that bind both APIs for the `file` scheme. */
  val confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName)

  /** Hadoop caches `FileSystem` instances by scheme, authority and user,
    * not by impl class, so a `file:` instance made before the session
    * (from a plain `Configuration`) would keep serving it. Closing that
    * instance drops it from the cache and runs its delete-on-exit list; a
    * local filesystem holds nothing else, so its other holders keep working.
    */
  def evictStale(conf: Configuration): Unit = {
    val cached = org.apache.hadoop.fs.FileSystem.get(URI.create("file:///"), conf)
    if (!cached.isInstanceOf[FileSystem]) cached.close()
  }
}
