package graft

import java.nio.file.{Files, Path}

/** Shared scratch-directory helper for query builders that need a local
  * round-trip target (CSV/JSON/ORC re-writes, streaming checkpoints,
  * foreachBatch merge targets). Every directory handed out is registered
  * with ONE JVM shutdown hook that removes it recursively, so repeated
  * sweeps in long-lived sessions don't accumulate checkpoint/state litter
  * on disk. Deletion is deferred to JVM exit (not a per-query finally)
  * because the returned DataFrames read the directories lazily — the
  * driver materializes them after the builder returns.
  */
object Scratch {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      created.forEach(p => deleteRecursively(p))
    }, "graft-scratch-sweeper"))
    true
  }

  /** A fresh temp directory, registered for recursive deletion at exit. */
  def dir(prefix: String): String = {
    require(hookInstalled)
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p.toString
  }

  /** Removes `root` and everything under it, if it exists; best effort. */
  def deleteRecursively(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
        finally walk.close()
      }
    } catch { case _: Throwable => () }
}
