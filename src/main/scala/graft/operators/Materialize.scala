package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** The one module that reuses or releases a frame. Two entry points, one
  * rule:
  *
  *  - [[gated]] for a frame that a LAZILY RETURNED plan reads again. The
  *    frame is computed now and its lineage cut, so every consumer scans
  *    the same rows whenever the caller runs the plan, and nothing is left
  *    for anyone to release: checkpoint blocks go with the frame (the
  *    ContextCleaner), scratch parquet at JVM exit ([[graft.Scratch]]).
  *    The lineage cut is also what an iterative loop's per-round frame
  *    needs: a cached frame keeps its whole lineage in every later plan.
  *  - [[scoped]] for a frame read only by ACTIONS that run before the
  *    builder returns (`count`, `collect`, `write`). `m(df)` caches it,
  *    `m.release(df)` frees it early (convergence loops), and every frame
  *    cached through `m` is released when the block returns or throws.
  *
  * The rule exists because a cache outlives the code that made it: one
  * read by a returned lazy plan can never be released by its builder (it
  * leaks across a sweep), and one released before that plan runs is
  * silently recomputed per consumer.
  *
  * [[gated]] picks its representation by the SOURCE relation's size (pass
  * the base table the frame derives from), not the derived frame's own
  * estimate, which the size-only estimator can put arbitrarily far from
  * reality. Below `graft.materialize.localMaxInputBytes` (256 MB, which
  * keeps every fixture scale here) the frame is a `localCheckpoint()`:
  * pinned executor blocks, no round-trip. Above it the frame is written
  * once to scratch parquet and re-read, since pinning a corpus-sized frame
  * in executor storage either OOMs or evicts the execution memory the
  * consumers' joins need.
  */
object Materialize {
  private[graft] def localMaxInputBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("graft.materialize.localMaxInputBytes")
      .map(_.toLong).getOrElse(256L << 20)

  /** `df`'s optimizer-estimated size in bytes. Fails closed: a plan whose
    * stats cannot be computed reads as large, so every size gate built on
    * it takes its scale-safe branch.
    */
  def inputBytes(df: DataFrame): BigInt =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes
    catch { case NonFatal(_) => BigInt(Long.MaxValue) }

  /** Materialize `frame` for the consumers of a lazily returned plan,
    * gated on the bytes of `input`: `localCheckpoint()` below the gate,
    * one scratch-parquet round-trip above it.
    */
  def gated(input: DataFrame, frame: DataFrame, tag: String): DataFrame =
    if (inputBytes(input) <= localMaxInputBytes(frame)) frame.localCheckpoint()
    else toScratch(frame, tag)

  /** Writes `frame` once to a fresh scratch directory and reads it back. */
  private[operators] def toScratch(frame: DataFrame, tag: String): DataFrame = {
    val p = graft.Scratch.dir(s"graft-mat-$tag")
    frame.write.mode("overwrite").parquet(p)
    frame.sparkSession.read.parquet(p)
  }

  /** Frames cached for the actions of one [[scoped]] block. */
  final class Scope private[Materialize] {
    private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

    /** Caches `df` until the block ends or [[release]] frees it. */
    def apply(df: DataFrame): DataFrame = {
      held += df
      df.cache()
    }

    /** Frees `df` now, e.g. the iterate a convergence loop superseded. */
    def release(df: DataFrame): Unit = {
      held -= df
      df.unpersist()
    }

    private[Materialize] def releaseAll(): Unit = {
      held.foreach(_.unpersist())
      held.clear()
    }
  }

  /** Runs `body` with a [[Scope]]; every frame it cached is released when
    * `body` returns or throws. A frame cached here must not be read by a
    * plan that `body` returns lazily: use [[gated]] for that.
    */
  def scoped[T](body: Scope => T): T = {
    val m = new Scope
    try body(m) finally m.releaseAll()
  }
}
