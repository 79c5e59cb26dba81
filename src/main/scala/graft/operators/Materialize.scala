package graft.operators

import org.apache.spark.sql.DataFrame

/** Size-gated multi-consumer materialization (optimization r18) — the
  * [[SimilarityQueries.bm25MaterializeMinBytes]] pattern generalized for
  * every corpus/graph-scaled frame that feeds several consumer subtrees.
  *
  * `localCheckpoint()` pins non-replicated blocks on the executors'
  * block manager: the right call at bench scale (no round-trip, no disk),
  * and the wrong one for a corpus-sized frame at 100 TB, where pinning
  * the whole shingle/decode/mask frame in executor storage either OOMs
  * or evicts the execution memory the join needs (guide §5). Above the
  * gate the frame is written ONCE to scratch parquet and re-read — the
  * disk-resident intermediate every consumer then scans, which is the
  * only multi-consumer shape that survives corpus scale.
  *
  * The gate reads the SOURCE relation's optimizer stats (actual parquet
  * bytes — reliable and monotone in scale factor), not the derived
  * frame's post-explode/window estimate (which the size-only estimator
  * can put arbitrarily far from reality): every gated frame here is
  * O(input) with a bounded constant, so input bytes are the principled
  * proxy. Threshold overridable per session
  * (`graft.materialize.localMaxInputBytes`); the 256 MB default keeps
  * every fixture SF on the checkpoint path (bench plans unchanged) while
  * a cluster-scale input switches to the scratch-parquet path long
  * before executor storage is at risk.
  */
object Materialize {
  private[graft] def localMaxInputBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("graft.materialize.localMaxInputBytes")
      .map(_.toLong).getOrElse(256L << 20)

  /** Materialize `frame` for multi-consumer reuse, gated on `input`'s
    * estimated bytes (pass the base corpus relation the frame derives
    * from). Below the gate: `localCheckpoint()`. Above: one scratch-
    * parquet round-trip. Fails closed: an input whose stats cannot be
    * computed counts as above the gate.
    */
  def gated(input: DataFrame, frame: DataFrame, tag: String): DataFrame = {
    val belowGate =
      try input.queryExecution.optimizedPlan.stats.sizeInBytes <=
        BigInt(localMaxInputBytes(frame))
      catch { case _: Throwable => false }
    if (belowGate) frame.localCheckpoint()
    else {
      val p = graft.Scratch.dir(s"graft-mat-$tag")
      frame.write.mode("overwrite").parquet(p)
      frame.sparkSession.read.parquet(p)
    }
  }
}
