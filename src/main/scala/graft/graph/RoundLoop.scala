package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-loop plumbing shared by the iterative operators — [[Graph]]'s
  * power iteration and label propagation, and
  * [[graft.dedup.Dedup.connectedComponents]]: the per-round checkpoint
  * and release, and the loop width.
  *
  * Checkpoints truncate lineage: each round's plan references the
  * previous round's frame, so without them the logical plan grows with
  * the round count. A session with a checkpoint dir gets RELIABLE
  * (eager) checkpoints, which survive executor loss; otherwise rounds
  * are local checkpoints, eager or lazy per caller. A lazy local
  * checkpoint is persist-backed and materializes inside the caller's
  * next job instead of costing a job of its own. Superseded rounds are
  * released explicitly (unpersist, plus the reliable checkpoint files)
  * — left to GC and the ContextCleaner, O(rounds) full copies would sit
  * in executor storage or the checkpoint store mid-algorithm.
  */
private[graft] final class RoundLoop private (spark: SparkSession, eagerLocal: Boolean) {
  private val sc = spark.sparkContext
  private val reliable = sc.getCheckpointDir.isDefined
  private var kept: Option[DataFrame] = None

  def checkpoint(df: DataFrame): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint(eagerLocal)

  /** Drops a frame returned by [[checkpoint]]: its blocks, and its
    * files when reliable. Call only once nothing still to run reads it.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { r =>
      r.unpersist(blocking = false)
      if (reliable) r.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
    }

  /** Round `i` (1-based) of a fixed-length loop whose last round is
    * `last`: `next` is checkpointed every `ckptEvery` rounds and at the
    * last, and the round checkpointed before it is released. Rounds in
    * between stay lazy, so up to `ckptEvery` rounds run as one job. The
    * release needs `next` materialized: use it with eager checkpoints.
    */
  def round(i: Int, last: Boolean, ckptEvery: Int, next: DataFrame): DataFrame =
    if (i % ckptEvery == 0 || last) {
      val materialized = checkpoint(next)
      kept.foreach(release)
      kept = Some(materialized)
      materialized
    } else next
}

private[graft] object RoundLoop {

  /** Runs `body` with a [[RoundLoop]] at a loop width proportional to
    * the measured edge volume: ~64k edges per shuffle partition, clamped
    * at the session's configured width. Each round is separated from the
    * next by a checkpoint, which defeats AQE's coalescing, so the width
    * must be chosen here: a 100 TB edge list keeps every reducer, while a
    * small graph stops paying (width × stages × rounds) task-scheduling
    * overhead (measured at sf0.1: the four g_* entries each run ~2x
    * faster with 1 loop partition than with 32). At one partition there
    * is nothing for AQE to adapt — no partitions to coalesce, no skew to
    * split — and its stage-by-stage re-planning only adds latency to
    * every round job, so it is off for the loop; any wider loop keeps
    * it. The session conf is restored in `finally`; callers return
    * checkpointed frames, so downstream consumers plan at the caller's
    * width.
    */
  def apply[A](spark: SparkSession, nEdges: Long, eagerLocal: Boolean)(body: RoundLoop => A): A = {
    val conf = spark.conf
    val confParts = conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.max(1L, math.min(confParts.toLong, nEdges / 65536L + 1L))
    val confAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    if (loopParts == 1L) conf.set("spark.sql.adaptive.enabled", "false")
    try body(new RoundLoop(spark, eagerLocal))
    finally {
      conf.set("spark.sql.shuffle.partitions", confParts)
      conf.set("spark.sql.adaptive.enabled", confAqe)
    }
  }
}
