package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** How the engine computes a frame once. Three entry points:
  *
  *   - [[shared]]: a subplan that several consumers read. One leaf
  *     over persisted rows; the lineage stays, so nothing truncates.
  *     The default for every reuse.
  *   - [[truncateLazy]]: a round of an iterative loop whose lineage
  *     grows each round ([[Graph.pageRank]], [[Dedup]]'s fixpoints),
  *     when the round already has one action to ride.
  *   - [[truncate]]: the eager twin, for a loop round with no action of
  *     its own ([[Bpe.train]]), a loop's final frame before its inputs
  *     are unpersisted, and a frame that must not recompute at all.
  *
  * Rule: use [[shared]] unless the lineage grows per round or a
  * recompute would read different inputs; then truncate, and say why
  * at the call site.
  */
object Checkpointing {

  /** `df` computed once and read by every consumer: one leaf (the
    * `LogicalRDD` `Dataset.checkpoint` builds, so partitioning,
    * ordering, stats and constraints carry over) over a copy of `df`'s
    * rows persisted at `MEMORY_AND_DISK`. Lazy: the first action fills
    * the blocks, and concurrent stages share them through block locks.
    * Nothing truncates — a lost or evicted block recomputes from the
    * lineage, and the lineage keeps the plan's SQL metrics reachable
    * for every task that still reports them. `ContextCleaner` frees
    * the blocks when the frame becomes unreachable.
    *
    * Recomputing is exact at every caller: each reads its inputs at a
    * pinned `MergeTable` version or is a pure derive of them. */
  def shared(df: DataFrame): DataFrame =
    // toRdd reuses row objects; the copy is what the blocks keep
    Bridge.fromDataset(
      df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK),
      df)

  /** Eager lineage truncation: the logical plan becomes one leaf over
    * stored blocks, computed now, so callers can unpersist its inputs
    * right after. Without it an iterative trainer's analyzed tree grows
    * multiplicatively and OOMs the driver by ~16 rounds.
    *
    *   - `None`: local checkpoint — blocks live on executor local
    *     storage. An executor loss discards them and fails the job (the
    *     lineage needed to recompute them is gone).
    *   - `Some(dir)`: reliable checkpoint against `dir` (HDFS/object
    *     store on a real cluster) — survives executor loss, costs one
    *     extra write+read of the round's state. At 100 TB / 1000
    *     executors, losing one executor mid-iteration-30 must not
    *     restart the whole chain: pass a durable dir there.
    *
    * Values are bit-identical between modes (`CheckpointModeSpec`). */
  def truncate(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) => useDir(df, dir); df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }

  /** LAZY twin of [[truncate]]: the plan is cut to one leaf now (the
    * same driver-OOM protection), but the blocks are written by
    * whatever action first touches the frame. Use inside a loop whose
    * round already has exactly one action (a convergence check, a
    * scalar collect): the checkpoint rides that job instead of
    * scheduling its own — sequential-round wall is
    * job-submission-bound, not task-bound. Callers must materialize
    * the final frame before unpersisting inputs it still references. */
  def truncateLazy(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) => useDir(df, dir); df.checkpoint(eager = false)
      case None => df.localCheckpoint(eager = false)
    }

  /** Point `df`'s context at `dir`. `setCheckpointDir(dir)` makes and
    * stores a fresh `dir/<uuid>` on every call, so it is called only
    * when the current directory's parent is not `dir` already. */
  private def useDir(df: DataFrame, dir: String): Unit = {
    val sc = df.sparkSession.sparkContext
    val want = new Path(dir)
    val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
    if (!sc.getCheckpointDir.exists(cur => new Path(cur).getParent == qualified))
      sc.setCheckpointDir(dir)
  }
}
