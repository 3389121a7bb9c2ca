package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage barriers for multi-read and fixpoint frames.
  *
  * Spark expression trees are not DAG-shared, and lineage grows per
  * iteration, so operators that read one frame many times (inverted
  * posting lists, label-propagation rounds, funnel stage chains)
  * materialize it once behind a checkpoint. [[cut]] picks the strongest
  * barrier the session offers:
  *
  *  - a checkpoint directory is set (`sc.setCheckpointDir`) → reliable
  *    `checkpoint()`: blocks land in the executor-independent checkpoint
  *    store, so on a real cluster a lost executor mid-job recomputes
  *    nothing — the durability a multi-hour 100 TB dedup needs (with
  *    `localCheckpoint` the truncated lineage cannot rebuild that
  *    executor's blocks and the job dies);
  *  - otherwise `localCheckpoint()`: executor-local blocks, no shared-
  *    store I/O — the fast path for local / interactive sessions.
  *
  * Both modes are EAGER — the frame materializes at the call — and
  * result-identical (DedupSpec pins equality of the two modes on the
  * clustering fixpoint).
  *
  * Reliable mode materializes ONCE, not twice: `checkpoint(eager)` runs
  * the eager count job and THEN a separate job writing the checkpoint
  * files, and that second job recomputes from lineage unless the blocks
  * are cached (localCheckpoint saves its blocks during the first pass;
  * reliable checkpoint does not) — so [[cut]] persists the frame before
  * checkpointing and unpersists after, keeping the "source scanned
  * exactly once per barrier" invariant the EventsSpec/PlanSpec
  * accumulator tests pin for the local path.
  *
  * Storage-reclaim caveat for reliable mode: Spark's ContextCleaner
  * deletes out-of-scope reliable checkpoint files ONLY when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  * false — the conf is read at SparkContext creation). Long-running
  * fixpoints write checkpoints per round ([[Graph]]'s PageRank one,
  * [[Dedup.nearDupClusters]] two once its edge list is over the driver
  * budget), so set that conf (or point the checkpoint dir at storage
  * you clear between runs) on multi-hour production sessions;
  * otherwise checkpoint storage grows with iteration count until the
  * app exits.
  */
object Barrier {

  /** Materialize `df` and cut its lineage (see object doc for the
    * reliable-vs-local mode choice and reliable-mode caveats). */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // persist first: the checkpoint WRITE job then reads the cached
      // blocks computed by the eager count instead of recomputing the
      // whole lineage a second time; once the checkpoint exists the
      // returned frame reads the checkpoint store, so the cache can go
      // asynchronously
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint(eager = true)
      finally df.unpersist(blocking = false)
    } else df.localCheckpoint(eager = true)
}
