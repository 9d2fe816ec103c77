package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Frees the storage blocks behind DEAD eager localCheckpoints (r15
  * optimization, guide §5 "memory is a shared resource" — the backlog
  * item behind the measured cross-key block pressure: a
  * localCheckpoint pins MEMORY_AND_DISK blocks for the REST OF THE
  * SESSION, and iterative keys supersede each round's checkpoint with
  * the next round's, leaving the interior rounds' blocks unreachable
  * but resident. Quantified in OPTIMIZATION_r15.md: a byte-identical
  * control key ran +0.4–0.5 s when scheduled after three
  * checkpoint-heavy keys; at the 8 GiB bench heap the whole board
  * accumulates hundreds of dead blocks).
  *
  * `DataFrame.unpersist()` cannot do this — it only drops cache-manager
  * entries, and a localCheckpoint never enters the cache manager. The
  * blocks belong to the checkpointed RDD inside the frame's LogicalRDD
  * leaf, so the free must reach THAT rdd — the `unpersistPrev`
  * discipline of Clustering.components, generalized to Dataset-level
  * checkpoints.
  *
  * SAFETY CONTRACT (why this is a named helper, not an inline
  * `.rdd.unpersist()`): an unpersisted local checkpoint CANNOT be
  * recomputed — any later task reading it throws "Checkpoint block not
  * found". Call sites may only free a frame that is (a) an EAGER
  * localCheckpoint (already materialized), and (b) no longer referenced
  * by ANY plan that has yet to execute — in particular never by the
  * key's RETURNED frame, which Bench/Verify act on after construction.
  * Misuse fails LOUDLY at the action (a thrown SparkException, caught
  * by Verify and the suites), never as a silent wrong result.
  *
  * Only the plan ROOT is matched: free() on a frame *derived from* a
  * checkpoint is a deliberate no-op (matching interior LogicalRDD
  * leaves would free live checkpoints the derived plan still needs) —
  * which also makes the round-1 "free the superseded frame" call safe
  * when the initial frame of a loop is lazy.
  */
object Ckpt {
  /** Release the checkpoint blocks under each frame (non-blocking). */
  def free(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _             => () // not a checkpoint root — nothing to free
    }
  }

  /** Release the checkpoint blocks under EVERY LogicalRDD leaf of the
    * frame — for call sites that can prove the entire leaf set is dead
    * (e.g. a projection over exactly one superseded checkpoint, where
    * the root-matching `free` would no-op). Stricter burden of proof
    * than `free`: any live checkpoint among the leaves crashes its
    * next reader. */
  def freeLeaves(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
  }
}
