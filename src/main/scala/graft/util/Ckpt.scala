package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Eager `localCheckpoint` at MEMORY_AND_DISK_SER — the storage level
  * every data-sized checkpoint in this library uses (r14).
  *
  * Why not the default (MEMORY_AND_DISK, DESERIALIZED): deserialized
  * unrolls cache partitions as JVM object values through
  * `MemoryStore.putIteratorAsValues`, whose sampling-based unroll
  * accounting can overshoot between checks — with many concurrent
  * tasks unrolling dense partitions the executor heap dies with an
  * OutOfMemoryError before the store can fall back to disk. That is
  * not hypothetical: the r14 sf3 scale rehearsal (30× the bench-gate
  * data, 32 tasks, 8 GiB heap) killed the JVM exactly there inside
  * pageRank's per-iteration checkpoint. Serialized storage unrolls
  * through `putIteratorAsBytes` with incremental accounting and a
  * graceful disk fallback, and its compact UnsafeRow bytes make the
  * same blocks several times smaller — at 1000-executor scale the
  * difference is a dead executor vs a spill.
  *
  * Eagerness: eager by default — a LAZY localCheckpoint materialized
  * concurrently by two consumers can deadlock inside Spark's
  * checkpoint locking (the r13 ABBA deadlock, Dedup posture note).
  * [[CkptOps.ckptLazy]] is for a dataset whose first reader is a single
  * stage: that stage materializes it, with no job of its own. */
object Ckpt {
  implicit final class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckptSer(): Dataset[T] =
      ds.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

    /** `ckptSer` materialized by the first job that reads it. Only for a
      * dataset exactly one stage reads until then. */
    def ckptLazy(): Dataset[T] =
      ds.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)

    /** Drops the blocks of a dataset `ckptSer` or `ckptLazy` returned
      * (`unpersist` does not reach them); a no-op on any other dataset. */
    def releaseCkpt(): Unit = ds.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
