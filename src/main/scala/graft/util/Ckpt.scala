package graft.util

import org.apache.spark.rdd.RDD
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
  * [[RddCkptOps.ckptLazy]] is for an RDD whose first reader is a single
  * stage: that stage materializes it, with no job of its own. */
object Ckpt {
  implicit final class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckptSer(): Dataset[T] =
      ds.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

    /** Drops the blocks of a dataset `ckptSer` or `ckptLazy` returned
      * (`unpersist` does not reach them); a no-op on any other dataset. */
    def releaseCkpt(): Unit = ds.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  implicit final class RddCkptOps[T](private val rdd: RDD[T]) extends AnyVal {
    /** A lazy local checkpoint of an RDD of ONE element per partition (a
      * primitive block, say), kept deserialized at MEMORY_AND_DISK: the
      * unroll overshoot above needs many values per partition, and one
      * value is already on the heap when the store sizes it. Materialized
      * by the first job that reads it; only for an RDD exactly one stage
      * reads until then. Dropped with `unpersist`. */
    def ckptLazy(): RDD[T] = rdd.localCheckpoint()
  }
}
