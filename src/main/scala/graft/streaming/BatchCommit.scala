package graft.streaming

import org.apache.spark.sql.Dataset

/** The one place a `foreachBatch` guard materializes its micro-batch:
  * persist once, decide on the batch as it arrived, then hand the writers
  * compact views of the cached rows. [[GuardedBatchSink]] and
  * [[ExpectationsGate]] both commit through it.
  *
  * Order matters, in both directions:
  *  - The deciding actions (the error count, the expectations audit) run
  *    on the UNCOMPACTED batch. The first of them materializes the cache
  *    at the batch's own partitioning, so the upstream (e.g. the
  *    state-store partitions of a dedupe, each with an I/O-bound commit)
  *    keeps all its tasks. Coalescing first would fold those partitions
  *    into fewer, serial tasks.
  *  - The writes then read the cache through `coalesce(n)`, `n` being the
  *    batch session's `spark.sql.shuffle.partitions`. A micro-batch
  *    arrives with one partition per upstream split, most of them small or
  *    empty at micro-batch sizes, and each write task pays a fixed
  *    deserialization cost (the Hadoop configuration of the file writer)
  *    that outweighs its rows. The stage-output parallelism the session
  *    already chose is the bound.
  *
  * Value identity: `coalesce` without a shuffle only regroups cached
  * partitions, and never raises their count. Each writer receives the same
  * multiset of rows as the uncompacted view and every decision sees the
  * same counts; only the number of write tasks and output files changes.
  */
private[streaming] object BatchCommit {

  /** Persist `batch`, run `decide` on it, then `write` with that decision
    * and a compactor for views of `batch`; unpersist on every exit. */
  def apply[T, D](batch: Dataset[T])(decide: Dataset[T] => D)(
      write: (D, Dataset[T] => Dataset[T]) => Unit): Unit = {
    batch.persist()
    try {
      val decision = decide(batch)
      val n = batch.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      write(decision, _.coalesce(n))
    } finally batch.unpersist()
  }
}
