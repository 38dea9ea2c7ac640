package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.reliability.{Blackout, CircuitBreaker, TokenBucket}

/** foreachBatch sink guard combining the reference's flow-control stack
  * (SURVEY §2.5): circuit breaker (F5), blackout diversion (F2), backup
  * sink (F3), DLQ/ground-wire error diversion (T4 sink side,
  * `/root/reference/pkg/internal/wire/routing.go:27-47`).
  *
  * Decisions are made once per micro-batch on the driver — never per record
  * — so the executors stay fully parallel. The batch commits through
  * [[BatchCommit]]: it is persisted once, the error count that feeds the
  * breaker runs on the uncompacted batch, so the upstream materializes in
  * all of its partitions (coalescing first would fold them into fewer,
  * serial tasks), and the main and error writers then receive their halves
  * coalesced to the session's `spark.sql.shuffle.partitions`. Coalescing
  * only regroups cached partitions, so each writer gets the same rows and
  * the breaker the same count as without it, in fewer write tasks. A
  * diverted batch goes to its writer as it arrived, unmaterialized.
  */
final class GuardedBatchSink[T](
    breaker: CircuitBreaker,
    blackout: Option[Blackout],
    writeMain: (Dataset[T], Long) => Unit,
    writeError: (Dataset[T], Long) => Unit,
    writeBackup: Option[(Dataset[T], Long) => Unit],
    isError: T => Boolean,
) extends ((Dataset[T], Long) => Unit) with Serializable {

  override def apply(batch: Dataset[T], batchId: Long): Unit = {
    val diverted = blackout.exists(_.active) || breaker.isOpen
    if (diverted) {
      // tripped/blacked-out: divert the whole batch to the backup sink if
      // configured (surge-protector backup submit, surgeprotector/submit.go:16-32),
      // else to the error sink (ground-wire drop, wire/submit.go:54-77)
      writeBackup.getOrElse(writeError)(batch, batchId)
      return
    }
    // a local predicate: `isError(_)` would capture this sink, shipping
    // the breaker and every writer to each filter task
    val err = isError
    BatchCommit(batch)(_.filter(err).count()) { (nErr, compact) =>
      if (nErr > 0) breaker.recordErrors(nErr)
      writeMain(compact(batch.filter((t: T) => !err(t))), batchId)
      if (nErr > 0) writeError(compact(batch.filter(err)), batchId)
    }
  }
}

object GuardedBatchSink {
  def apply[T](breaker: CircuitBreaker,
               writeMain: (Dataset[T], Long) => Unit,
               writeError: (Dataset[T], Long) => Unit,
               isError: T => Boolean,
               blackout: Option[Blackout] = None,
               writeBackup: Option[(Dataset[T], Long) => Unit] = None): GuardedBatchSink[T] =
    new GuardedBatchSink(breaker, blackout, writeMain, writeError, writeBackup, isError)
}
