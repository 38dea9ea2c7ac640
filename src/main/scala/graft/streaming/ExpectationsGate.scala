package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.operators.Expectations

/** Streaming data-contract gate — [[graft.operators.Expectations]] applied
  * per micro-batch from `foreachBatch`: audit the batch against the rules,
  * publish the per-rule report, and route the WHOLE batch to the main sink
  * only when every rule passes; a violated batch diverts to quarantine
  * (promote-or-hold is an all-or-nothing decision per batch — the same
  * batch-granularity discipline as [[GuardedBatchSink]], so executors stay
  * fully parallel and nothing is decided per record).
  *
  * The audit is one conditional-aggregation pass for all row-local rules
  * (plus a key groupBy per Unique rule). The batch commits through
  * [[BatchCommit]]: it is persisted once, the audit runs on the
  * uncompacted batch, so the upstream materializes in all of its
  * partitions (coalescing first would fold them into fewer, serial
  * tasks), and the routed writer then receives the batch coalesced to the
  * session's `spark.sql.shuffle.partitions`. Coalescing only regroups
  * cached partitions, so the routed writer gets the same rows and the
  * audit the same counts as without it, in fewer write tasks. The report sink
  * receives (report + batch_id) every batch, pass or fail — at 100 TB the
  * report stream IS the data-quality time series the pipeline alarms on. */
final class ExpectationsGate(
    rules: Seq[Expectations.Rule],
    writeMain: (DataFrame, Long) => Unit,
    writeQuarantine: (DataFrame, Long) => Unit,
    writeReport: (DataFrame, Long) => Unit = (_, _) => (),
) extends ((DataFrame, Long) => Unit) with Serializable {

  // fail misconfiguration at CONSTRUCTION (deploy time), not on the first
  // micro-batch, where the same errors would kill the running query
  require(rules.nonEmpty, "no rules")
  require(rules.map(_.id).distinct.size == rules.size, "duplicate rule ids")

  override def apply(batch: DataFrame, batchId: Long): Unit = {
    // the report is rule-count-sized: collect once, reuse for the routing
    // decision AND the report sink (auditing twice would run the rule
    // scan twice)
    BatchCommit(batch) { b =>
      val report = Expectations.audit(b, rules).withColumn("batch_id", lit(batchId))
      (report.collect(), report.schema)
    } { case ((rows, schema), compact) =>
      writeReport(batch.sparkSession.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema), batchId)
      if (rows.forall(_.getAs[Boolean]("pass"))) writeMain(compact(batch), batchId)
      else writeQuarantine(compact(batch), batchId)
    }
  }
}
