package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.status.JobDataWrapper

/** Test access to the driver's listener bus and status store, which
  * Spark keeps package-private. */
object StatusStore {

  /** Return once every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Jobs the status store holds now. */
  def retainedJobs(sc: SparkContext): Long =
    sc.statusStore.store.count(classOf[JobDataWrapper])
}
