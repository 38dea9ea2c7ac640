package graft

import org.apache.spark.graft.StatusStore

/** `Session.local` caps Spark's status store: it keeps at most
  * `Session.RetainedJobs` jobs however many run, and still keeps every job
  * of a query-sized group that just ran, which is what
  * `statusTracker.getJobIdsForGroup` callers read. */
class StatusStoreCapSpec extends SparkSpec {

  test("the status store stays under its job cap and keeps the last group's jobs") {
    val sc = spark.sparkContext
    assert(sc.getConf.get("spark.ui.retainedJobs") == Session.RetainedJobs.toString)
    val many = Session.RetainedJobs + 50
    val (_, bulk) = withJobs((0 until many).foreach(_ => sc.parallelize(Seq(1), 1).count()))
    assert(bulk.length <= Session.RetainedJobs, s"${bulk.length} jobs of the bulk group retained")
    assert(StatusStore.retainedJobs(sc) <= Session.RetainedJobs,
      s"${StatusStore.retainedJobs(sc)} jobs retained")
    // the largest single query on record launched 115 jobs
    val (_, query) = withJobs((0 until 115).foreach(_ => sc.parallelize(Seq(1), 1).count()))
    assert(query.length == 115, s"${query.length} of 115 jobs retained")
  }
}
