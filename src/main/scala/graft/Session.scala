package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one local session posture. `Bench`, `Verify`, the dev tools and
  * the test suites build on it, so the plans Verify checks are the plans
  * Bench times. */
object Session {

  /** `local[cpus]` with one shuffle partition per core, the join posture,
    * UTC, the UI off, a capped status store and the fork-free `file:`
    * filesystem ([[graft.sources.LocalFs]]). Callers add their own
    * settings and call `getOrCreate()`. */
  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // Join posture (guide §3.1/§9): let the planner pick shuffled-hash
      // over sort-merge when the per-partition build side fits, and let
      // AQE rewrite a planned sort-merge to shuffled-hash when every
      // post-shuffle build partition is under 128 MB (a per-TASK memory
      // bound, safe at any cluster size; AQE skew-split handles SHJ).
      // This trades the per-partition sorts away, the same win on a
      // cluster as on local. Measured at sf0.1 in fresh JVMs under
      // Bench's own method (cold JVM, warm-up, median-of-3, arms
      // interleaved): net-neutral overall (geomean 0.99-1.02 over three
      // rounds), small consistent wins on dd_cluster, sim_drift,
      // ds_snapshot_diff and sim_semdedup. A same-JVM interleaved A/B had
      // claimed 0.72-0.84x on six sort-merge queries; that did not
      // reproduce (q29: 0.92/1.12/1.09).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Status-store caps. With the UI off the store still keeps every
      // finished job, stage, task and SQL execution up to these counts
      // (defaults 1000/1000/100000 per stage/1000), ~180 KB of live heap
      // per streaming micro-batch. `statusTracker.getJobIdsForGroup`
      // reads the store, and a cleanup drops the oldest tenth once a cap
      // is passed, so the job cap sits well above the most jobs one query
      // has been measured to launch (115, the CC loop at sf1): the jobs
      // of the query that just ran are all still there. Stages and SQL
      // executions scale with it. The task cap only trims each stage's
      // per-task list, which no engine code reads.
      .config("spark.ui.retainedJobs", RetainedJobs.toLong)
      .config("spark.ui.retainedStages", 2L * RetainedJobs)
      .config("spark.ui.retainedTasks", 1000L)
      .config("spark.sql.ui.retainedExecutions", RetainedJobs.toLong)
      .config(localFs)

  /** The status store's job cap in [[local]]. */
  val RetainedJobs = 250

  /** The `spark.hadoop.*` pairs that select [[graft.sources.LocalFs]].
    * build.sbt passes the same pairs as `-D` flags to every JVM it forks,
    * so a session or Hadoop configuration built without this posture
    * (perfbench's, `SparkHadoopUtil`'s) gets them too: Hadoop caches one
    * `FileSystem` per scheme and user, and whichever is created first
    * serves the whole JVM. */
  val localFs: Map[String, String] =
    graft.sources.LocalFs.hadoopConf.map { case (k, v) => s"spark.hadoop.$k" -> v }

  /** Run `body` with the jobs it launches described as `label`, then put
    * back whatever description the calling thread had (none included),
    * on return and on a throw. Multi-job operators label their jobs this
    * way so a caller's own label survives the call. */
  def withJobLabel[A](sc: SparkContext, label: String)(body: => A): A = {
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  /** The local property `setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}
