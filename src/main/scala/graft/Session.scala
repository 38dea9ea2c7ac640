package graft

import org.apache.spark.sql.SparkSession

/** The one local session posture. `Bench`, `Verify`, the dev tools and
  * the test suites build on it, so the plans Verify checks are the plans
  * Bench times. */
object Session {

  /** `local[cpus]` with one shuffle partition per core, the join posture,
    * UTC, the UI off and the fork-free `file:` filesystem
    * ([[graft.sources.LocalFs]]). Callers add their own settings and call
    * `getOrCreate()`. */
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
      .config(localFs)

  /** The `spark.hadoop.*` pairs that select [[graft.sources.LocalFs]].
    * build.sbt passes the same pairs as `-D` flags to every JVM it forks,
    * so a session or Hadoop configuration built without this posture
    * (perfbench's, `SparkHadoopUtil`'s) gets them too: Hadoop caches one
    * `FileSystem` per scheme and user, and whichever is created first
    * serves the whole JVM. */
  val localFs: Map[String, String] =
    graft.sources.LocalFs.hadoopConf.map { case (k, v) => s"spark.hadoop.$k" -> v }
}
