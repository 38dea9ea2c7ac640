package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4)
      .appName("graft-test")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = SparkSpec.sfDir

  /** Run `body` in a fresh job group; returns its result and the ids of
    * the Spark jobs it launched, read from the status store once every
    * listener has caught up. */
  protected def withJobs[A](body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "count jobs", interruptOnCancel = false)
    val r = try body finally sc.clearJobGroup()
    org.apache.spark.graft.StatusStore.drain(sc)
    (r, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }

  /** Poll `cond` until true or `timeoutMs`, then assert it — the shared
    * helper for specs that wait on background ingress threads. */
  protected def eventually(cond: => Boolean, msg: => String, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, msg)
  }
}
