package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM. `perfbench/run.py` generates the
  * inputs, starts this with
  * `--workload W --seed N --seconds S --trace 0|1 --cpus C --data DIR --work DIR --out FILE`,
  * and turns the raw samples written to FILE into the reported metrics. */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                          cpus: Int, data: String, work: String)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cfg = Config(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      o("cpus").toInt, o("data"), o("work"))
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    // exit explicitly: a failed run must not hang on Spark's non-daemon threads
    val code =
      try {
        cfg.workload match {
          case "curation" => Batch.run(cfg, out)
          case "ingest" => Ingest.run(cfg, out)
          case w => sys.error(s"unknown workload $w")
        }
        new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
          .writeValue(new java.io.File(o("out")), out)
        0
      } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  /** The session posture graft.Bench builds, at `local[cpus]`. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5

  /** Set up `times` times and keep the last result. The first set-up is
    * timed from JVM start; later ones tear the previous one down first and
    * are timed from their own start. Returns the result and each time. */
  def setupRepeated[A](times: Int, teardown: A => Unit)(setup: () => A): (A, Seq[Double]) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var last: Option[A] = None
    val secs = (0 until times).map { i =>
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(setup())
      val s = (System.nanoTime() - t0) / 1e9
      if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else s
    }
    (last.get, secs)
  }

  /** Progress line on stderr, with seconds since JVM start. */
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.1fs $what")

  /** Live heap after a forced collection, in MB. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def jl(xs: Iterable[Double]): java.util.List[java.lang.Double] =
    xs.map(Double.box).toSeq.asJava
}
