package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: per-JOB wall/task-time breakdown of one declared query —
  * `Bench` gives one number per query, this says which of the query's
  * Spark jobs (model-build collect, checkpoint materialization, CC-loop
  * rounds, final noop write …) the time is in. The profiled pass lists
  * the eight slowest jobs.
  *
  * Usage: sbt "runMain graft.tools.JobProfile <sfDir> <query> [cpus]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("sim_semdedup")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Bench's split sizing too, so profiled jobs are the benched jobs
    val spark = graft.Session.local(cpus)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (j.time, Option(j.properties)
          .flatMap(p => Option(p.getProperty(graft.Session.JobDescription)))
          .getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach { case (t0, d) =>
          done.add((j.jobId, j.time - t0, d))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        taskTime.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
    })
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warm pass (codegen, and the parquet schemas Fs.readParquet keeps,
      // so the profiled pass runs no schema-inference job), then the
      // profiled pass
      for (pass <- Seq("warm", "profiled")) {
        done.clear(); taskTime.set(0L)
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the async listener bus drain
        println(f"== $name [$pass] wall ${wall}%.3f s, executor task-time ${taskTime.get / 1e3}%.3f s")
        import scala.jdk.CollectionConverters._
        val jobs = done.asScala.toSeq.sortBy(_._1)
        println(f"   jobs ${jobs.size}%d, job-wall sum ${jobs.map(_._2).sum / 1e3}%.3f s")
        if (pass == "profiled")
          jobs.sortBy(-_._2).take(8).foreach { case (id, ms, d) =>
            println(f"  job $id%3d  ${ms / 1e3}%7.3f s  $d")
          }
      }
    }
    spark.stop()
  }
}
