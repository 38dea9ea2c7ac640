package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerSync
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The closed-loop batch workload: one client submits the workload's jobs
  * one after another, each made by its `graft.SparkEntry.queries` entry
  * and executed into Spark's noop sink (as graft.Bench does, so every
  * column is computed). A pass is the whole job list. */
object Batch {
  type Job = (SparkSession, String) => DataFrame

  /** LLM-data jobs of the sf1 tier that run the kernels and operators the
    * `functions` and `operators` layers name: the connected-components loop
    * (dd_cluster), segment dedup, text counts, and the IVF knn with its
    * float dot product. The list is short so that a cold pass, two warm
    * passes and the output checks fit one run. */
  val curation: Seq[String] = Seq(
    "dd_cluster", "dd_segment_dedup", "txt_signals", "ds_hard_negatives_ivf")

  val WarmupPasses = 2
  val MinPasses = 4

  /** The jobs `operators.cc_*` and `operators.knn_s` time. */
  val ccJobs = Set("dd_cluster")
  val knnJobs = Set("ds_hard_negatives_ivf")
  val families = Seq("dd", "txt", "ds")

  def family(name: String): String = name.takeWhile(_ != '_')

  final case class JobRun(name: String, buildS: Double, planS: Double, execS: Double, ok: Boolean) {
    def totalS: Double = buildS + planS + execS
  }

  def run(cfg: Main.Config, out: java.util.Map[String, AnyRef]): Unit = {
    val jobs = curation.map(n => n -> graft.SparkEntry.queries(n))
    val tables = graft.sources.Tables.names
    val (spark0, setupS) = Main.setupRepeated[SparkSession](Main.Setups, _.stop()) { () =>
      val s = Main.session(cfg.cpus)
      // list the fixture and read its parquet footers (schema inference)
      tables.foreach(t => graft.sources.Tables.load(s, cfg.data, t).schema)
      s
    }
    var spark = spark0
    out.put("setup_s", Main.jl(setupS))
    Main.phase("set up")
    val untraced = new Tracer(false)
    // every job execution of the run, for the attempted and failed counts
    val executed = mutable.ArrayBuffer[JobRun]()
    def timed(s: SparkSession, tracer: Tracer): Seq[JobRun] = {
      val runs = pass(s, cfg.data, jobs, tracer)
      executed ++= runs
      runs
    }

    val cold = timed(spark, untraced)
    out.put("cold_pass_s", Main.jl(Seq(cold.map(_.totalS).sum)))
    Main.phase("cold pass")
    // the JIT keeps speeding passes up for about two more passes
    (0 until WarmupPasses).foreach(_ => timed(spark, untraced))
    val warm = mutable.ArrayBuffer[Seq[JobRun]]()
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    while (warm.size < MinPasses || System.nanoTime() < deadline)
      warm += timed(spark, untraced)
    val passS = warm.map(_.map(_.totalS).sum)
    out.put("pass_s", Main.jl(passS))
    out.put("job_s", Main.jl(warm.flatten.map(_.totalS)))
    out.put("jobs", jobs.map(_._1).mkString(","))
    out.put("retained_heap_mb", Main.jl(Seq(Main.retainedHeapMb())))
    Main.phase(s"${warm.size} warm passes")

    if (cfg.trace) {
      val layers = new java.util.LinkedHashMap[String, java.lang.Double]()
      val tracer = new Tracer(true)
      val meter = new SparkMeter(tracer)
      // alternate untraced and traced passes, so the overhead compares
      // passes at the same point of warm-up
      val plain = mutable.ArrayBuffer[Double]()
      val traced = (0 until 2).map { i =>
        plain += timed(spark, untraced).map(_.totalS).sum
        spark.sparkContext.addSparkListener(meter)
        val before = meter.snapshot
        val runs = tracer.span("pass", s"pass-$i") { timed(spark, tracer) }
        ListenerSync.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(meter)
        (runs, diff(meter.snapshot, before))
      }
      val (runs, d) = traced.last
      val tracedPass = Stats.median(traced.map(_._1.map(_.totalS).sum))
      Layers.spark(layers, d, runs.map(_.totalS).sum, cfg.cpus)
      layers.put("queries.plan_s", runs.map(r => r.buildS + r.planS).sum)
      layers.put("queries.exec_s", runs.map(_.execS).sum)
      families.foreach(f => layers.put(s"queries.${f}_s", runs.filter(r => family(r.name) == f).map(_.totalS).sum))
      layers.put("operators.cc_jobs", ccJobs.toSeq.map(meter.jobsFor).sum / traced.size.toDouble)
      layers.put("operators.cc_s", runs.filter(r => ccJobs(r.name)).map(_.totalS).sum)
      layers.put("operators.knn_s", runs.filter(r => knnJobs(r.name)).map(_.totalS).sum)
      layers.put("operators.retained_blocks_mb", spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum / 1048576.0)
      layers.put("trace.overhead_frac", tracedPass / Stats.median(plain) - 1.0)
      // every span of this tracer lies under a traced pass, so the self
      // times must add up to the passes' wall time; concurrent Spark stages
      // are the only overlap (stated tolerance: 10%)
      val passNs = tracer.all.filter(_.name == "pass").map(s => (s.endNs - s.startNs).toDouble).sum
      val reconcile = tracer.selfTimes.map(_._4.toDouble).sum / passNs - 1.0
      if (math.abs(reconcile) > 0.10) System.err.println(f"[perfbench] span self times miss pass_s by $reconcile%.3f")
      layers.put("trace.reconcile_frac", reconcile)
      Kernels.run(spark, cfg.data).foreach { case (k, v) => layers.put(s"functions.$k", v) }
      // the single-thread baseline: one warm pass at local[1]
      spark.stop()
      spark = Main.session(1)
      val single = timed(spark, untraced).map(_.totalS).sum
      layers.put("spark.parallel_speedup", single / Stats.median(passS))
      out.put("layers", layers)
      out.put("spans", Layers.spanTable(tracer))
    }

    out.put("attempted", Long.box(executed.size.toLong))
    out.put("failed", Long.box(executed.count(!_.ok).toLong))
    check(spark, cfg, jobs, out)
    Main.phase("checked")
    spark.stop()
  }

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) => k -> (v - b.getOrElse(k, 0.0)) }

  /** One pass over `jobs`. With tracing on, each job gets a span with
    * build, plan and execute children, and the Spark jobs it launches are
    * parented to the open child span. */
  def pass(spark: SparkSession, data: String, jobs: Seq[(String, Job)], tracer: Tracer): Seq[JobRun] = {
    val sc = spark.sparkContext
    jobs.map { case (name, fn) =>
      sc.setLocalProperty("perfbench.job", name)
      tracer.span("job", name) {
        def step[A](label: String)(body: => A): (A, Double) = tracer.span(label) {
          if (tracer.enabled) sc.setLocalProperty("perfbench.span", tracer.current._1.toString)
          val t0 = System.nanoTime()
          val r = body
          (r, (System.nanoTime() - t0) / 1e9)
        }
        try {
          val (df, b) = step("build")(fn(spark, data))
          // the plan is built inside the write; only a traced run forces
          // it separately, to time planning on its own
          val (_, p) = if (tracer.enabled) step("plan")(df.queryExecution.executedPlan) else ((), 0.0)
          val (_, e) = step("execute")(df.write.format("noop").mode("overwrite").save())
          JobRun(name, b, p, e, ok = true)
        } catch {
          case t: Throwable =>
            System.err.println(s"[perfbench] $name failed: $t")
            JobRun(name, 0, 0, 0, ok = false)
        }
      }
    }
  }

  /** Untimed, after the timed passes. Jobs with a pure-SQL DuckDB oracle
    * have their output written for run.py to compare; every other job must
    * give the same output digest on two executions. */
  def check(spark: SparkSession, cfg: Main.Config, jobs: Seq[(String, Job)],
            out: java.util.Map[String, AnyRef]): Unit = {
    val oracle = graft.SparkEntry.oracleSql.filterNot(_._2.contains("read_parquet("))
    val res = new java.util.LinkedHashMap[String, String]()
    val sqls = new java.util.LinkedHashMap[String, String]()
    jobs.foreach { case (name, fn) =>
      val verdict =
        try {
          if (oracle.contains(name)) {
            sqls.put(name, oracle(name))
            val dir = s"${cfg.work}/check/$name"
            fn(spark, cfg.data).coalesce(1).write.mode("overwrite").parquet(dir)
            s"oracle:$dir"
          } else {
            val a = digest(fn(spark, cfg.data))
            val b = digest(fn(spark, cfg.data))
            if (a == b) s"digest:$a" else s"mismatch:$a/$b"
          }
        } catch { case t: Throwable => s"error:$t" }
      res.put(name, verdict)
    }
    out.put("check", res)
    out.put("oracle_sql", sqls)
  }

  /** Order-independent digest of a job's output: row count and the sum of
    * per-row hashes of the row's JSON form. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}-${r.get(1)}"
  }
}
