package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.reliability.CircuitBreaker
import graft.streaming.{GuardedBatchSink, StreamOps}

/** The local commit path spawns no process. [[LocalCommitPath]] runs in
  * a child JVM started with an unknown `jdk.lang.Process.launchMechanism`,
  * so any process spawn there throws: the first one an `Error` (which
  * Hadoop `Shell`'s one-time `setsid` probe swallows), every later one
  * `NoClassDefFoundError: Could not initialize class
  * java.lang.ProcessImpl`. Stock Hadoop without libhadoop forks `chmod`
  * on every create and mkdirs and `readlink` on every `FileContext`
  * create and rename, so the child fails at its first spool flush. */
class NoForkCommitPathSpec extends AnyFunSuite {

  test("spool flushes, a checkpointed dedupe query with parquet sinks and writeVersioned fork nothing") {
    val dir = Files.createTempDirectory("no-fork")
    try {
      val log = dir.resolve("child.log")
      val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Djava.io.tmpdir") ||
          a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      Files.createDirectory(dir.resolve("tmp"))
      val cmd = Seq(javaBin) ++ jvmFlags ++ Seq("-Xmx1g", s"-Djava.io.tmpdir=${dir.resolve("tmp")}",
        "-Djdk.lang.Process.launchMechanism=NO_PROCESS_ALLOWED",
        "-cp", System.getProperty("java.class.path"),
        LocalCommitPath.getClass.getName.stripSuffix("$"), dir.resolve("work").toString)
      val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
      val exited = child.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
      if (!exited) child.destroyForcibly().waitFor()
      val out = new String(Files.readAllBytes(log), UTF_8)
      def tail = out.linesIterator.filterNot(_.contains(" INFO ")).toSeq.takeRight(60).mkString("\n")
      assert(exited, s"child did not finish in 240 s:\n$tail")
      assert(child.exitValue() == 0, s"child failed:\n$tail")
      assert(out.contains(LocalCommitPath.Ok), tail)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}

/** The child side of [[NoForkCommitPathSpec]]: spool segment flushes, a
  * checkpointed `dropDuplicatesWithinWatermark` query whose
  * `GuardedBatchSink` parquet `foreachBatch` commits 3 batches, then
  * `Fs.writeVersioned`. Exits 0 after printing [[Ok]] only if all of it
  * ran and a process spawn would still have thrown. */
object LocalCommitPath {
  val Ok = "local commit path: no process spawned"

  def main(args: Array[String]): Unit = {
    val code = try { run(args(0)); println(Ok); 0 }
    catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    // Spark's shutdown deletes its temp dirs with `rm -rf`, which is not
    // the commit path; skip it (they sit under the spec's temp dir)
    Runtime.getRuntime.halt(code)
  }

  private def run(dir: String): Unit = {
    val spark = graft.Session.local(2).appName("no-fork")
      .config("spark.local.dir", s"$dir/local").getOrCreate()
    val (fs, root) = Spool.open(spark, s"$dir/spool")
    val writer = new Spool.SegmentWriter(fs, root, Spool.SegmentPolicy(), _ => ())
    val schema = new StructType().add("id", StringType).add("ts", LongType).add("v", LongType)
    val events = Sources.jsonLines(Spool.readStream(spark, s"$dir/spool", None).toDF("value"),
      "value", schema)
    val sink = GuardedBatchSink[Row](new CircuitBreaker(Int.MaxValue, 1000L),
      (ds, _) => ds.write.mode("append").parquet(s"$dir/main"),
      (ds, _) => ds.write.mode("append").parquet(s"$dir/errors"),
      (r: Row) => r.getLong(2) < 0)
    val query = StreamOps.dedupeWithinWatermark(events, "ts", Seq("id"), "5 seconds")
      .select("id", "ts", "v").writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch((ds: Dataset[Row], id: Long) => sink(ds, id))
      .start()
    val t0 = System.currentTimeMillis() * 1000000L
    for (b <- 0 until 3) {
      // ten records, one resent and one negative: segments, then a batch
      for (i <- 0 until 10) {
        val line = s"""{"id":"b$b-$i","ts":${t0 + i},"v":${if (i == 9) -1 else i}}"""
        writer.append(line)
        if (i == 4) writer.append(line)
      }
      writer.appendSync(s"""{"id":"b$b-0","ts":$t0,"v":0}""")
      query.processAllAvailable()
    }
    query.stop()
    writer.close()
    val batches = query.recentProgress.count(_.numInputRows > 0)
    val main = spark.read.parquet(s"$dir/main").count()
    val errors = spark.read.parquet(s"$dir/errors").count()
    require(batches >= 3 && main == 27 && errors == 3,
      s"expected >= 3 batches, 27 main rows, 3 error rows; got $batches, $main, $errors")
    val v = Fs.writeVersioned(spark, s"$dir/index")(out => spark.range(3).write.mode("overwrite").parquet(out))
    require(v == 1 && spark.read.parquet(Fs.resolveCurrent(spark, s"$dir/index", "no index")).count() == 3)
    val armed = try { new ProcessBuilder("true").start().waitFor(); false }
    catch { case _: Throwable => true }
    require(armed, "a process could be spawned: the launch-mechanism guard is not armed")
  }
}
