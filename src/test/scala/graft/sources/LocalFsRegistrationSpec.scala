package graft.sources

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.{Session, SparkSpec}

/** Locks where [[LocalFs]] is registered. Hadoop caches a `FileSystem`
  * per scheme, authority and user, not per configuration, so a stock
  * `LocalFileSystem` created first from a conf without the key would
  * serve `file:` for the whole JVM. That is why the pairs travel twice:
  * `graft.Session.local` sets them as `spark.hadoop.*`, and build.sbt
  * passes them as `-Dspark.hadoop.*` to every JVM it forks (SparkConf and
  * Spark's own Hadoop conf read those). This spec runs in that forked
  * JVM, after whatever other suites created first. */
class LocalFsRegistrationSpec extends SparkSpec {

  test("Session.local's pairs are the -Dspark.hadoop.fs.* flags of the forked JVM") {
    val flags = sys.props.toMap.filter(_._1.startsWith("spark.hadoop.fs."))
    assert(flags == Session.localFs)
    assert(Session.localFs.keySet ==
      Set("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl"))
  }

  test("the session's file: filesystem, FileContext and checkpoint manager resolve to the graft classes") {
    val tmp = java.nio.file.Files.createTempDirectory("localfs-reg").toString
    assert(Fs.of(spark, tmp)._1.getClass == classOf[GraftLocalFileSystem])
    val conf = spark.sessionState.newHadoopConf()
    val fc = FileContext.getFileContext(new Path(tmp).toUri, conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs])
    // the FileContext under Spark's checkpoint manager (offset/commit
    // logs and state-store deltas go through it)
    val mgr = CheckpointFileManager.create(new Path(tmp, "checkpoint"), conf)
    val field = Iterator.iterate[Class[_]](mgr.getClass)(_.getSuperclass).takeWhile(_ != null)
      .flatMap(_.getDeclaredFields).find(_.getType == classOf[FileContext])
      .getOrElse(fail(s"${mgr.getClass.getName} holds no FileContext"))
    field.setAccessible(true)
    assert(field.get(mgr).asInstanceOf[FileContext].getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
  }
}
