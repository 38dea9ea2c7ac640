package graft.sources

import com.fasterxml.jackson.annotation.{JsonSetter, Nulls}
import com.fasterxml.jackson.databind.DeserializationFeature._
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.reflect.{ClassTag, classTag}

/** Session-configured Hadoop filesystem access — the one way the engine
  * touches storage paths directly (index builds, compaction, sealed-object
  * sinks). Always resolves through `spark.sessionState.newHadoopConf()` so
  * `spark.hadoop.*` settings (s3a credentials, defaultFS) apply uniformly;
  * a bare `new Configuration()` would silently drop them. */
object Fs {
  def of(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  // ---- versioned-index pointer (the `v<N>/` + `_current` layout shared
  //      by the LSH and IVF indexes) ----

  /** Read the `_current` version pointer of a versioned index root; None
    * if the index has never been built. */
  def currentVersion(fs: FileSystem, root: Path): Option[Int] = {
    val ptr = new Path(root, "_current")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  /** Write the NEXT version of a versioned artifact root: `write` receives
    * the fresh `v<N>` directory to populate, and on return the `_current`
    * pointer swaps atomically ([[publishVersion]]). The one skeleton behind
    * every persisted artifact (LSH, span, media-hash, IVF and PQ indexes;
    * k-means, classifier, importance, BPE and unigram-LM models; streaming
    * rollups; the sharded training export) — a protocol fix lands here
    * once. Returns the published version. Layout rule: corpus-sized data
    * is a parquet table in `v<N>/`; whatever the driver holds whole
    * (centroids, codebooks, weights, merges, parameters, segment lists,
    * batch marks) is the one `v<N>/meta.json` ([[writeMeta]]), read with no
    * Spark job. The export's shard `manifest` stays parquet: Spark compares
    * it with the data (`exceptAll`). */
  def writeVersioned(spark: SparkSession, path: String)(write: String => Unit): Int = {
    val (fs, root) = of(spark, path)
    // CLAIM the version directory with an exclusive create before
    // writing into it: two concurrent builders in SEPARATE JVMs (the
    // in-process memo locks can't reach across) would otherwise both
    // read currentVersion = N and interleave their overwrite-mode
    // writes inside one v<N+1> directory — a published index mixing one
    // writer's data files with the other's. The loser of the exclusive
    // create bumps to the next free version; both builds complete into
    // disjoint directories and the pointer lands on whichever published
    // last (never on a torn mix).
    var version = currentVersion(fs, root).getOrElse(0) + 1
    while (!tryClaim(fs, root, version)) version += 1
    write(s"$path/v$version")
    publishVersion(fs, root, version)
    version
  }

  /** Atomically claim `v<version>/` via exclusive file create (fails if
    * the claim exists — HDFS and the local fs both give create-exclusive
    * semantics). */
  private def tryClaim(fs: FileSystem, root: Path, version: Int): Boolean =
    try {
      fs.create(new Path(root, s"v$version/_claim"), false).close()
      true
    } catch { case _: java.io.IOException => false }

  // ---- the driver-held part of a version: `v<N>/meta.json` ----

  // A decoded document is complete (no null, missing, unknown or trailing
  // content; no float read as an integer), so loaders check only shape.
  // Documents hold primitive arrays: an erased `Seq[Long]` reads small
  // values back as boxed Ints.
  private lazy val metaMapper = JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .enable(FAIL_ON_MISSING_CREATOR_PROPERTIES, FAIL_ON_NULL_CREATOR_PROPERTIES,
      FAIL_ON_NULL_FOR_PRIMITIVES, FAIL_ON_TRAILING_TOKENS)
    .disable(ACCEPT_FLOAT_AS_INT)
    .defaultSetterInfo(JsonSetter.Value.construct(Nulls.FAIL, Nulls.FAIL))
    .build()

  /** Write `doc` (a case class of primitives, strings and arrays) as
    * `vdir/meta.json`, inside [[writeVersioned]]'s `write`: the directory
    * is claimed and `_current` publishes it, so no tmp file or rename. */
  def writeMeta(spark: SparkSession, vdir: String, doc: AnyRef): Unit = {
    val (fs, p) = of(spark, s"$vdir/meta.json")
    val bytes = metaMapper.writeValueAsBytes(doc)
    val out = fs.create(p, false)
    try out.write(bytes) finally out.close()
  }

  /** Read `vdir/meta.json` as a `T`; a missing (older layout) or
    * undecodable one fails naming the path and `what` (the entry point to
    * re-run). */
  def readMeta[T: ClassTag](spark: SparkSession, vdir: String, what: String): T = {
    val (fs, p) = of(spark, s"$vdir/meta.json")
    val in = try fs.open(p) catch {
      case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
        s"$vdir has no meta.json (an artifact layout older than meta.json) — $what")
    }
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    try metaMapper.readValue(bytes, classTag[T].runtimeClass.asInstanceOf[Class[T]])
    catch {
      case e: com.fasterxml.jackson.core.JacksonException => throw new IllegalArgumentException(
        s"$p is not a readable artifact document (${e.getOriginalMessage}) — $what", e)
    }
  }

  /** Resolve the `_current` `v<N>` directory of a versioned artifact root;
    * fails with `missing` (name the build entry point) when absent. */
  def resolveCurrent(spark: SparkSession, path: String, missing: => String): String = {
    val (fs, root) = of(spark, path)
    val version = currentVersion(fs, root).getOrElse(sys.error(missing))
    s"$path/v$version"
  }

  /** Publish `version`: the pointer flips via a RENAME (`_current.tmp`
    * written complete, then renamed over `_current` with OVERWRITE), so a
    * concurrent [[currentVersion]] reads the old value or the new one —
    * never a truncated file (an in-place overwrite has a window where the
    * pointer file exists but is empty). On HDFS the rename is atomic; the
    * local filesystem implements OVERWRITE as delete+rename, whose
    * vanishingly small window reads as "no index yet" (None), still never
    * a torn value. The IMMEDIATELY superseded version is RETAINED — a
    * reader that resolved the pointer just before the swap may still have
    * lazy plans scanning it — and only strictly older `v<N>` directories
    * are pruned. The prune matches `v<digits>` exactly: a legacy or
    * unrelated entry that merely starts with 'v' (e.g. a pre-versioning
    * `vectors` dir) is never touched. */
  def publishVersion(fs: FileSystem, root: Path, version: Int): Unit = {
    val q = fs.makeQualified(root)
    // never regress the pointer: if a concurrent builder claimed a HIGHER
    // version and already published it, this (older) complete version
    // stays on disk unpublished rather than shadowing the newer one
    if (currentVersion(fs, q).exists(_ > version)) return
    // UUID-suffixed tmp: a fixed name would let two builders on the same
    // root (separate JVMs — the callers' in-process locks can't reach
    // across) truncate each other's half-written pointer mid-publish
    val tmp = new Path(q, s"_current.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(q.toUri, fs.getConf)
    fc.rename(tmp, new Path(q, "_current"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    val vPat = "^v(\\d+)$".r
    fs.listStatus(q).map(_.getPath).foreach { p =>
      p.getName match {
        case vPat(n) if n.toInt < version - 1 => fs.delete(p, true)
        case _ => ()
      }
    }
  }
}
