package graft.sources

import com.fasterxml.jackson.annotation.{JsonSetter, Nulls}
import com.fasterxml.jackson.databind.DeserializationFeature._
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
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

  // ---- parquet reads that resolve each schema once per file listing ----

  /** Entries of [[readParquet]]'s schema cache: a `StructType` is a few
    * KB, so the bound holds well under a MB; a workload reading more
    * distinct listings than this re-infers the least recently used. */
  private val SchemaCacheEntries = 256

  private val schemaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > SchemaCacheEntries
    })

  /** Session confs that parquet schema inference or partition discovery
    * reads, besides the `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` families. */
  private val inferenceConfs = Seq(
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive", "spark.sql.session.timeZone", "spark.sql.timestampType")

  /** `spark.read.parquet(path)` that runs Spark's schema inference (one
    * footer-reading Spark job) once per distinct file listing instead of
    * on every read. A miss is exactly `spark.read.parquet(path)` and keeps
    * that relation's `schema`; a hit is `spark.read.schema(cached)
    * .parquet(path)`, which lists and discovers partitions as before but
    * launches no job.
    *
    * Key: SHA-256 of the qualified path, the sorted recursive leaf listing
    * under it as (path, length, mtime) per file, and the effective value
    * of every conf above. A rewritten, added or removed file changes the
    * listing and a conf flip changes the conf part, so a key can only
    * name the files and settings its schema was inferred from. Bound: an
    * access-order LRU of [[SchemaCacheEntries]] schemas per JVM.
    *
    * Value identity: the cached schema IS the relation schema Spark
    * inferred for this key, and a user schema equal to the inferred one
    * resolves the same relation (data columns in file order, partition
    * columns last with the cached types — inference's order).
    * `ReadParquetSpec` holds schema and analyzed output types equal to a
    * plain read on a miss and a hit, for every fixture table, both
    * `events.ts` layouts and every routed side-table writer/reader pair.
    *
    * For reads of files that do not change between reads; a path read
    * once (a fresh version each call) or rewritten by its reader gains
    * nothing and should stay a plain read. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = schemaKey(spark, path)
    key.flatMap(k => Option(schemaCache.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        // keyed on the listing taken before the read: were the files
        // rewritten in between, the entry names a listing no later read
        // sees again
        key.foreach(schemaCache.put(_, df.schema))
        df
    }
  }

  /** [[readParquet]]'s cache key; None for a missing path, which then
    * fails in `spark.read` with Spark's own error. */
  private def schemaKey(spark: SparkSession, path: String): Option[String] = {
    val (fs, p) = of(spark, path)
    val root = fs.makeQualified(p)
    // listStatus, not listFiles: on the local filesystem listFiles (which
    // builds located statuses) took 2.6 ms for one fixture table, this
    // 0.02 ms
    def leaves(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) leaves(st.getPath)
      else Seq(s"${st.getPath}\u0000${st.getLen}\u0000${st.getModificationTime}")
    }
    val listing = try leaves(root).sorted
      catch { case _: java.io.FileNotFoundException => return None }
    val set = spark.conf.getAll.keys.filter(k =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet."))
    val confs = (set.toSeq ++ inferenceConfs).distinct.sorted
      .map(k => s"$k=${spark.conf.getOption(k).orNull}")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (Seq(root.toString) ++ listing ++ confs).foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    Some(md.digest().map("%02x".format(_)).mkString)
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
