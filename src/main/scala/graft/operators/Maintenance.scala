package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Table-maintenance operators: the small-files problem. Streaming sinks
  * (K2/K3 — `Sources.timedFileSink`, `writePartitionedByTime`) roll files
  * by trigger age, so a long-running pipeline accretes thousands of tiny
  * parquet files whose per-file open/footer cost eventually dominates
  * scans. Compaction rewrites a directory to ~`targetBytes` files.
  *
  * Scale design: the rewrite is one distributed read + coalesce + write
  * per leaf directory — no shuffle, no driver-side data movement; only
  * file STATUS (name + length) is listed on the driver. Hive-partitioned
  * layouts (`k=v/` subdirectories) are compacted leaf by leaf, preserving
  * the layout. The swap is rename-based: there is a brief window where a
  * leaf path is absent, so run compaction on a quiesced table (readers
  * racing the swap may fail and retry; they never see a half-written mix
  * of old and new files).
  *
  * SAFETY: refuses a directory governed by a streaming `_spark_metadata`
  * commit log — compacting under a live file-stream sink would orphan the
  * log's file references and hide compacted history from metadata-aware
  * readers. Stop the query and remove the log (or write to a new path)
  * before compacting.
  */
object Maintenance {

  /** Leaf directories (depth-first) that directly contain parquet files. */
  private def leafDirs(fs: FileSystem, p: Path): Seq[Path] = {
    val entries = fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
    val subdirs = entries.filter(_.isDirectory).map(_.getPath)
    val hasParquet = entries.exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (if (hasParquet) Seq(p) else Seq.empty) ++ subdirs.flatMap(leafDirs(fs, _))
  }

  private def requireNotStreaming(fs: FileSystem, p: Path): Unit =
    require(!fs.exists(new Path(p, "_spark_metadata")),
      s"$p is governed by a streaming _spark_metadata commit log; compacting " +
        "under a live file-stream sink orphans the log's file references — " +
        "stop the query and remove the log (or compact a copy) first")

  /** The compaction shape: (total bytes, parquet files now, files after),
    * across all leaf directories. Driver-side file statuses only. */
  def compactionPlan(spark: SparkSession, path: String,
                     targetBytes: Long): (Long, Int, Int) = {
    val (fs, p) = graft.sources.Fs.of(spark, path)
    requireNotStreaming(fs, p)
    val leaves = leafDirs(fs, p)
    val perLeaf = leaves.map { leaf =>
      val parts = fs.listStatus(leaf)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      val bytes = parts.map(_.getLen).sum
      (bytes, parts.length, math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
    }
    (perLeaf.map(_._1).sum, perLeaf.map(_._2).sum, perLeaf.map(_._3).sum)
  }

  /** Compact every leaf directory of `path` to ~`targetBytes` files.
    * Returns (files before, files after) summed over leaves; leaves already
    * at or under their target count are left untouched. */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val (fs, root) = graft.sources.Fs.of(spark, path)
    requireNotStreaming(fs, root)
    var before = 0
    var after = 0
    leafDirs(fs, root).foreach { leaf =>
      val parts = fs.listStatus(leaf)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      val bytes = parts.map(_.getLen).sum
      val nTarget = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      before += parts.length
      if (parts.length <= nTarget) after += parts.length
      else {
        val tmp = new Path(leaf.toString + "._compact_tmp")
        val bak = new Path(leaf.toString + "._compact_old")
        // coalesce, not repartition: compaction must not pay a shuffle —
        // it only narrows the file count, preserving data distribution.
        // A plain read, not Fs.readParquet: this rewrites the files it
        // reads, so a cached schema would never be read again
        spark.read.parquet(leaf.toString).coalesce(nTarget)
          .write.mode("overwrite").parquet(tmp.toString)
        require(fs.rename(leaf, bak), s"compaction: could not move $leaf aside")
        if (!fs.rename(tmp, leaf)) { // roll back, never leave the leaf missing
          fs.rename(bak, leaf)
          sys.error(s"compaction: swap failed for $leaf, rolled back")
        }
        fs.delete(bak, true)
        after += fs.listStatus(leaf)
          .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      }
    }
    (before, after)
  }

  /** Deterministic training-shard export: the terminal write of a curation
    * pipeline. Documents get [[Curation.seededOrder]]'s reproducible
    * (pos, shard) labels, the payload is written one Hive subdirectory per
    * shard (`shard=<k>/`, rows carrying their global `pos` so a reader can
    * restore exact epoch order), and [[Curation.shardManifest]]'s
    * per-shard integrity manifest is persisted NEXT TO the data it
    * describes. The whole export is one `v<N>/` version published by the
    * atomic `_current` pointer swap every other artifact uses — a training
    * job either sees a complete (data + manifest) version or the previous
    * one, never a half-written export.
    *
    * Scale: one (doc_id → labels) join co-shuffles the payload with its
    * shard assignment (the payload must physically move once — that IS the
    * export); `repartition(shard)` makes each output subtree a single
    * straight write, and rows sort by `pos` within partitions so shard
    * files are range-readable in order. Returns the published version.
    *
    * Restart contract: a killed export leaves an orphan unpublished
    * `v<N>` directory that the next successful publish prunes; `_current`
    * still names the last complete version throughout. */
  def writeShards(spark: SparkSession, docs: org.apache.spark.sql.DataFrame,
                  path: String, seed: Long, numShards: Int): Int = {
    import org.apache.spark.sql.functions._
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      val labels = graft.operators.Curation.seededOrder(docs, seed, numShards)
        .select("doc_id", "pos", "shard")
      docs.join(labels, "doc_id")
        .repartition(numShards, col("shard"))
        // sort on (shard, pos), not pos alone: the dynamic-partition
        // write requires its child ordered by the partition column, so a
        // bare pos sort would be REPLACED by a shard sort (SPARK-40885 —
        // V1Writes inserts its own sort and EliminateSorts drops the
        // inner one), silently scrambling epoch order inside shard
        // files; with shard leading, the required ordering is already
        // satisfied and the pos sub-order survives to the files
        .sortWithinPartitions("shard", "pos")
        .write.partitionBy("shard").mode("overwrite").parquet(s"$vdir/data")
      // manifest FROM THE WRITTEN FILES, not from a re-evaluation of the
      // caller's plan: a nondeterministic `docs` (unordered limit,
      // unseeded sample) could differ between the data-write job and a
      // second scan, publishing a manifest that condemns its own export;
      // reading back what was actually written makes manifest-matches-
      // data true by construction (and costs a scan of the narrow
      // re-written corpus, not a second pass over the input pipeline)
      derivedManifest(spark, s"$vdir/data")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/manifest")
    }
  }

  /** The manifest of a written shard tree, re-derived from its files —
    * one definition ([[graft.operators.Curation.manifestAggCols]])
    * shared by the export publish and the audit. */
  private def derivedManifest(spark: SparkSession,
                              dataDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = graft.operators.Curation.manifestAggCols(
      graft.functions.TextAnalytics.wsTokenCount(col("text")).cast("long"))
    graft.sources.Fs.readParquet(spark, dataDir).groupBy("shard").agg(cols.head, cols.tail: _*)
  }

  /** Audit a published shard export: re-derive the manifest FROM the
    * written data files and compare it to the persisted manifest —
    * the check a training job runs before trusting an export. Returns
    * the rows that disagree (empty = intact). */
  def auditShards(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no shard export at $path (missing _current pointer — run writeShards first)")
    val derived = derivedManifest(spark, s"$vdir/data")
    val manifest = graft.sources.Fs.readParquet(spark, s"$vdir/manifest")
    derived.exceptAll(manifest).unionAll(manifest.exceptAll(derived))
  }

  /** Publish a table BUCKETED (and per-bucket sorted) by its join key —
    * the co-located-join storage layout: two tables bucketed the same way
    * on the same key join with NO exchange on either side (Spark trusts
    * the bucketing-derived `HashPartitioning`), which at 100 TB deletes
    * the dominant shuffle of every fact-to-fact join that repeats across
    * runs. Pay the hash-distribute ONCE at write; every later join,
    * aggregation, or dedup on the key starts co-located
    * (BucketedJoinSpec locks the exchange-free plan and the
    * result-equality differential vs the plain join). Spark's bucket
    * layout is engine-internal (hash = Murmur3 of the key), so both
    * sides must be written by this engine — the standard caveat. */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String,
                    keyCol: String, buckets: Int): Unit = {
    require(buckets > 0, "buckets > 0")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .saveAsTable(table)
  }

  /** Incremental aggregate maintenance: merge pre-aggregated rollup
    * slices into the rollup of their union WITHOUT rescanning the
    * underlying rows — the 100 TB pattern where history is aggregated
    * once and only the new partition's delta is folded in each cycle.
    * Sound for ALGEBRAIC measures only (sums and counts re-aggregate as
    * sums; min/max as themselves via `mergeExprs`); averages must ride as
    * (sum, count) pairs. Every slice must share the schema
    * (`unionByName`, no missing columns). Each merge is one
    * rollup-key-sized exchange — never a fact-table scan. */
  def mergeRollups(rollups: Seq[org.apache.spark.sql.DataFrame],
                   keys: Seq[String],
                   mergeExprs: Map[String, String => Column] = Map.empty,
                   sumCols: Seq[String] = Seq.empty): org.apache.spark.sql.DataFrame = {
    require(rollups.nonEmpty, "nothing to merge")
    require(sumCols.nonEmpty || mergeExprs.nonEmpty, "no measures to merge")
    // a measure in BOTH lists would emit two identically-named output
    // columns; and Map iteration order is unspecified above 4 entries, so
    // merge measures are emitted in sorted-key order for a deterministic
    // output schema across Scala versions
    val overlap = sumCols.toSet.intersect(mergeExprs.keySet)
    require(overlap.isEmpty,
      s"measures listed in both sumCols and mergeExprs: ${overlap.toSeq.sorted.mkString(",")}")
    val all = rollups.reduce(_.unionByName(_))
    val measures =
      sumCols.map(c => sum(col(c)).as(c)) ++
        mergeExprs.toSeq.sortBy(_._1).map { case (c, f) => f(c).as(c) }
    all.groupBy(keys.map(col): _*)
      .agg(measures.head, measures.tail: _*)
  }

  /** Incremental EXACT distinct-count maintenance — the non-algebraic
    * companion of [[mergeRollups]]: a distinct count cannot merge at
    * count grain, but it merges exactly at (keys, member) grain, so the
    * rollup ARTIFACT is the distinct pair set and the count is derived
    * on read. Union + dedup is associative AND idempotent, which makes
    * slice merges both incremental (fold in one partition's delta per
    * cycle) and replay-safe (re-merging a slice is a no-op — the same
    * property the versioned rollup's batchId high-water mark protects
    * sums with, free here). Cost posture at 100 TB: the artifact and
    * every merge exchange are distinct-pair-sized, never row-sized; when
    * even that is too wide, the approximate tier is a sketch column —
    * this operator is the exact tier. */
  def mergeDistinctRollups(rollups: Seq[org.apache.spark.sql.DataFrame],
                           keys: Seq[String],
                           memberCol: String): org.apache.spark.sql.DataFrame = {
    require(rollups.nonEmpty, "nothing to merge")
    // the RESULT is itself the artifact: pair-set in, pair-set out, so a
    // persisted merge feeds the next cycle's merge directly (the same
    // closure property mergeRollups has for sums) — counts are a
    // separate read via [[distinctRollupCounts]]
    // A null member survives dedup as AT MOST ONE (keys, null) pair — it
    // marks the group's existence (SQL keeps an all-null group with
    // COUNT(DISTINCT) = 0) but is NOT a distinct value: the read side
    // counts with COUNT(member), which skips nulls, so all three tiers
    // (exact / HLL / theta — whose sketch updates skip nulls) agree.
    rollups.reduce(_.unionByName(_))
      .dropDuplicates(keys :+ memberCol)
  }

  /** Derive the distinct counts from a (keys, member) rollup artifact —
    * the read side of [[mergeDistinctRollups]]. */
  def distinctRollupCounts(artifact: org.apache.spark.sql.DataFrame,
                           keys: Seq[String],
                           memberCol: String): org.apache.spark.sql.DataFrame =
    artifact.groupBy(keys.map(col): _*)
      // count(member), not count(1): COUNT(DISTINCT) semantics skip null
      // members, but an all-null group still yields a row with count 0
      .agg(count(col(memberCol)).as(s"n_distinct_$memberCol"))

  /** Build an HLL distinct-count rollup slice — the APPROXIMATE tier of
    * [[mergeDistinctRollups]], for when even the distinct pair set is too
    * wide to store or exchange (the "too-hot universe" escape hatch that
    * operator documents): one Datasketches HLL sketch per key group,
    * ~KBs per group at ANY member cardinality. The sketch column is the
    * artifact; estimates are a read via [[hllRollupEstimates]]. */
  def hllRollup(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
                memberCol: String): org.apache.spark.sql.DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(memberCol)).as(s"hll_$memberCol"))

  /** Merge HLL rollup slices — sketch in, sketch out (the closure
    * property shared by the whole rollup family), so a persisted merge
    * feeds the next cycle directly. HLL register merges are element-wise
    * max: commutative, associative, and IDEMPOTENT, so like the exact
    * pair set (and unlike sums) a replayed slice is absorbed, not
    * double-counted. Each merge exchanges keys×sketch-bytes — never the
    * members. */
  def mergeHllRollups(rollups: Seq[org.apache.spark.sql.DataFrame],
                      keys: Seq[String],
                      sketchCol: String): org.apache.spark.sql.DataFrame =
    rollups.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col(sketchCol)).as(sketchCol))

  /** Derive the distinct-count estimates from an HLL rollup artifact —
    * the read side of [[hllRollup]]/[[mergeHllRollups]]. Exact below the
    * sketch's coupon threshold (small groups), ~2 % beyond it. */
  def hllRollupEstimates(artifact: org.apache.spark.sql.DataFrame,
                         keys: Seq[String],
                         sketchCol: String): org.apache.spark.sql.DataFrame =
    artifact.select((keys.map(col) :+
      hll_sketch_estimate(col(sketchCol)).as(s"est_$sketchCol")): _*)

  /** Build a THETA distinct rollup slice — the set-operation tier of the
    * rollup family. Same artifact/merge/read split and the same
    * idempotent-merge property as [[hllRollup]], but theta sketches
    * additionally support INTERSECTION and DIFFERENCE reads
    * ([[thetaOverlap]]): the cross-slice overlap questions (users in
    * BOTH sources, retained-from-yesterday) that HLL registers cannot
    * answer and that exact computation would have to re-shuffle raw
    * members for. Exact below 2^lgK distinct members per group (the
    * sketch retains every hash), ~1/√(2^lgK) relative error beyond. */
  def thetaRollup(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
                  memberCol: String,
                  lgK: Int = org.apache.spark.sql.graft.ThetaDefaults.LgK): org.apache.spark.sql.DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(org.apache.spark.sql.graft.ThetaGlue
        .thetaSketchAgg(col(memberCol), lgK).as(s"theta_$memberCol"))

  /** Fused per-source theta sketch of word n-gram shingles — the kernel
    * form of `thetaRollup(explode(wordShinglesKernel(text, n)))` for the
    * cross-source overlap report (one pass of per-task work).
    * Value-identical by construction: tokenization is byte-for-byte
    * [[Dedup.wordShingleSet]]'s (Unicode lowercase, `[^a-z]+` split), and
    * each shingle updates the sketch with the SAME injective item
    * encoding the string aggregate uses (0x01-prefixed UTF-8 of
    * "tok₁ tok₂ … tokₙ" — tokens are pure a-z, so ASCII bytes ARE the
    * UTF-8 bytes); a theta sketch is a distinct-hash set, so feeding
    * occurrences instead of the per-doc distinct set cannot change it.
    * What the fusion deletes, per shingle occurrence: the shingle String,
    * the per-doc LinkedHashSet + Array[String], the exploded Catalyst
    * row (+UTF8String), and the per-row aggregate path — one short-lived
    * byte[] per occurrence remains. Partial per-(task, source) sketches
    * — each exact-mode while a source's distinct shingles stay under
    * 2^lgK, the declared query's documented bound — merge through the
    * guarded [[org.apache.spark.sql.graft.ThetaUnionAgg]], exactly the
    * partial→final shape the distributed string aggregate had, so the
    * exchange carries |sources per task| sketch rows instead of every
    * shingle occurrence. A doc with null text or fewer than n tokens
    * contributes nothing, and a source none of whose docs shingle emits
    * NO row — the explode semantics, preserved. */
  def thetaShingleRollup(docs: org.apache.spark.sql.DataFrame, n: Int,
                         lgK: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"need n >= 1 (got $n)")
    val spark = docs.sparkSession
    import spark.implicits._
    val partials = docs.select(col("source"), col("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val sketches = new java.util.HashMap[String, org.apache.datasketches.theta.Union]()
        it.foreach { case (source, text) =>
          if (text != null) {
            val toks = text.toLowerCase(java.util.Locale.ROOT)
              .split("[^a-z]+").filter(_.nonEmpty)
            if (toks.length >= n) {
              var u = sketches.get(source)
              if (u == null) {
                u = org.apache.spark.sql.graft.ThetaOps.newUnion(lgK)
                sketches.put(source, u)
              }
              var i = 0
              while (i <= toks.length - n) {
                var len = 1 + (n - 1) // 0x01 tag + the joining spaces
                var j = 0
                while (j < n) { len += toks(i + j).length; j += 1 }
                val b = new Array[Byte](len)
                b(0) = 1 // the string-member tag of ThetaSketchAgg.prefixed
                var w = 1
                j = 0
                while (j < n) {
                  if (j > 0) { b(w) = ' '; w += 1 }
                  val t = toks(i + j)
                  var c = 0
                  while (c < t.length) { b(w) = t.charAt(c).toByte; w += 1; c += 1 }
                  j += 1
                }
                u.update(b)
                i += 1
              }
            }
          }
        }
        import scala.jdk.CollectionConverters._
        sketches.entrySet().iterator().asScala
          .map(e => (e.getKey, e.getValue.getResult.toByteArray))
      }
      .toDF("source", "partial")
    partials.groupBy("source")
      .agg(org.apache.spark.sql.graft.ThetaGlue
        .thetaUnionAgg(col("partial"), lgK).as("theta_shingle"))
  }

  /** Merge theta rollup slices — sketch in, sketch out; replay-safe like
    * every member of the family (theta union is idempotent). `lgK` must
    * be at least the slices' BUILD lgK: a smaller merge gadget would
    * decimate exact-mode inputs into estimates (the scalar pairwise ops
    * in [[thetaOverlap]] are lossless by construction; an aggregate must
    * bound its buffer, so the cap is explicit here). ENFORCED, not just
    * documented: the union aggregate throws when an exact-mode input's
    * retained entries exceed the merge gadget's nominal 2^lgK — the
    * downgrade is a correctness bug, never a silent fallback. */
  def mergeThetaRollups(rollups: Seq[org.apache.spark.sql.DataFrame],
                        keys: Seq[String],
                        sketchCol: String,
                        lgK: Int = org.apache.spark.sql.graft.ThetaDefaults.LgK): org.apache.spark.sql.DataFrame = {
    require(rollups.nonEmpty, "nothing to merge")
    rollups.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(org.apache.spark.sql.graft.ThetaGlue
        .thetaUnionAgg(col(sketchCol), lgK).as(sketchCol))
  }

  /** Read a theta rollup artifact: distinct-count estimates per group. */
  def thetaRollupEstimates(artifact: org.apache.spark.sql.DataFrame,
                           keys: Seq[String],
                           sketchCol: String): org.apache.spark.sql.DataFrame =
    artifact.select((keys.map(col) :+
      org.apache.spark.sql.graft.ThetaGlue
        .thetaEstimate(col(sketchCol)).as(s"est_$sketchCol")): _*)

  /** Build a KLL quantile rollup slice — the QUANTILE member of the
    * rollup family (Spark 4.1's native Datasketches KLL aggregates):
    * one mergeable quantile sketch per key group, so percentiles become
    * incrementally maintainable artifacts like sums/distincts — p99
    * dashboards fold in a day's slice instead of re-scanning raw values.
    * Exact while a group's n stays ≤ k (KLL retains every value before
    * its first compaction), ~1.7%/√(k/200)-rank-error beyond; the
    * merged sketch adopts k from its inputs. */
  def kllRollup(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
                valueCol: String, k: Int = 16384): org.apache.spark.sql.DataFrame = {
    require(k >= 8 && k <= 65535, s"k out of KLL range [8,65535]: $k")
    df.groupBy(keys.map(col): _*)
      .agg(expr(s"kll_sketch_agg_double(`$valueCol`, $k)").as(s"kll_$valueCol"))
  }

  /** Merge KLL rollup slices — sketch in, sketch out. NOT idempotent
    * (unlike the distinct family: a value re-fed re-counts, same as a
    * replayed sum), so replay protection is the versioned fold's batchId
    * high-water mark, exactly as for sums. */
  def mergeKllRollups(rollups: Seq[org.apache.spark.sql.DataFrame],
                      keys: Seq[String],
                      sketchCol: String, k: Int = 16384): org.apache.spark.sql.DataFrame = {
    require(rollups.nonEmpty, "nothing to merge")
    require(k >= 8 && k <= 65535, s"k out of KLL range [8,65535]: $k")
    rollups.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(expr(s"kll_merge_agg_double(`$sketchCol`, $k)").as(sketchCol))
  }

  /** Read a KLL rollup artifact: n plus the requested quantiles per
    * group. Quantiles follow the Datasketches INCLUSIVE convention —
    * the smallest retained value whose rank (fraction of values ≤ it)
    * reaches q — i.e. `min(v) where cume_dist() >= q`. */
  def kllRollupQuantiles(artifact: org.apache.spark.sql.DataFrame,
                         keys: Seq[String], sketchCol: String,
                         quantiles: Seq[(String, Double)]): org.apache.spark.sql.DataFrame = {
    require(quantiles.nonEmpty, "no quantiles requested")
    quantiles.foreach { case (n, q) =>
      require(q >= 0.0 && q <= 1.0, s"quantile $n=$q out of [0,1]") }
    artifact.select((keys.map(col) ++
      Seq(expr(s"kll_sketch_get_n_double(`$sketchCol`)").as("n")) ++
      quantiles.map { case (name, q) =>
        expr(s"kll_sketch_get_quantile_double(`$sketchCol`, ${q}D)").as(name)
      }): _*)
  }

  /** THE theta-only read: given two same-keyed rollup artifacts A and B,
    * the per-group overlap algebra — |A|, |B|, |A∪B|, |A∩B|, |A\B| —
    * computed entirely on KB-sized sketch columns (one sketch-wide
    * broadcast-or-shuffle join on the group keys; raw members are never
    * exchanged). Groups present in only one artifact surface with the
    * other side's sketch empty rather than dropping (full outer join +
    * empty-sketch fill), because "no overlap" is an answer, not a gap. */
  def thetaOverlap(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame,
                   keys: Seq[String], sketchCol: String,
                   suffixes: (String, String) = ("a", "b")): org.apache.spark.sql.DataFrame = {
    val g = org.apache.spark.sql.graft.ThetaGlue
    val empty = org.apache.spark.sql.graft.ThetaOps
      .newUnion(org.apache.spark.sql.graft.ThetaDefaults.LgK).getResult.toByteArray
    val (sa, sb) = (s"${sketchCol}_${suffixes._1}", s"${sketchCol}_${suffixes._2}")
    val left = a.withColumnRenamed(sketchCol, sa)
    val right = b.withColumnRenamed(sketchCol, sb)
    // Under the session posture AQE rewrites this full-outer
    // SMJ to shuffled-hash at runtime. A 3-round fresh-JVM posture A/B
    // showed ev_rollup_distinct_theta ~10% faster with the rewrite off,
    // but a targeted hint("merge") micro-A/B (4 fresh JVMs) did NOT
    // reproduce the difference (H/N = 1.16 then 0.94) — the query's
    // absolute time is context-dominated at sf0.1. Left unpinned; the
    // artifact is group-grain either way.
    val joined = left.join(right, keys, "full_outer")
      .withColumn(sa, coalesce(col(sa), lit(empty)))
      .withColumn(sb, coalesce(col(sb), lit(empty)))
    joined.select((keys.map(col) ++ Seq(
      g.thetaEstimate(col(sa)).as(s"est_${suffixes._1}"),
      g.thetaEstimate(col(sb)).as(s"est_${suffixes._2}"),
      g.thetaEstimate(g.thetaUnion(col(sa), col(sb))).as("est_union"),
      g.thetaEstimate(g.thetaIntersection(col(sa), col(sb))).as("est_intersection"),
      g.thetaEstimate(g.thetaANotB(col(sa), col(sb))).as(s"est_only_${suffixes._1}"))): _*)
  }

  /** Z-value of up to 4 numeric columns: each is min-max quantized to
    * `bits` cells and the cell bits are interleaved — pure `Column`
    * shift/or arithmetic (codegen'd end to end, no UDF). `bits` must
    * satisfy bits·|cols| ≤ 63 (so 16 bits covers 2-3 columns; 4 columns
    * need ≤ 15 — [[writeZordered]]'s auto default handles this).
    * `stats` is the
    * (min, max) per column from a one-row stats pass; a degenerate
    * column (min == max) contributes constant zero bits. Min-max
    * quantization is the classic simple variant: heavy skew in a column
    * wastes its cells near the hot end (rank/quantile quantization is
    * the upgrade when that bites — same interleave, different cell
    * function). */
  def zValue(cols: Seq[Column], stats: Seq[(Long, Long)], bits: Int = 16): Column = {
    require(cols.size >= 2 && cols.size <= 4, s"zValue interleaves 2-4 columns, got ${cols.size}")
    require(stats.size == cols.size, "one (min,max) pair per column")
    require(bits > 0 && bits * cols.size <= 63, s"$bits bits x ${cols.size} cols overflows a long")
    val cellMax = (1L << bits) - 1
    val cells = cols.zip(stats).map { case (c, (lo, hi)) =>
      // Quantize in DOUBLE: the long form (v - lo) * cellMax / span wraps
      // negative once span * cellMax exceeds Long.MaxValue (~1.4e14 span at
      // bits=16 — a multi-year epoch-microsecond column), and the clamp then
      // silently maps the largest values to cell 0, destroying the layout.
      // span is computed in double too so hi - lo cannot wrap either. Double
      // scaling by a positive constant is monotone non-decreasing, which is
      // all a layout key needs (ties between adjacent cells are harmless);
      // the final clamp keeps the cast in [0, cellMax].
      val span = math.max(hi.toDouble - lo.toDouble, 1.0)
      val scaled = (c.cast("double") - lit(lo.toDouble)) * lit(cellMax.toDouble / span)
      least(greatest(scaled.cast("long"), lit(0L)), lit(cellMax))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      cells.zipWithIndex.foldLeft(acc) { case (a, (cell, i)) =>
        a.bitwiseOR(shiftleft(
          shiftright(cell, b).bitwiseAND(lit(1L)), b * cols.size + i))
      }
    }
  }

  /** Z-ORDER clustered write — the lakehouse layout op for multi-column
    * scan locality at 100 TB: rows are range-partitioned and sorted by
    * their interleaved [[zValue]], so each output file covers a small
    * HYPER-RECTANGLE of the key space instead of a thin slab of one
    * column. A predicate on ANY of the clustered columns then prunes to
    * ~N^((d-1)/d) of the files via parquet min/max stats, where a
    * single-column sort prunes only its own column and scans everything
    * for the others (ZorderSpec measures exactly this). Three passes
    * over the (persisted) z-keyed frame, ONE over the upstream plan: the
    * one-row min/max stats agg runs on the raw input, then the z-keyed
    * frame is persisted so repartitionByRange's range-bounds sampling
    * job and the final write read the cache instead of re-evaluating an
    * expensive upstream twice more. `bits` defaults to the widest
    * interleave that fits a long for the column count (16 for 2-3
    * columns, 15 for 4); the z column is dropped from the output. Empty
    * input writes an empty dataset (a maintenance job must no-op, not
    * NPE, on an empty partition). */
  def writeZordered(df: org.apache.spark.sql.DataFrame, path: String,
                    zCols: Seq[String], numFiles: Int, bits: Int = 0): Unit = {
    require(numFiles > 0, "numFiles > 0")
    val effBits = if (bits > 0) bits else math.min(16, 63 / zCols.size)
    val statCols = zCols.flatMap(c =>
      Seq(expr(s"min($c)").cast("long"), expr(s"max($c)").cast("long")))
    val statsRow = df.agg(statCols.head, statCols.tail: _*).head()
    if (statsRow.isNullAt(0)) { // empty input: stats are all null
      df.write.mode("overwrite").parquet(path)
      return
    }
    val stats = zCols.indices.map(i =>
      (statsRow.getLong(2 * i), statsRow.getLong(2 * i + 1)))
    val keyed = df.withColumn("__z", zValue(zCols.map(col), stats, effBits))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      keyed.repartitionByRange(numFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    } finally keyed.unpersist(blocking = false)
  }
}
