package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.VectorExpressions

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path for similarity search (design brief: "an IVF or LSH-bucketed
  * variant as the scale path"; this engine ships both).
  *
  * Build: k-means coarse centroids trained on the driver ([[lloyd]], the
  * trainer [[SimilarityPq]] shares) over one collected hash-ranked sample
  * — deterministic seeding and a fixed number of Lloyd iterations with
  * fixed-point sums, one Spark job per training.
  * Probe: rank cells by query-to-centroid similarity, scan only the best
  * `nprobe` cells with exact cosine.
  *
  * Scale properties: training touches a bounded sample; assignment is a
  * map-side projection against a broadcast centroid table; at cluster scale
  * `cell` becomes the partition/bucket key so a probe reads
  * nprobe/nCells of the data. Everything is deterministic → reproducible
  * result sets across runs and layouts.
  */
object SimilarityIvf {

  /** Fixed-point scale (2^20) for the centroid-update sums. */
  private[operators] val FixedPoint = 1048576.0

  /** Train `nCells` centroids on a deterministic sample (hash-ranked) with
    * `iters` Lloyd iterations. Returns (cell, centroid array<double>). */
  def trainCentroids(embeddings: DataFrame, nCells: Int, iters: Int = 3,
                     sampleN: Int = 4096): Array[(Int, Array[Double])] = {
    // a silently-undersized sample would seed fewer/degenerate centroids
    // and quietly break every nCells ∝ √N scaling promise downstream —
    // callers sizing cells past the default sample must raise sampleN
    require(nCells <= sampleN,
      s"nCells $nCells exceeds the training sample $sampleN — raise sampleN " +
        "(≥ a few rows per centroid) or lower nCells")
    lloyd(trainingSample(embeddings, sampleN), nCells, iters).zipWithIndex.map(_.swap)
  }

  /** The training sample: the first `sampleN` (vec_id, embedding as
    * doubles) rows of [[hashRanked]], one Spark job. */
  private[operators] def trainingSample(embeddings: DataFrame,
      sampleN: Int): Array[(Long, Array[Double])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    hashRanked(embeddings, sampleN)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
  }

  /** The one deterministic draw rule of the k-means trainers (IVF, PQ,
    * [[KMeans]]): the first `n` rows in (xxhash64(vec_id), vec_id) order. */
  private[operators] def hashRanked(vecs: DataFrame, n: Int): DataFrame =
    vecs.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n)

  /** Lloyd's k-means on the driver, the ONE trainer of IVF centroids and
    * PQ codebooks. Seeds are the first `k` rows; the first seed's length
    * is `dim`. Sums are 2^-20 fixed-point LONGS truncated toward zero —
    * associative, so bit-stable under any row order, with an error far
    * below what assignment resolves; means are Σ/(n·2^20), and an empty
    * cell keeps its centroid. A row that is null, short, or has a NaN,
    * infinite or beyond-±2^43 component, and a Long sum overflow, are
    * refused with an error naming the vector. */
  private[operators] def lloyd(rows: Array[(Long, Array[Double])], k: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = rows.take(k).map { case (id, v) => checkVector(id, v, 0); v }
    if (iters == 0) return centroids
    require(rows.nonEmpty, "empty training sample — nothing to train on")
    val dim = centroids(0).length
    val fixed = rows.map { case (id, v) =>
      checkVector(id, v, dim)
      v.take(dim).map { x =>
        val q = x * FixedPoint
        // the ANSI double→long cast's range check, bound for bound
        if (math.floor(q) <= Long.MaxValue.toDouble &&
            math.ceil(q) >= Long.MinValue.toDouble) q.toLong
        else refuse(id, s"component $x is outside the fixed-point range")
      }
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Long](dim))
      val counts = new Array[Long](centroids.length)
      for (r <- rows.indices) {
        val c = nearestCell(rows(r)._2, centroids)
        counts(c) += 1
        try for (i <- 0 until dim) sums(c)(i) = Math.addExact(sums(c)(i), fixed(r)(i))
        catch { case _: ArithmeticException =>
          refuse(rows(r)._1, s"the fixed-point sum of cell $c overflows a Long") }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) else sums(c).map(_.toDouble / (counts(c) * FixedPoint))
      }.toArray
    }
    centroids
  }

  /** Refuse a null training vector or one shorter than `dim`. */
  private[operators] def checkVector(id: Long, v: Array[Double], dim: Int): Unit =
    if (v == null) refuse(id, "the vector is null")
    else if (v.length < dim) refuse(id, s"${v.length} components, the model has $dim")

  private def refuse(id: Long, why: String): Nothing =
    throw new IllegalArgumentException(s"cannot train on vector vec_id=$id: $why")

  private[operators] def nearestCell(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      var d = 0.0
      var j = 0
      val n = math.min(v.length, ctr.length)
      while (j < n) { val t = v(j) - ctr(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Assign every vector to its coarse cell (map-side, broadcast centroids). */
  def assignCells(embeddings: DataFrame, centroids: Array[(Int, Array[Double])]): DataFrame = {
    val ctrs = centroids.sortBy(_._1).map(_._2)
    val cellUdf = udf((v: Array[Float]) => nearestCell(v.map(_.toDouble), ctrs))
    embeddings.withColumn("cell", cellUdf(col("embedding")))
  }

  /** Persist an index VERSION. Layout: vector data lives in immutable
    * SEGMENT directories under `$path/segments/seg-<uuid>/`, each parquet
    * PARTITIONED BY cell (so probes become partition-pruned scans — at
    * 100 TB a probe touches nprobe/nCells of the files, enforced by the
    * storage layout, not a runtime filter); each `v<N>/` version is
    * METADATA ONLY — one `meta.json` ([[IndexMeta]]: the centroids plus
    * the list of segment directories that participate). The rename-based
    * `_current` pointer swap publishes a version atomically, with the
    * same concurrency contract as the LSH index (Dedup.buildLshIndex): a
    * probe that resolved the pointer before a rebuild keeps reading its
    * previous COMPLETE version, never a mix. Segments sit OUTSIDE the
    * version dirs because Fs.publishVersion prunes old versions — an
    * [[appendToIndex]] chain must keep its base data alive across many
    * pointer bumps; segments referenced by neither the current nor the
    * previous version are collected on every publish.
    * Pre-versioning flat layouts are not migrated: probes fail fast with
    * "run buildIndex first". Build once, probe many — a real pipeline
    * rebuilds on corpus refresh, not per query
    * (graft.queries.TrainingData.simAnnIvf probes the persisted index). */
  def buildIndex(embeddings: DataFrame, path: String, nCells: Int = 16,
                 iters: Int = 3, sampleN: Int = 4096): Unit = {
    val spark = embeddings.sparkSession
    val centroids = trainCentroids(embeddings, nCells, iters,
      // keep the √N posture honest: never train nCells centroids on
      // fewer than 8 sample rows each
      math.max(sampleN, 8 * nCells))
    val seg = writeSegment(path, assignCells(embeddings, centroids))
    publishMeta(spark, path, centroids, Seq(seg))
  }

  /** Write one immutable vector segment; returns its path-relative name. */
  private def writeSegment(path: String, assigned: DataFrame): String = {
    val seg = s"segments/seg-${java.util.UUID.randomUUID()}"
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/$seg")
    seg
  }

  /** `v<N>/meta.json`: cell `i`'s centroid is `centroids(i)`; `segments`
    * is the chain, in order. */
  private[operators] final case class IndexMeta(centroids: Array[Array[Double]],
      segments: Array[String])

  /** Publish a metadata version referencing `segments` (in order), then
    * collect segments no live version references — WITHOUT this, every
    * rebuild would leak a full corpus-sized segment (the old layout
    * reclaimed vectors through version pruning; segments opted out of
    * that to keep append chains alive, so they need their own GC). */
  private def publishMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, centroids: Array[(Int, Array[Double])],
      segments: Seq[String]): Unit = {
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      graft.sources.Fs.writeMeta(spark, vdir,
        IndexMeta(centroids.sortBy(_._1).map(_._2), segments.toArray))
    }
    gcSegments(spark, path)
  }

  /** Incrementally index NEW vectors without retraining or rewriting the
    * corpus: assign them to the CURRENT version's centroids (the
    * coarse quantizer is frozen between rebuilds — the standard IVF
    * trade: recall on a drifting distribution degrades until the next
    * [[buildIndex]]/[[compactIndex]] refresh), write one new segment with
    * just the delta, and publish a version whose segment list is the base
    * chain plus the delta. Cost is proportional to the DELTA, not the
    * corpus; probes transparently scan the chain (same cell partitioning
    * in every segment). Long chains accrete per-segment file overhead —
    * [[compactIndex]] folds them back to one.
    *
    * Concurrency contract: append and compact are SINGLE-MAINTAINER
    * operations (the usual LSM-maintenance rule). They read the current
    * chain and publish a successor — two concurrent appends both extend
    * the same base and the later publish drops the earlier delta from
    * the live chain, and a compaction racing an append can collect a
    * segment the append is about to reference. Serialize maintenance
    * externally (one scheduler owns the index); concurrent PROBES are
    * always safe (they resolve a complete published version). An empty
    * delta is a no-op — a zero-row segment would hold no parquet files
    * and poison every later chain read. */
  def appendToIndex(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    if (newVectors.isEmpty) return
    val (centroids, segs) = resolveIndex(spark, path)
    val seg = writeSegment(path, assignCells(newVectors, centroids))
    publishMeta(spark, path, centroids, segs :+ seg)
  }

  /** Fold an append chain back to ONE segment (same centroids, same
    * rows): reads the current chain, writes a consolidated segment,
    * publishes a version referencing only it, then deletes segment
    * directories referenced by NEITHER the new version nor its
    * predecessor (matching Fs's keep-one-previous retention, so a probe
    * that resolved the pointer just before the compaction still reads a
    * complete chain). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = {
    val (centroids, segs) = resolveIndex(spark, path)
    val seg = writeSegment(path, readVectors(spark, path, segs))
    publishMeta(spark, path, centroids, Seq(seg))
  }

  /** Delete segment dirs unreferenced by the current AND previous
    * versions. */
  private def gcSegments(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    val (fs, root) = graft.sources.Fs.of(spark, path)
    val cur = graft.sources.Fs.currentVersion(fs, root).getOrElse(return)
    val live = Seq(cur, cur - 1)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(root, s"v$v/meta.json")))
      .flatMap(v => graft.sources.Fs.readMeta[IndexMeta](spark, s"$path/v$v",
        "run buildIndex").segments).toSet
    val segRoot = new org.apache.hadoop.fs.Path(root, "segments")
    if (!fs.exists(segRoot)) return
    fs.listStatus(segRoot).map(_.getPath).foreach { p =>
      if (!live.contains(s"segments/${p.getName}")) fs.delete(p, true)
    }
  }

  /** Resolve the `_current` index version's centroid table and segment
    * list — the ONE copy of the layout/error contract for every
    * probe path. */
  private def resolveIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[(Int, Array[Double])], Seq[String]) = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no IVF index at $path (missing _current pointer — " +
        "run buildIndex first)")
    val meta = graft.sources.Fs.readMeta[IndexMeta](spark, vdir,
      "run buildIndex to refresh it")
    val cs = meta.centroids
    require(cs.nonEmpty && cs.head.nonEmpty && cs.forall(_.length == cs.head.length),
      s"IVF index at $vdir has no centroids or ragged ones")
    (cs.zipWithIndex.map(_.swap), meta.segments.toSeq)
  }

  /** Union scan of a version's segment chain — one scan per segment
    * (separate roots cannot share one partition discovery), unioned;
    * cell-filter pushdown prunes partitions in EACH segment scan. */
  private def readVectors(spark: org.apache.spark.sql.SparkSession,
      path: String, segs: Seq[String]): DataFrame =
    segs.map(s => graft.sources.Fs.readParquet(spark, s"$path/$s")).reduce(_.unionByName(_))

  /** The `nprobe` nearest cells to `vd` — the ONE copy of the probe-cell
    * ranking (L2 over the common prefix, (distance, cell) tie order)
    * shared by the single-query probe and the batched hard-negative
    * probe, so the "same cells as the index" assumption cannot drift. */
  private def nearestCells(vd: Array[Double],
      centroids: Array[(Int, Array[Double])], nprobe: Int): Seq[Int] =
    centroids.map { case (cell, ctr) =>
      var d = 0.0; var j = 0
      val m = math.min(vd.length, ctr.length)
      while (j < m) { val t = vd(j) - ctr(j); d += t * t; j += 1 }
      (cell, d)
    }.sortBy { case (cell, d) => (d, cell) }.take(nprobe).map(_._1).toSeq

  /** Probe a persisted index: resolve `_current` once, rank that version's
    * cells by centroid distance, scan only the best `nprobe` PARTITIONS,
    * exact cosine re-rank. `excludeIds` drops result rows (e.g. the query
    * vector itself when it is part of the corpus) BEFORE the top-k cut. */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 queryVec: Array[Float], k: Int, nprobe: Int,
                 excludeIds: Seq[Long] = Nil): DataFrame = {
    import spark.implicits._
    val (centroids, segs) = resolveIndex(spark, path)
    val probeCells = nearestCells(queryVec.map(_.toDouble), centroids, nprobe)
    val q = spark.createDataset(Seq(queryVec.toSeq)).toDF("query_vec")
      .select(col("query_vec").cast("array<float>").as("query_vec"))
    readVectors(spark, path, segs)
      .filter(col("cell").isin(probeCells.toSeq: _*)) // -> PartitionFilters
      .filter(if (excludeIds.isEmpty) lit(true) else !col("vec_id").isin(excludeIds: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cell"),
        VectorExpressions.cosineF(col("embedding"), col("query_vec")).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** Batched contrastive hard-negative mining through the persisted
    * index — the SCALE path of [[Similarity.hardNegatives]] (which pays
    * |corpus|×|anchors| exact cosines so a SQL oracle can check it).
    * Anchors are require-capped, collected with their norms, and each
    * computes its `nprobe` nearest cells against the index centroids on
    * the driver; the exploded (cell, anchor) table — |anchors|·nprobe
    * rows — broadcasts into ONE equi-join on `cell` over the index
    * vectors, so each vector meets only the anchors probing its cell
    * (a nprobe/nCells fraction of the brute pair count) and the
    * per-anchor top-k short-circuits via WindowGroupLimit. Same output
    * contract as the brute operator; recall < 1 by construction (the
    * IVF trade), invariant-locked against the brute band set. */
  def hardNegativesIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                       anchors: DataFrame, k: Int, lo: Double, hi: Double,
                       nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val (centroids, segs) = resolveIndex(spark, path)
    val aRows = graft.Session.withJobLabel(spark.sparkContext, "ivf: collect anchors") {
      anchors.select(col("vec_id"), col("label"), col("embedding"))
        .limit(Dedup.maxVerifierSample + 1)
        .as[(Long, Int, Array[Float])].collect()
    }
    require(aRows.length <= Dedup.maxVerifierSample,
      s"anchor set exceeds the cap ${Dedup.maxVerifierSample} — pre-filter anchors")
    // the anchor PAYLOAD (embedding + norm) broadcasts ONCE per anchor;
    // only the thin (cell, anchor_id) probe pairs are exploded nprobe×
    val payload = aRows.flatMap { case (id, label, v) =>
      val vd = v.map(_.toDouble)
      var n2 = 0.0; var j = 0
      while (j < vd.length) { n2 += vd(j) * vd(j); j += 1 }
      if (n2 <= 0) None else Some((id, label, v, math.sqrt(n2)))
    }.toSeq
    val cells = payload.flatMap { case (id, _, v, _) =>
      nearestCells(v.map(_.toDouble), centroids, nprobe).map(c => (c, id))
    }
    val aDf = payload.toDF("anchor_id", "a_label", "a_v", "a_n")
    val cDf = cells.toDF("cell", "anchor_id")
    val dot = VectorExpressions.dotF _
    // nm depends only on the vector, so it is computed per CORPUS ROW
    // before the cell join multiplies each vector by the anchors probing
    // its cell, not once per (vector, anchor) candidate pair. Same
    // expression, same surviving rows → bit-identical output; JobProfile
    // shows the probe job's task time is per-pair kernel work.
    Similarity.rankHardNegatives(
      readVectors(spark, path, segs)
        .withColumn("nm", sqrt(dot(col("embedding"), col("embedding"))))
        .filter(col("nm") > 0)
        .join(broadcast(cDf), Seq("cell"))
        .join(broadcast(aDf), Seq("anchor_id"))
        .filter(col("label") =!= col("a_label")),
      k, lo, hi)
  }

  /** Distributed k-NN GRAPH over the persisted index — the all-vectors
    * neighbor structure behind semantic dedup, graph-based ANN (NSW
    * builds), and cluster refinement. Fully distributed, NO driver
    * anchor collect (every vector is an anchor — the hardNegativesIvf
    * driver-side probe table would be the whole corpus): each vector
    * computes its `nprobe` nearest cells map-side against the broadcast
    * centroids, explodes to a (cell, src) probe stream, and ONE
    * cell-keyed equi-join pairs it with the index vectors — per-cell
    * pair work, nprobe·Σ|cell|²  total, the standard IVF graph cost
    * (raise nCells ∝ √N to hold it at N^1.5). Hot cells are
    * rank-truncated at `maxCellSize` on the TARGET side (the
    * Dedup.maxBucket convention: bounded work beats unbounded recall);
    * a pair reachable through two shared cells dedups before ranking;
    * per-src top-k short-circuits via WindowGroupLimit. Deterministic
    * given the index (bit-stable by sim_ann_ivf's fixed-point argument):
    * per-pair cosine is row-local and the (sim desc, dst_id) order is
    * total. */
  def knnGraphIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                  k: Int, nprobe: Int = 2,
                  maxCellSize: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (centroids, segs) = resolveIndex(spark, path)
    val bc = spark.sparkContext.broadcast(centroids)
    // zero-norm guard (the hardNegativesIvf rule): a zero vector makes
    // every touching cosine 0/0 = NaN, and NaN sorts ABOVE all doubles,
    // so one zero embedding would hijack rank 1 for its whole cell.
    // As in hardNegativesIvf, the norm is computed ONCE per corpus vector
    // here and carried through both join sides — cosineF would recompute
    // sqrt(dot(v,v)) for BOTH vectors on every candidate pair
    // (nprobe·Σ|cell|² pairs), tripling the per-pair kernel.
    // sim = dot/(src_nm·nm) is the same expression tree cosineF evaluates
    // (identical sqrt inputs, identical multiply order), so every emitted
    // double is bit-identical; the filter nm > 0 ⟺ dot > 0 (sqrt is
    // monotone, NaN fails both).
    val vecs = readVectors(spark, path, segs)
      .withColumn("nm",
        sqrt(VectorExpressions.dotF(col("embedding"), col("embedding"))))
      .filter(col("nm") > 0)
    val probeU = udf { (v: Seq[Float]) =>
      nearestCells(v.map(_.toDouble).toArray, bc.value, nprobe).toSeq
    }
    val probes = vecs.select(col("vec_id").as("src_id"),
        col("embedding").as("src_vec"), col("nm").as("src_nm"),
        explode(probeU(col("embedding"))).as("cell"))
    val w = Window.partitionBy("cell").orderBy("vec_id")
    val targets = vecs.select(col("vec_id"), col("cell"), col("embedding"),
        col("nm"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxCellSize).drop("__rn")
    targets.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("src_id"))
      .select(col("src_id"), col("vec_id").as("dst_id"),
        (graft.plans.VectorExpressions.dotF(col("src_vec"), col("embedding")) /
          (col("src_nm") * col("nm"))).as("sim"))
      // One pair-scale exchange for the tail: dropDuplicates would
      // exchange by (src, dst) and the rank window re-exchange by src.
      // Partitioning once by src satisfies the dedup aggregate's
      // clustering too (same-src rows are co-located, so same-(src,dst)
      // rows are), so the aggregate and the window both run on it.
      // max(sim) over a duplicated (src, dst) equals dropDuplicates'
      // value exactly: duplicates are the SAME pair reached through two
      // shared cells, carrying the identical row-local sim double.
      .repartition(col("src_id"))
      .groupBy("src_id", "dst_id").agg(max("sim").as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("src_id").orderBy(desc("sim"), asc("dst_id"))))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("rank"), col("dst_id"),
        floor(col("sim") * 1000000).cast("long").as("sim_ppm"))
  }

  /** ANN top-k: scan only the `nprobe` cells nearest to the query vector. */
  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int,
              nCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val centroids = trainCentroids(embeddings, nCells)
    val qVec = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val probeCells = nearestCells(qVec, centroids, nprobe)
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"))
    assignCells(embeddings, centroids)
      .filter(col("cell").isin(probeCells: _*))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cell"),
        VectorExpressions.cosineF(col("embedding"), col("query_vec")).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }
}
