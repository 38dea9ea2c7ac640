package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  private def planted(n: Int) = {
    val embs = Tables.embeddings(spark, sfDir)
    val extra = embs.filter(col("vec_id") === 0)
      .crossJoin(spark.range(1, n + 1).toDF("i"))
      .select((col("i") + 100000).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          (x + when(j % 7 === col("i") % 7, lit(0.01f)).otherwise(lit(0.0f))).cast("float"))
          .as("embedding"),
        lit(0).as("label"))
    embs.unionByName(extra)
  }

  test("IVF centroids train deterministically and cover all cells") {
    val embs = Tables.embeddings(spark, sfDir)
    val c1 = SimilarityIvf.trainCentroids(embs, nCells = 8, iters = 2)
    val c2 = SimilarityIvf.trainCentroids(embs, nCells = 8, iters = 2)
    assert(c1.length == 8)
    assert(c1.map(_._1).toSeq == (0 until 8))
    // determinism: identical centroids across runs
    c1.zip(c2).foreach { case ((i1, v1), (i2, v2)) =>
      assert(i1 == i2 && v1.sameElements(v2))
    }
    val cells = SimilarityIvf.assignCells(embs, c1)
      .groupBy("cell").count().collect()
    assert(cells.length > 1) // data actually spreads over cells
  }

  /** The SQL update step the driver trainer replaced, kept as the
    * reference: hash-ranked cached sample, then per iteration a
    * groupBy(cell) of count and `sum((v * 2^20).cast("long"))` merged into
    * the previous centroids. Also returns the most cells any iteration
    * left empty. */
  private def sqlTrain(embeddings: DataFrame, nCells: Int, iters: Int,
                       sampleN: Int): (Array[Array[Double]], Int) = {
    import spark.implicits._
    val sample = embeddings
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleN)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .cache()
    var centroids = sample.limit(nCells).as[Seq[Double]].collect().map(_.toArray)
    var mostEmpty = 0
    for (_ <- 0 until iters) {
      val ctrs = centroids
      val dim = ctrs(0).length
      val updated = sample.as[Seq[Double]]
        .map(v => (SimilarityIvf.nearestCell(v.toArray, ctrs), v)).toDF("cell", "v")
        .groupBy("cell").agg(count(lit(1)).as("n"),
          array((0 until dim).map(d => sum((col("v").getItem(d) *
            SimilarityIvf.FixedPoint).cast("long"))): _*).as("sums"))
        .as[(Int, Long, Seq[Long])].collect()
        .map { case (cell, n, ss) =>
          cell -> ss.map(_.toDouble / (n * SimilarityIvf.FixedPoint)).toArray }
        .toMap
      mostEmpty = math.max(mostEmpty, ctrs.length - updated.size)
      centroids = ctrs.indices.map(i => updated.getOrElse(i, ctrs(i))).toArray
    }
    sample.unpersist()
    (centroids, mostEmpty)
  }

  private def rows(vs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vs.toDF("vec_id", "embedding").withColumn("label", lit(0))
  }

  test("driver trainer equals the SQL update step bit for bit at iters 0, 1 and 3") {
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val fixture = embs.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val dim = fixture.head._2.length
    // negated copies (truncation toward zero on negative sums) and
    // vectors longer than the seed (only the first `dim` components count)
    val edge = embs.unionByName(rows(
      fixture.take(40).map { case (id, v) => (200000L + id, v.map(-_)) } ++
      fixture.slice(40, 60).map { case (id, v) =>
        (300000L + id, v ++ Array.fill(8)(0.25f)) }))
    // duplicate-heavy: identical seeds leave all but one of their cells empty
    val dups = rows(Seq.tabulate(40)(i => (400000L + i, fixture(0)._2)) ++
      fixture.slice(1, 7))
    val cases = Seq(("fixture", embs, 8, 4096), ("edge rows", edge, 8, 4096),
      ("duplicates", dups, 4, 4096), ("nCells == sampleN", edge, 16, 16))
    for ((name, df, nCells, sampleN) <- cases; iters <- Seq(0, 1, 3)) {
      val got = SimilarityIvf.trainCentroids(df, nCells, iters, sampleN)
      val (want, mostEmpty) = sqlTrain(df, nCells, iters, sampleN)
      assert(got.map(_._1).toSeq == want.indices, s"$name iters=$iters")
      if (name == "duplicates" && iters > 0)
        assert(mostEmpty > 0, s"no cell was left empty at iters=$iters")
      got.zip(want).foreach { case ((cell, g), w) =>
        assert(g.sameElements(w), s"$name iters=$iters cell $cell: " +
          s"${g.toSeq} != ${w.toSeq}")
      }
    }
    // the longer rows are in the sample, and the seed is not one of them
    val sample = SimilarityIvf.trainingSample(edge, 4096)
    assert(sample.head._2.length == dim && sample.exists(_._2.length > dim))
  }

  test("trainCentroids runs exactly one Spark job") {
    val embs = Tables.embeddings(spark, sfDir)
    val sc = spark.sparkContext
    val group = s"ivf-train-${System.nanoTime()}"
    sc.setJobGroup(group, "trainCentroids")
    try SimilarityIvf.trainCentroids(embs, nCells = 8, iters = 3)
    finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length == 1, s"jobs ${jobs.toSeq}")
  }

  /** Train on the fixture plus one vector `bad` (vec_id 900001) and
    * return the refusal's message. */
  private def refusal(bad: Array[Float]): String = {
    val embs = Tables.embeddings(spark, sfDir)
    intercept[IllegalArgumentException] {
      SimilarityIvf.trainCentroids(embs.unionByName(rows(Seq(900001L -> bad))), 8)
    }.getMessage
  }

  private lazy val v0 = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
    .select("embedding").collect().head.getSeq[Float](0).toArray

  test("trainer refuses a NaN or beyond-2^43 component and a Long sum overflow") {
    for (x <- Seq(Float.NaN, 1e13f)) {
      val msg = refusal(v0.updated(3, x))
      assert(msg.contains("vec_id=900001: component") &&
        msg.contains("outside the fixed-point range"), msg)
    }
    // 8e12 · 2^20 fits a Long; two of them in one cell do not
    val e = intercept[IllegalArgumentException] {
      SimilarityIvf.lloyd(Array(1L -> Array(8e12), 2L -> Array(8e12)), 1, 1)
    }
    assert(e.getMessage.contains("vec_id=2: the fixed-point sum of cell 0 " +
      "overflows a Long"), e.getMessage)
  }

  test("trainer refuses a null or short vector, naming it") {
    assert(refusal(null).contains("vec_id=900001: the vector is null"))
    assert(refusal(Array.fill(8)(0.1f))
      .contains("vec_id=900001: 8 components, the model has 64"))
  }

  test("IVF top-k finds planted near-duplicates (same bar as LSH path)") {
    val all = planted(10)
    val exact = Similarity.bruteForceTopK(all, 0, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = SimilarityIvf.ivfTopK(all, 0, 10, nCells = 8, nprobe = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.8, s"IVF recall on planted near-dups: $recall")
  }

  test("persisted IVF index: probe is a partition-pruned scan with matching results") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val embs = Tables.embeddings(spark, sfDir)
    SimilarityIvf.buildIndex(embs, idx, nCells = 8)
    val qVec = embs.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val probed = SimilarityIvf.probeIndex(spark, idx, qVec, k = 10, nprobe = 3)
    // the cell filter reaches the scan as a partition filter (pruned I/O),
    // not a post-scan row filter
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan)
    // query vector is vec_id 0 itself -> top hit is the exact duplicate
    val top = probed.collect()
    assert(top.nonEmpty)
    assert(top.head.getAs[Long]("vec_id") == 0L && math.abs(top.head.getAs[Double]("sim") - 1.0) < 1e-12)
    // inline and persisted paths agree on the probed cells' contents
    val inline = SimilarityIvf.ivfTopK(embs.unionByName(embs.filter(col("vec_id") === -1)), 0, 10, 8, 3)
    assert(inline.collect().nonEmpty)
  }

  test("knn graph: valid dense-ranked edges, planted near-dups are mutual neighbors, " +
    "recall floor vs brute force") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-knn").toString
    val all = planted(4) // vec 0 + 4 near-copies at 100001..100004
    SimilarityIvf.buildIndex(all, idx, nCells = 8)
    val g = SimilarityIvf.knnGraphIvf(spark, idx, k = 3, nprobe = 3).collect()
    // structural invariants: no self edges, <= k dense ranks per src, sims sorted
    assert(g.forall(r => r.getAs[Long]("src_id") != r.getAs[Long]("dst_id")))
    val bySrc = g.groupBy(_.getAs[Long]("src_id"))
    bySrc.values.foreach { edges =>
      val ranks = edges.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length), ranks)
      val sims = edges.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("sim_ppm")).toSeq
      assert(sims == sims.sorted.reverse, s"sims not descending: $sims")
    }
    // the planted family: each near-copy's top neighbors are family members
    val family = Set(0L, 100001L, 100002L, 100003L, 100004L)
    family.foreach { id =>
      val nbrs = bySrc(id).map(_.getAs[Long]("dst_id")).toSet
      assert(nbrs.subsetOf(family - id), s"vec $id neighbors outside family: $nbrs")
    }
    // recall vs brute on a sampled src set: every brute top-1 that shares
    // a probe cell must be found; globally require a floor on exact top-1
    val top1 = g.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("dst_id")).toMap
    val sample = top1.keys.take(20).toSeq
    val hits = sample.count { src =>
      val brute = Similarity.bruteForceTopK(all, src, 2).collect()
        .map(_.getAs[Long]("vec_id")).filter(_ != src)
      brute.headOption.contains(top1(src))
    }
    assert(hits >= sample.length / 2,
      s"knn top-1 matched brute for only $hits/${sample.length} sources")
  }

  test("IVF index versions: rebuild writes v2, swaps _current, prunes v1") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-v").toString
    val embs = Tables.embeddings(spark, sfDir)
    SimilarityIvf.buildIndex(embs, idx, nCells = 8)
    val (fs, root) = graft.sources.Fs.of(spark, idx)
    assert(graft.sources.Fs.currentVersion(fs, root).contains(1))
    val qVec = embs.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val r1 = SimilarityIvf.probeIndex(spark, idx, qVec, k = 10, nprobe = 3).collect()
    SimilarityIvf.buildIndex(embs, idx, nCells = 8)
    assert(graft.sources.Fs.currentVersion(fs, root).contains(2))
    // the immediately-previous version is RETAINED for in-flight readers
    // that resolved the pointer just before the swap
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(names == Set("v1", "v2", "segments", "_current"), names)
    // ... and strictly older versions are pruned on the NEXT build
    // (vector SEGMENTS live outside the version dirs and survive pruning
    // — an append chain's base data must outlive pointer bumps)
    SimilarityIvf.buildIndex(embs, idx, nCells = 8)
    val names3 = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(names3 == Set("v2", "v3", "segments", "_current"), names3)
    // deterministic training -> identical probe results across versions
    val r2 = SimilarityIvf.probeIndex(spark, idx, qVec, k = 10, nprobe = 3).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    // a probe without any build demands one instead of returning garbage
    val e = intercept[RuntimeException] {
      SimilarityIvf.probeIndex(spark, s"$idx/missing", qVec, k = 1, nprobe = 1)
    }
    assert(e.getMessage.contains("buildIndex"), e.getMessage)
  }

  test("probe excludeIds drops rows before the top-k cut") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-x").toString
    val embs = Tables.embeddings(spark, sfDir)
    SimilarityIvf.buildIndex(embs, idx, nCells = 8)
    val qVec = embs.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val rows = SimilarityIvf.probeIndex(spark, idx, qVec, k = 5, nprobe = 3,
      excludeIds = Seq(0L)).collect()
    assert(rows.nonEmpty && !rows.exists(_.getAs[Long]("vec_id") == 0L), rows.toSeq)
  }

  test("sim_ann_ivf (persisted probe path) equals the self-contained ivfTopK") {
    val viaIndex = graft.queries.TrainingData.simAnnIvf(spark, sfDir).collect()
    val inline = SimilarityIvf.ivfTopK(Tables.embeddings(spark, sfDir),
      queryId = 0L, k = 10, nCells = 16, nprobe = 4).collect()
    assert(viaIndex.map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("IVF probes only a subset of cells (the point of the index)") {
    val all = planted(5)
    val out = SimilarityIvf.ivfTopK(all, 0, 10, nCells = 8, nprobe = 2).collect()
    val probedCells = out.map(_.getAs[Int]("cell")).toSet
    assert(probedCells.size <= 2)
  }

  test("IVF hard negatives: subset of the brute band set, decent recall, valid pairs") {
    val dir = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, dir)
    // brute BAND SET per anchor (no top-k cut): the universe any probe
    // path must draw from
    val brute = Similarity.hardNegatives(emb, sampleMod = 10, k = Int.MaxValue,
      lo = 0.25, hi = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteTop = Similarity.hardNegatives(emb, sampleMod = 10, k = 5,
      lo = 0.25, hi = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.queries.TrainingData.dsHardNegativesIvf(spark, dir).collect()
    val labels = emb.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ivf.foreach { r =>
      val (a, n, cos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(brute.contains((a, n)), s"IVF pair ($a,$n) not in the brute band set")
      assert(labels(a) != labels(n) && cos >= 0.25 && cos < 0.95)
    }
    // recall@5 vs the brute top-5 across anchors — nprobe=4 of 16 cells
    // must recover well over half of the true hard negatives
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteTop & ivfPairs).size.toDouble / bruteTop.size
    assert(recall >= 0.6, s"recall@5 $recall")
  }

  test("append indexes the delta only; compact folds the chain and GCs") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-a").toString
    val embs = Tables.embeddings(spark, sfDir)
    val base = embs.filter(col("vec_id") % 3 =!= 0)
    val delta = embs.filter(col("vec_id") % 3 === 0)
    SimilarityIvf.buildIndex(base, idx, nCells = 8)
    val (fs, root) = graft.sources.Fs.of(spark, idx)
    def segDirs() = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "segments")).map(_.getPath.getName).toSet
    val baseSegs = segDirs()
    assert(baseSegs.size == 1)
    // a delta vector is invisible before the append...
    val qVec = embs.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val pre = SimilarityIvf.probeIndex(spark, idx, qVec, k = 5, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(!pre.contains(0L))
    // an empty delta is a no-op (a zero-row segment would hold no
    // parquet files and poison every later chain read)
    SimilarityIvf.appendToIndex(delta.filter(lit(false)), idx)
    assert(segDirs().size == 1, segDirs())
    assert(graft.sources.Fs.currentVersion(fs, root).contains(1))
    SimilarityIvf.appendToIndex(delta, idx)
    assert(segDirs().size == 2, segDirs())
    // ...and the exact top hit afterwards (nprobe = all cells -> exact)
    val post = SimilarityIvf.probeIndex(spark, idx, qVec, k = 5, nprobe = 8)
      .collect()
    assert(post.head.getLong(0) == 0L, post.map(_.getLong(0)).mkString(","))
    // centroids are FROZEN across the append (no retrain)
    def centroidsOf(v: Int) = graft.sources.Fs.readMeta[SimilarityIvf.IndexMeta](
      spark, s"$idx/v$v", "no index").centroids.map(_.toSeq).toSeq
    assert(centroidsOf(1) == centroidsOf(2))
    // compaction folds to one segment with identical probe results
    SimilarityIvf.compactIndex(spark, idx)
    val compacted = SimilarityIvf.probeIndex(spark, idx, qVec, k = 5, nprobe = 8)
      .collect()
    assert(compacted.map(_.toString).toSeq == post.map(_.toString).toSeq)
    // first compact retains the chain (previous version still references
    // it — the keep-one-previous retention); a second compact GCs it
    assert(segDirs().size == 3, segDirs())
    SimilarityIvf.compactIndex(spark, idx)
    val after = segDirs()
    assert(after.size == 2, after) // last two consolidated segments only
    assert((after & baseSegs).isEmpty, "original chain not collected")
    val again = SimilarityIvf.probeIndex(spark, idx, qVec, k = 5, nprobe = 8)
      .collect()
    assert(again.map(_.toString).toSeq == post.map(_.toString).toSeq)
  }
}
