package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed Lloyd's k-means over an embedding column — the full-corpus
  * counterpart of the sample-based driver trainer of the IVF and PQ
  * indexes ([[SimilarityIvf.lloyd]]): there ≤4096 collected rows train the
  * model; here every vector votes in every iteration, which is the shape
  * that matters when the corpus is 100 TB and a 4096-row sample misses
  * tail modes.
  *
  * Scale design, per iteration: centroids (k × dim longs — KBs) ride an
  * executor broadcast into the shared map-side argmin kernel
  * ([[graft.functions.VectorQuant.argminCentroid]], one kernel with
  * sim_assign and its streaming twin); the update reduces via posexplode →
  * partial-agged (cluster, pos) sums — the ONLY exchange, k·dim rows wide
  * regardless of corpus size — and the k×dim update itself happens on the
  * driver. The quantized projection is persisted MEMORY_AND_DISK (the
  * standard iterative-ML trade: T scans of a spilled columnar cache beat
  * T parquet re-reads; drop `cache = false` to re-scan instead, e.g. when
  * the projection exceeds cluster storage).
  *
  * Determinism (golden-eligible): components are floored to integer ppm
  * ONCE; all sums are LONG (associative — bit-stable under any partition
  * layout or merge order); the argmin tie-breaks to the lowest cluster id;
  * init picks the k seeds by (xxhash64(vec_id), vec_id) order — a
  * deterministic pseudo-random draw with no RNG state. Empty clusters keep
  * their previous centroid (documented Lloyd's convention).
  */
object KMeans {

  /** Trained model: per-cluster centroid components in integer ppm. */
  final case class Model(centroids: Array[Array[Long]]) {
    def snapshot: Seq[(Int, Array[Long])] = centroids.toSeq.zipWithIndex.map(_.swap)
  }

  /** The ppm projection shared by train and assign: (vec_id, vp) with
    * invalid vectors (null/empty/null components) dropped — the SHARED
    * quantization + well-formedness rule
    * ([[graft.functions.VectorQuant.ppmVec]]), one definition with the
    * sim_assign/centroid family. */
  def ppmProject(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
        graft.functions.VectorQuant.ppmVec(col("embedding")).as("vp"))
      .filter(graft.functions.VectorQuant.isWellFormedPpm(col("vp")))

  /** Run `iters` Lloyd iterations with k clusters; returns the model. */
  def train(embeddings: DataFrame, k: Int, iters: Int,
      cache: Boolean = true): Model = {
    val vecs0 = ppmProject(embeddings)
    val vecs = if (cache) vecs0.persist(StorageLevel.MEMORY_AND_DISK) else vecs0
    try trainOn(vecs, k, iters)
    finally if (cache) { vecs.unpersist(); () }
  }

  /** Core Lloyd loop over an already-projected (vec_id, vp) frame —
    * callers own persistence of `vecs`. */
  private def trainOn(vecs: DataFrame, k: Int, iters: Int): Model = {
    require(k > 0 && iters >= 0, "k > 0, iters >= 0")
    val spark = vecs.sparkSession
    val seeds = SimilarityIvf.hashRanked(vecs, k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(seeds.nonEmpty, "no valid vectors to train on")
    // the model dimension is the seed dimension: a ragged corpus (mixed
    // embedding widths) would otherwise posexplode positions past the
    // centroid arrays and crash the driver update mid-train — off-width
    // vectors are excluded from the update sums (argminCentroid's
    // common-prefix contract is not enough for the UPDATE step)
    val dim = seeds.head.length
    val uni = vecs.filter(size(col("vp")) === dim)
    var centroids: Array[Array[Long]] =
      if (seeds.length >= k) seeds
      else seeds ++ Array.fill(k - seeds.length)(seeds.head.clone())
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(
        centroids.toSeq.zipWithIndex.map(_.swap): Seq[(Int, Array[Long])])
      val assignU = udf { (vp: Seq[Long]) =>
        graft.functions.VectorQuant.argminCentroid(vp.toArray, bc.value)._1
      }
      // the one exchange: k·dim (cluster, pos) partial sums
      val sums = uni.withColumn("c", assignU(col("vp")))
        .select(col("c"), posexplode(col("vp")).as(Seq("pos", "v")))
        .groupBy("c", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val (c, pos) = (r.getInt(0), r.getInt(1))
        next(c)(pos) = r.getLong(2) / r.getLong(3) // truncating div, exact
      }
      centroids = next
      bc.destroy()
    }
    Model(centroids)
  }

  /** Persist a trained model as the `v<N>/meta.json` of a versioned
    * artifact ([[graft.sources.Fs.writeVersioned]]): train once (the
    * expensive full-corpus job), assign many against the published one. */
  def saveModel(spark: SparkSession, model: Model, path: String): Unit = {
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      graft.sources.Fs.writeMeta(spark, vdir, model)
    }
  }

  /** Load the `_current` version of a persisted model. */
  def loadModel(spark: SparkSession, path: String): Model = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no k-means model at $path (missing _current pointer — " +
        "run saveModel first)")
    val model = graft.sources.Fs.readMeta[Model](spark, vdir, "run saveModel")
    val cs = model.centroids
    require(cs.nonEmpty && cs.head.nonEmpty && cs.forall(_.length == cs.head.length),
      s"persisted k-means model at $vdir is empty or has ragged centroids")
    model
  }

  /** Assign every vector to its nearest trained centroid: map-side argmin
    * over the broadcast model (scan → project, no join, no aggregate). */
  def assign(embeddings: DataFrame, model: Model): DataFrame =
    assignOn(ppmProject(embeddings), model)

  private def assignOn(vecs: DataFrame, model: Model): DataFrame = {
    val bc = vecs.sparkSession.sparkContext.broadcast(model.snapshot)
    val assignU = udf { (vp: Seq[Long]) =>
      graft.functions.VectorQuant.argminCentroid(vp.toArray, bc.value)
    }
    vecs.withColumn("__a", assignU(col("vp")))
      .select(col("vec_id"), col("__a._1").as("cluster"), col("__a._2").as("d2"))
  }

  /** Train + summarize: one row per (cluster, pos) with the final centroid
    * component and the cluster population under the FINAL model — the
    * compact, deterministic training artifact. The projection is persisted
    * ONCE and shared between the training iterations and the final
    * population count (a train-then-assign pair would re-project the
    * corpus from scratch for the count — a whole redundant read at scale). */
  def trainSummary(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val vecs = ppmProject(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val model = trainOn(vecs, k, iters)
      val counts = assignOn(vecs, model)
        .groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      import spark.implicits._
      model.centroids.zipWithIndex.flatMap { case (cp, c) =>
        cp.zipWithIndex.map { case (v, pos) =>
          (c, pos, v, counts.getOrElse(c, 0L)) }
      }.toSeq.toDF("cluster", "pos", "c_ppm", "n_vecs")
    } finally { vecs.unpersist(); () }
  }
}
