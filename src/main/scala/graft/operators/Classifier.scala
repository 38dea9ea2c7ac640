package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Trained quality classifier — hashed bag-of-words logistic regression,
  * the fastText-shaped "distill the expensive scorer into a fast linear
  * model" step every large curation pipeline runs (CCNet/FineWeb-style:
  * label a corpus slice with an expensive signal, train a linear model
  * over hashed features, score the other 99.9% with one cheap map-side
  * pass). The reference has no trained models — this is part of the
  * engine's training-data surface, like Importance/KMeans/Bpe.
  *
  * Features: sparse hashed unigram buckets ([[graft.functions.FastHash
  * .tokenBuckets]], one tokenization pass, the tokenHashes contract)
  * with x_d = count_d / n_tokens — the fastText mean-of-one-hots, every
  * feature in [0,1] so fixed-rate GD is well-conditioned — plus a dense
  * saturating length feature min(n_chars/2000, 1) at index `dim` (a
  * pure-ratio featurization erases the absolute-length signal most
  * quality labels depend on) and an always-on bias at `dim+1`.
  *
  * Training is full-batch gradient descent with heavy-ball momentum
  * (driver-side velocity), one Spark job per iteration
  * (the [[KMeans]] round shape): weights (dim+1 doubles — KBs) ride a
  * broadcast into a per-doc kernel that emits quantized per-feature
  * gradient contributions; the ONLY exchange is the partial-agged
  * (feature, grad) sum — ≤ dim+2 rows wide regardless of corpus size —
  * and the weight update happens on the driver. The featurized corpus is
  * persisted MEMORY_AND_DISK across iterations (the iterative-ML trade
  * documented at [[KMeans.train]]).
  *
  * Determinism (golden-eligible): per-doc float math is row-local
  * StrictMath (fdlibm — bit-identical on every JVM, unlike Math.exp
  * which may bind to platform libm); cross-row sums are QUANTIZED nanos
  * (longs — associative, bit-stable under any partition layout); driver
  * updates are a fixed-order fold over the collected sums. Two trainings
  * at different partitionings produce identical models (ClassifierSpec
  * locks this).
  */
object Classifier {

  /** Trained model: `wNanos(d)` = weight of bucket d in integer nanos,
    * `wNanos(dim)` = length feature, `wNanos(dim+1)` = bias. Nanos are
    * the persistence format AND the scoring format (weights round-trip
    * bit-exactly through meta.json). */
  final case class Model(dim: Int, wNanos: Array[Long]) {
    require(wNanos.length == dim + 2, "weights must be dim+2 (length, bias)")
    def weights: Array[Double] = wNanos.map(_ / 1e9)
  }

  /** Chars at which the dense length feature saturates. */
  val LengthSaturationChars = 2000.0

  /** Training result: the model plus the per-iteration mean cross-entropy
    * loss in nanos (the convergence record ClassifierSpec asserts on). */
  final case class TrainResult(model: Model, lossNanos: Array[Long], nDocs: Long)

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + StrictMath.exp(-z))

  /** z = w·x over a featurized doc given dense weights: sparse buckets,
    * then the length feature at `dim`, then the bias. */
  private def dot(w: Array[Double], idx: Array[Int], xv: Array[Double],
                  xlen: Double): Double = {
    var z = w(w.length - 1) + w(w.length - 2) * xlen // bias + length
    var j = 0
    while (j < idx.length) { z += w(idx(j)) * xv(j); j += 1 }
    z
  }

  /** The shared per-doc featurization: sorted nonzero buckets with
    * x_d = count/total, plus the saturating length feature. Null text →
    * null (no tokens ⇒ only bias and length would vote; consistent with
    * the kernel-wide null contract). */
  private def features(text: String, dim: Int): (Array[Int], Array[Double], Double) = {
    val bc = graft.functions.FastHash.tokenBuckets(text, dim)
    if (bc == null) return null
    var total = 0L
    var j = 0
    while (j < bc._2.length) { total += bc._2(j); j += 1 }
    // a token-less doc has EMPTY bucket arrays (tokenBuckets' contract),
    // so the map below never divides by the zero total
    (bc._1, bc._2.map(c => c.toDouble / total),
      math.min(text.length / LengthSaturationChars, 1.0))
  }

  /** Featurize: (label, idx[], x[], xlen) rows with null-text /
    * null-label docs dropped (a null label is not a training example). */
  private def featurize(docs: DataFrame, labelCol: Column, dim: Int): DataFrame = {
    val featU = udf { (text: String) => features(text, dim) }
    docs.select(labelCol.cast("int").as("y"), featU(col("text")).as("f"))
      .filter(col("y").isNotNull && col("f").isNotNull)
      .select(col("y"), col("f._1").as("idx"), col("f._2").as("xv"),
        col("f._3").as("xlen"))
  }

  /** Train `iters` full-batch heavy-ball GD steps (v ← β·v + g,
    * w ← w − lr·v — momentum cuts the pass count ~4× over plain GD at
    * equal accuracy, and each pass is a whole corpus scan, the unit that
    * matters at scale). `labelCol` is any boolean/int column over `docs`
    * (the expensive signal being distilled — e.g. a quality-score
    * threshold). Defaults were tuned on the fixture corpus: 25 passes
    * reach held-out accuracy ≥ 95% distilling the quality heuristic. */
  def train(docs: DataFrame, labelCol: Column, dim: Int = 1024,
            iters: Int = 25, lr: Double = 5.0, momentum: Double = 0.9,
            cache: Boolean = true,
            initial: Option[Model] = None): TrainResult = {
    require(dim > 0 && iters >= 0 && lr > 0, "dim > 0, iters >= 0, lr > 0")
    require(momentum >= 0 && momentum < 1, "momentum in [0, 1)")
    initial.foreach(m => require(m.dim == dim,
      s"warm-start model dimension ${m.dim} != requested $dim"))
    val spark = docs.sparkSession
    val feats0 = featurize(docs, labelCol, dim)
    val feats = if (cache) feats0.persist(StorageLevel.MEMORY_AND_DISK) else feats0
    try {
      val n = feats.count()
      require(n > 0, "no labeled documents to train on")
      // warm start: continue from a persisted model's nanos-derived
      // doubles (continual distillation — retrain on a fresh corpus
      // slice without forgetting the published weights); velocity
      // restarts at zero, the standard warm-restart convention
      val w = initial.map(_.weights).getOrElse(new Array[Double](dim + 2))
      val v = new Array[Double](dim + 2)
      val losses = new Array[Long](iters)
      for (it <- 0 until iters) {
        val bc = spark.sparkContext.broadcast(w.clone())
        // per-doc kernel: quantized (feature, gradNanos) contributions,
        // length at `dim`, bias at `dim+1`, the doc's loss at -1 — ONE
        // exchange aggregates gradient AND loss together
        val gradU = udf { (y: Int, idx: Array[Int], xv: Array[Double], xlen: Double) =>
          val wv = bc.value
          val p0 = sigmoid(dot(wv, idx, xv, xlen))
          // clamp before log: a perfectly-separated doc must not emit -inf
          val p = math.min(1.0 - 1e-12, math.max(1e-12, p0))
          val err = p0 - y
          val out = new Array[(Int, Long)](idx.length + 3)
          var j = 0
          while (j < idx.length) {
            out(j) = (idx(j), StrictMath.round(err * xv(j) * 1e9))
            j += 1
          }
          out(idx.length) = (dim, StrictMath.round(err * xlen * 1e9))
          out(idx.length + 1) = (dim + 1, StrictMath.round(err * 1e9)) // bias
          val loss = -(y * StrictMath.log(p) + (1 - y) * StrictMath.log1p(-p))
          out(idx.length + 2) = (-1, StrictMath.round(loss * 1e9))
          out
        }
        val sums = feats.select(explode(
            gradU(col("y"), col("idx"), col("xv"), col("xlen"))).as("g"))
          .groupBy(col("g._1").as("d")).agg(sum(col("g._2")).as("s"))
          .collect()
        bc.destroy()
        // heavy-ball update, fixed feature order (deterministic): decay
        // EVERY velocity component first (features absent from this
        // pass's gradient rows still coast), then add the fresh gradient
        var d = 0
        while (d < v.length) { v(d) *= momentum; d += 1 }
        sums.foreach { r =>
          val dd = r.getInt(0)
          if (dd < 0) losses(it) = r.getLong(1) / n
          else v(dd) += (r.getLong(1) / 1e9) / n
        }
        d = 0
        while (d < w.length) { w(d) -= lr * v(d); d += 1 }
      }
      TrainResult(Model(dim, w.map(v => StrictMath.round(v * 1e9))), losses, n)
    } finally { if (cache) { feats.unpersist(); () } }
  }

  /** Append `score_ppm` + `predicted` to every row: map-side pass over
    * the broadcast weights (scan → project — no join, no aggregate, works
    * unchanged on a streaming DataFrame, which is the streaming twin).
    * score_ppm = sigmoid(w·x) in integer ppm; rows with null text score
    * NULL (not 50%). */
  def scored(docs: DataFrame, model: Model,
             textCol: Column = col("text")): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(model.weights)
    val dim = model.dim
    val scoreU = udf { (text: String) =>
      val f = features(text, dim)
      if (f == null) null
      else {
        val p = sigmoid(dot(bc.value, f._1, f._2, f._3))
        StrictMath.round(p * 1e6): java.lang.Long
      }
    }
    docs.withColumn("score_ppm", scoreU(textCol))
      .withColumn("predicted", when(col("score_ppm").isNull, lit(null).cast("int"))
        .otherwise((col("score_ppm") >= 500000).cast("int")))
  }

  /** Compact scoring projection: (doc_id, score_ppm, predicted). */
  def score(docs: DataFrame, model: Model): DataFrame =
    scored(docs.select(col("doc_id"), col("text")), model)
      .select("doc_id", "score_ppm", "predicted")

  /** Persist a trained model as the `v<N>/meta.json` of a versioned
    * artifact ([[graft.sources.Fs.writeVersioned]]): train once, score many. */
  def saveModel(spark: SparkSession, model: Model, path: String): Unit =
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      graft.sources.Fs.writeMeta(spark, vdir, model)
    }

  /** Load the `_current` version of a persisted model. */
  def loadModel(spark: SparkSession, path: String): Model = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no classifier model at $path (missing _current pointer — " +
        "run saveModel first)")
    // Model's own check (dim + 2 weights) runs inside the decode
    val model = graft.sources.Fs.readMeta[Model](spark, vdir, "run saveModel")
    require(model.dim > 0, s"persisted classifier model at $vdir is empty")
    model
  }
}
