package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.SimilarityIvf
import graft.plans.VectorExpressions
import graft.sources.Tables

/** IVF recall curve vs brute force: the `sim_knn_graph` scale adjudication leans on "nprobe stays the
  * recall knob at scale", which was proven at sf0.01 but never at sf1.
  * This main measures recall against exact brute-force top-k on a
  * deterministic sampled query set, across nprobe ∈ {1, 2, 4, 8}, for
  * BOTH probe paths:
  *
  *  - the √N-cell graph index ([[SimilarityIvf.knnGraphIvf]], the
  *    `sim_knn_graph` posture — per-query recall@5 of the full graph
  *    restricted to the sampled sources);
  *  - the 16-cell probe index ([[SimilarityIvf.probeIndex]], the
  *    `sim_ann_ivf` operator — per-query recall@5 over a smaller sample,
  *    since each probe is its own partition-pruned job).
  *
  * Fixture note: a pure 10× REPLICATION of sf0.1 (shifting only vec_id)
  * gives every vector 9 bit-identical duplicates that saturate raw
  * recall@5 at 1.0 for ANY nprobe, so such a fixture can only be
  * measured dup-excluded (sim ≥ 1 − 1e-6). `tools/gen_scale.py` perturbs
  * replicas (deterministic ±0.05 elementwise noise, renormalized →
  * cos ≈ 0.97 to the original): replicas are honest NEAR-duplicates, but they still concentrate in the query's
  * own cell, so raw recall on a replication-derived fixture remains
  * EASIER than organic data — report the distinct-content number
  * (dupPpm ≈ 950000) alongside it.
  *
  * Usage: `runMain graft.tools.IvfRecall <sfDir> [graphSample] [probeSample] [dupPpm]`
  * Prints one JSON line per (path, dedup, nprobe) with the mean recall@5.
  * Results land in SCALING.md. `dupPpm` sets the near-dup
  * exclusion threshold for the dedup variant (default 999999 = exclude
  * only near-exact pairs; the perturbed fixture's replicas sit at
  * cos ≈ 0.97, so pass e.g. 950000 to measure DISTINCT-CONTENT recall
  * with the synthetic replicas excluded). */
object IvfRecall {

  val K = 5
  /** Fetch depth: enough rank room to step past the fixture's 9
    * replicated near-duplicates and still have K distinct-content
    * neighbors. */
  val Kfetch = 16
  val DefaultDupPpm = 999999L

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val graphSample = args.lift(1).map(_.toInt).getOrElse(200)
    val probeSample = args.lift(2).map(_.toInt).getOrElse(64)
    val dupPpm = args.lift(3).map(_.toLong).getOrElse(DefaultDupPpm)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Session.local(cpus)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, dir, graphSample, probeSample, dupPpm)
    finally spark.stop()
  }

  private def run(spark: SparkSession, dir: String, graphSample: Int,
                  probeSample: Int, dupPpm: Long): Unit = {
    import spark.implicits._
    // the knnGraphIvf zero-norm guard, mirrored so truth and IVF rank
    // over the same corpus
    val emb = Tables.embeddings(spark, dir)
      .filter(VectorExpressions.dotF(col("embedding"), col("embedding")) > 0)
      .cache()
    val n = emb.count()

    // deterministic hash-ordered sample — low vec_ids could correlate
    // with generation order and bias the cell distribution
    val sample = emb.orderBy(xxhash64(col("vec_id"))).limit(graphSample)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .cache()
    val qids = sample.select("qid").as[Long].collect().sorted

    // exact brute-force neighbors per sampled query: ground truth for
    // both variants (raw keeps everything; dedup drops near-exact pairs
    // BEFORE the rank cut so duplicates don't occupy the top-K slots)
    val pairs = emb.crossJoin(broadcast(sample))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("dst"),
        VectorExpressions.cosineF(col("embedding"), col("qvec")).as("sim"))
      .cache()
    def topK(df: DataFrame): DataFrame = df
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("dst"))))
      .filter(col("rank") <= K)
      .select("qid", "dst")
    val truthRaw = topK(pairs).cache()
    val truthDedup = topK(pairs.filter(col("sim") < lit(dupPpm / 1e6))).cache()
    println(s"""{"corpus":$n,"graph_sample":${qids.length},""" +
      s""""truth_raw":${truthRaw.count()},"truth_dedup":${truthDedup.count()}}""")

    // --- graph path: √N cells, the sim_knn_graph index sizing ---
    val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
    val graphIdx = java.nio.file.Files.createTempDirectory("ivf-recall-graph").toString
    SimilarityIvf.buildIndex(emb, graphIdx, nCells = nCells)
    Seq(1, 2, 4, 8).foreach { np =>
      // fetch deep (Kfetch), re-cut to K per variant — the duplicate rows
      // must not eat the answer's K slots in the dedup variant either
      val graph = SimilarityIvf.knnGraphIvf(spark, graphIdx, k = Kfetch, nprobe = np)
        .filter(col("src_id").isin(qids: _*))
        .select(col("src_id").as("qid"), col("dst_id").as("dst"),
          col("rank"), col("sim_ppm"))
        .cache()
      def recut(df: DataFrame): DataFrame = df
        .withColumn("r2", row_number().over(
          Window.partitionBy("qid").orderBy(asc("rank"))))
        .filter(col("r2") <= K).select("qid", "dst")
      val rawHits = recut(graph).join(truthRaw, Seq("qid", "dst")).count()
      val dedupHits = recut(graph.filter(col("sim_ppm") < dupPpm))
        .join(truthDedup, Seq("qid", "dst")).count()
      val denom = (qids.length.toLong * K).toDouble
      println(f"""{"path":"knn_graph","nCells":$nCells,"nprobe":$np,""" +
        f""""recall_raw":${rawHits / denom}%.4f,"recall_dedup":${dedupHits / denom}%.4f}""")
      graph.unpersist()
    }

    // --- probe path: the fixed 16-cell sim_ann_ivf index ---
    val probeIdx = java.nio.file.Files.createTempDirectory("ivf-recall-probe").toString
    SimilarityIvf.buildIndex(emb, probeIdx, nCells = 16)
    def truthMap(df: DataFrame) = df.as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truthRawMap = truthMap(truthRaw)
    val truthDedupMap = truthMap(truthDedup)
    val probeQs = qids.take(probeSample)
    val qVecs = sample.filter(col("qid").isin(probeQs: _*))
      .as[(Long, Array[Float])].collect().toMap
    Seq(1, 2, 4, 8).foreach { np =>
      var rawHit = 0; var dedupHit = 0
      probeQs.foreach { qid =>
        val got = SimilarityIvf.probeIndex(spark, probeIdx, qVecs(qid),
          k = Kfetch, nprobe = np, excludeIds = Seq(qid))
          .select(col("vec_id"), col("sim")).as[(Long, Double)].collect()
        rawHit += (got.take(K).map(_._1).toSet &
          truthRawMap.getOrElse(qid, Set.empty)).size
        dedupHit += (got.filter(_._2 < dupPpm / 1e6).take(K).map(_._1).toSet &
          truthDedupMap.getOrElse(qid, Set.empty)).size
      }
      val denom = (probeQs.length.toLong * K).toDouble
      println(f"""{"path":"probe16","nCells":16,"nprobe":$np,""" +
        f""""recall_raw":${rawHit / denom}%.4f,"recall_dedup":${dedupHit / denom}%.4f}""")
    }
  }
}
