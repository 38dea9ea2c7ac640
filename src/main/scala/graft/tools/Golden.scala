package graft.tools

import org.apache.spark.sql.SparkSession

/** One-shot generator for the committed golden parquets that promote
  * DETERMINISTIC rows-only queries to value-checked oracles (the pattern
  * established for `wave_analytics`): the DuckDB side of the correctness
  * gate reads the committed file while Spark recomputes the query, so any
  * behavior drift breaks the hash match.
  *
  * Eligibility is determinism, audited per query: pair sets are exact set
  * results of deterministic hash kernels; per-pair floats (est_jaccard,
  * cos_sim, entropy) are computed row-locally in one JVM kernel (no
  * cross-partition float accumulation, so bit-stable under any parallelism
  * or partition layout); orderings are total. `sim_ann_ivf` qualifies:
  * its k-means trains on the driver over a hash-ordered sample with 2^-20
  * fixed-point LONG sums, so the trained index is bit-stable.
  *
  * These goldens are regression locks on the engine's own semantics —
  * independent SEMANTIC verification lives in the ScalaTest invariants
  * (LSH candidates ⊇ exact duplicates, recall vs brute force, kernel
  * round-trips), and GoldenLockSpec re-derives every file from source on
  * each test run, so a stale or hand-edited golden cannot survive.
  */
object Golden {

  /** Deterministic rows-only queries, locked at the driver's verify scale
    * (eligibility rationale per query in the class doc above). */
  val queries = Seq("dd_minhash_lsh", "dd_simhash", "dd_winnow_overlap",
    "dd_embed_lsh", "sim_ann_lsh", "sim_ann_ivf", "t7_hash_throughput",
    "mm_features", "a7_approx_distinct", "sim_ann_int8", "ds_profile",
    // deflate(level 6) length is a pure function of the bytes GIVEN the
    // zlib the JVM links (Linux OpenJDK uses the system zlib, so a
    // zlib-ng host would emit different lengths). Stable here because
    // build, tests, and the driver's verify all run this container's
    // JVM; GoldenLockSpec re-derives per run and will flag an
    // environment change loudly — regenerate the golden then.
    "txt_compress_ratio",
    // PQ/ADC: codebooks from sim_ann_ivf's fixed-point k-means trainer;
    // the ADC table is driver-built in fixed order and the per-row sum
    // iterates subspaces in fixed order — no distributed float reduce
    // anywhere, so the result is bit-stable under any layout
    "sim_pq",
    // approx_percentile over integer cents with fixed accuracy: the GK
    // summary's merge is order-sensitive in general, but Q23ApproxSpec
    // locks partition-layout invariance (repartition(1)/(13)/by-value all
    // bit-equal) before this golden can lock values — if a Spark upgrade
    // makes the merge layout-dependent, the spec fails first with a
    // readable message
    "q23_percentiles_approx",
    // BPE: word counts are exact integers and the merge argmax tie-breaks
    // totally (count desc, pair lexicographic), so the learned merge
    // sequence — and with it every per-doc token count — is bit-stable
    // under any partitioning; BpeSpec verifies the algorithm against the
    // hand-computed Sennrich et al. example
    "txt_bpe",
    // dHash near-dups: the synthetic PNGs are deterministic pixel
    // functions of doc_id, the JDK's ImageIO round-trip is lossless for
    // TYPE_BYTE_GRAY PNG, and the gradient-sign hash plus banded Hamming
    // pairing is pure integer logic — bit-stable under any partitioning;
    // MultimodalHashSpec verifies invariances (brightness shift = same
    // hash, inverted segment = few bits, cross-family = far)
    "mm_phash",
    // audio constellation near-dups: the synthetic WAVs are deterministic
    // sample functions of doc_id (RIFF bytes built directly), the PCM
    // decode is exact integer scaling, and the FFT of bin-aligned tones
    // puts peak maxima at deterministic bins far above the relative
    // noise floor — bit-stable like mm_phash; MultimodalHashSpec locks
    // gain invariance and the planted family structure
    "mm_audio_fp",
    // dedup resolution over mm_phash's pairs: connected components with
    // total tie-breaking (min label propagation) + per-cluster min/count
    // aggregates — deterministic composition of two bit-stable stages
    "mm_dedup_keep",
    // index probe: same deterministic hash family as mm_phash, split
    // into indexed corpus (unperturbed) vs arrivals (perturbed); the
    // banded index join is set-semantics (distinct) so layout-free
    "mm_index_probe",
    // BPE-keyed packing: txt_bpe's bit-stable counts (see above) composed
    // with packSequences' integer prefix sums — deterministic at any
    // partitioning and bucket size (the offsets are a pure function of
    // (doc_id, count) pairs; adaptive bucketing is a plan property)
    "ds_bpe_pack",
    // full-corpus Lloyd's: ppm-floored components, LONG sums (associative
    // → bit-stable under any partition layout), lowest-id argmin ties,
    // RNG-free (xxhash64, vec_id)-ordered seed draw, truncating-div
    // centroid updates — every step total-ordered integer math
    "sim_kmeans",
    // distilled quality classifier: per-doc float math is row-local
    // StrictMath (fdlibm — bit-identical on every JVM); cross-row
    // gradient/loss sums are quantized nanos (longs, associative), so the
    // trained model — and with it every score — is bit-stable under any
    // partition layout; ClassifierSpec locks repartition invariance
    "ds_quality_model",
    // same bit-stable scoring, total orderings (margin desc + doc_id /
    // bin): the label-noise queue and the calibration deciles inherit
    // ds_quality_model's determinism argument
    "ds_label_noise", "ds_model_calibration",
    // IVF-probed hard negatives: the persisted index is bit-stable
    // (sim_ann_ivf's fixed-point argument), probe-cell ranking is a
    // total order on the driver, per-pair cosine is row-local, and the
    // (cos desc, neg_id) rank order is total
    "ds_hard_negatives_ivf",
    // k-NN graph: same bit-stable index; probe cells are a pure kernel
    // of (vector, centroids), pair dedup is exact-key, per-pair cosine
    // is row-local, and the (sim desc, dst_id) rank and (src, rank)
    // output orders are total — no distributed float reduce anywhere
    "sim_knn_graph",
    // model-gated curation: bit-stable scoring (ds_quality_model's
    // argument) composed with the dedup window's total (keep_q desc,
    // doc_id) order and integer funnel counts
    "ds_curate_model",
    // merged-HLL distinct estimates: Datasketches register/coupon merges
    // are element-wise max / set union — commutative, associative,
    // idempotent — so the merged sketch and its INTEGER estimate are
    // bit-stable under any partitioning or merge order (the
    // a7_approx_distinct argument); MaintenanceSpec independently locks
    // estimate≈exact and replay idempotence
    "ev_rollup_distinct_hll",
    // Bradley–Terry strengths: the input win matrix is exact integers
    // (ds_tournament — its own pure-SQL oracle), and the MM solver is
    // driver-side fixed-point BigInt with truncating division, a fixed
    // iteration count, and total-order normalization — no float anywhere,
    // so the scores are bit-stable under any partitioning or cluster
    // layout; EloBtSpec independently locks dominance/symmetry semantics
    "ds_elo_bt")

  val sfDir = "/root/testdata/sf0.01"

  /** Shared golden-session factory (also used by [[GoldenWave]]): the
    * project posture ([[graft.Session.local]]) at 4 cores, quiet logs. */
  def session(): SparkSession = {
    val spark = graft.Session.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Export a DataFrame as ONE parquet file at `dst` (also used by
    * [[GoldenWave]]): coalesce to a single part in a temp dir, then copy
    * the part file into place. */
  def writeGolden(df: org.apache.spark.sql.DataFrame, dst: java.nio.file.Path): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("golden").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.copy(part.toPath, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"golden written: $dst")
  }

  def main(args: Array[String]): Unit = {
    val outDir = "/root/repo/golden/sf0.01"
    // optional args = subset of query names to regenerate: goldens are
    // value- but not byte-identical across runs, so regenerating ALL for
    // a one-query change churns the committed files for nothing
    val only = args.toSet
    val unknown = only.diff(queries.toSet)
    require(unknown.isEmpty,
      s"unknown golden query name(s): ${unknown.mkString(", ")} — " +
        s"known: ${queries.mkString(", ")}")
    val spark = session()
    queries.filter(n => only.isEmpty || only.contains(n)).foreach { name =>
      writeGolden(graft.SparkEntry.queries(name)(spark, sfDir),
        java.nio.file.Paths.get(outDir, s"$name.parquet"))
    }
    spark.stop()
  }
}
