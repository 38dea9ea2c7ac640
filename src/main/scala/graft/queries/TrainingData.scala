package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics._
import graft.operators.{Curation, Dedup, Similarity, SimilarityIvf, SimilarityPq}
import graft.sources.Tables

/** Training-data-pipeline operators over the `documents` / `embeddings`
  * fixtures (SURVEY §7.9): dedup family, text analysis, similarity search.
  * Oracle-checked where the op is exactly SQL-expressible in DuckDB;
  * MinHash/SimHash/ANN use engine-specific hashes and get rows-only checks
  * plus ScalaTest invariants (candidates ⊇ exact matches, recall vs brute
  * force).
  */
object TrainingData {

  def ddExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir))

  def ddJaccardWords(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), sampleMod = 10, threshold = 0.9)

  def ddMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir), shingleN = 2, k = 64,
        bands = 16, threshold = 0.5)

  def ddSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 3)

  def txtLangId(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val (en, data, compute) = langScores(t)
    Tables.documents(spark, dir)
      .select(col("doc_id"), en.as("en_hits"), data.as("data_hits"),
        compute.as("compute_hits"))
      .withColumn("predicted",
        langPredict(col("en_hits"), col("data_hits"), col("compute_hits")))
  }

  /** Per-source readability (Flesch reading-ease, integer-quantized):
    * the curation signal that separates prose from listings/code at a
    * glance. Counts are the crude public proxies — sentences as
    * terminal-punctuation runs, words as ws tokens, syllables as vowel
    * groups — summed per source, then the Flesch formula in exact milli
    * units with the two-step truncating division as THE spec
    * (206.835 − 1.015·words/sentences − 84.6·syllables/words, each term
    * scaled ×1000 and floored independently — replayed verbatim by the
    * oracle). One kernel scan, source-sized fold, zero floats. */
  def txtReadability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        regexp_count(col("text"), lit("[.!?]+")).cast("long").as("sentences"),
        wsTokenCount(col("text")).cast("long").as("words"),
        regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long")
          .as("syllables"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("sentences").as("sentences"),
        sum("words").as("words"),
        sum("syllables").as("syllables"))
      .withColumn("flesch_milli", expr(
        "206835 - (1015 * words) div greatest(sentences, 1)" +
          " - (84600 * syllables) div greatest(words, 1)"))

  /** Per-source keyword profile (the corpus-card view of "what
    * characterizes each source"): top-5 distinctive terms per source by
    * the txt_tfidf ranking recipe lifted to source grain — term frequency
    * within the source, document-frequency penalty counted over SOURCES
    * (integer-exact ordering: tf desc, source-df asc, term asc; no float
    * score crosses an engine boundary). One tokenized scan → one
    * (source, word) fold; the source-df window and the top-5 rank run
    * over the vocabulary-sized aggregate, cut by WindowGroupLimit. */
  def txtSourceKeywords(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(w.partitionBy("tok")))
      .withColumn("rank", row_number().over(
        w.partitionBy("source").orderBy(desc("tf"), asc("df"), asc("tok"))))
      .filter(col("rank") <= 5)
      .select("source", "tok", "tf", "df", "rank")
  }

  /** Dedup impact report: what exact dedup actually buys, per source —
    * docs and tokens before/after keeping one canonical copy (global
    * min-doc_id per normalized fingerprint, the [[ddExact]] rule), with
    * the token-level removal rate in exact ppm. The numbers a curation
    * run reads to decide whether near-dup passes are worth their cost
    * on this corpus. One kernel scan + one fingerprint-keyed window
    * (hashes ride the exchange, never text), then a source-sized fold. */
  def dsDedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        fingerprint(col("text")).as("fp"),
        size(filter(words(col("text")), x => length(x) > 0))
          .cast("long").as("n_tokens"))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_tokens").as("tokens_total"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("tokens_kept"))
      .withColumn("removed_ppm", expr(
        "(tokens_total - tokens_kept) * 1000000 div greatest(tokens_total, 1)"))
  }

  /** Language/topic-marker confusion audit: how the [[txtLangId]]
    * predictor distributes over the corpus's ACTUAL lang labels — the
    * per-(lang, predicted) counts and within-lang shares (exact ppm) a
    * curation run reads before trusting the classifier on a new corpus
    * mix. One kernel scan; the share window runs over the class-pair-
    * sized aggregate rows (ev_transitions pattern). */
  def txtLangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val (en, data, compute) = langScores(col("text"))
    Tables.documents(spark, dir)
      .select(col("lang"), langPredict(en, data, compute).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("n * 1000000 div sum(n) over (partition by lang)"))
  }

  /** Dedup yield curve: how many near-dup pairs (and docs touched) each
    * candidate Jaccard threshold would flag — the sweep an operator reads
    * before committing a threshold, priced as ONE run of the sampled
    * verifier instead of five. The threshold comparison is an exact
    * integer cross-multiply (`inter·1000 ≥ t·uni` — no float J crosses an
    * engine boundary); the docs side re-aggregates the pair table (pair
    * counts and distinct-doc counts need different grains), both over the
    * require-capped sampled pair set, never the corpus. */
  def ddThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardPairs(Tables.documents(spark, dir),
        sampleMod = 10, threshold = 0.5)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
    val swept = pairs.select(col("a_id"), col("b_id"), col("inter"), col("uni"),
        explode(expr("array(500, 600, 700, 800, 900)")).as("t_permille"))
      .filter(col("inter") * 1000 >= col("t_permille") * col("uni"))
    val nPairs = swept.groupBy("t_permille").agg(count(lit(1)).as("n_pairs"))
    val nDocs = swept
      .select(col("t_permille"), explode(array(col("a_id"), col("b_id"))).as("d"))
      .groupBy("t_permille").agg(countDistinct("d").as("n_docs"))
    nPairs.join(nDocs, Seq("t_permille"))
  }

  def txtQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        nChars(col("text")).as("n_chars_m"),
        wsTokenCount(col("text")).as("n_words"),
        punctCount(col("text")).as("n_punct"),
        alphaRatio(col("text")).as("alpha_ratio"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        qualityScore(col("text")).as("quality"))

  def txtTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        wsTokenCount(col("text")).as("ws_tokens"),
        bpeTokenCount(col("text")).as("bpe_tokens"))

  def txtFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Vocabulary top-k: explode words → count → top 50 by frequency.
    * Partial-aggregates before the shuffle; top-k is TakeOrdered. */
  def txtTopWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(50)

  /** Bigram vocabulary top-k — the tokenizer-training counterpart of
    * [[txtTopWords]]: corpus-wide counts of adjacent word pairs (merge
    * candidates for a BPE-style vocabulary build). Pairs are formed
    * map-side by a native transform-over-slice (codegen, no UDF) after
    * dropping empty tokens, so the only exchange is the partial-agg
    * count shuffle and top-k is TakeOrdered — the same scale shape as
    * the unigram query at 2× the exploded rows. */
  def txtBigrams(spark: SparkSession, dir: String): DataFrame =
    // one kernel pass builds the pairs — the filter/transform/slice
    // HOF chain is CodegenFallback (interpreted per token); same bigram
    // strings (property-locked), same explode-of-empty for < 2 tokens
    Tables.documents(spark, dir)
      .select(explode(graft.functions.FastHash.lowerBigramsCol(
        lower(col("text")))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(100)

  /** Corpus length statistics with exact decimal averaging. */
  def txtLengthStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        sum("n_chars").as("sum_chars"),
        (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"))

  /** JSON metadata extraction (the S5/S7 decode path: JSONB metadata column,
    * `/root/reference/pkg/internal/adapter/postgresclient/sql.go:52-55`):
    * native JSON-path op in Spark, value-aligned regexp in the oracle. */
  def evJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))

  def simCosineTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, dir), queryId = 0L, k = 10)

  /** Per-label embedding centroids — the class-prototype op of
    * embedding-space curation (assign-to-nearest-centroid, outlier
    * scoring, per-class drift). Output is (label, pos, n, sum_ppm): one
    * row per dimension with the component sum in integer ppm, so the
    * centroid is sum_ppm / n / 1e6 and the oracle is hash-exact —
    * float sums are order-dependent across engines, floor-of-double in
    * fixed point is not (same rule as every float aggregate here).
    * Scale shape: posexplode is map-side (rows × dim narrow rows, no
    * text), partial HashAggregate before the one (label, pos) exchange;
    * output is |labels| × dim rows — tiny at any corpus size. */
  def simCentroids(spark: SparkSession, dir: String): DataFrame =
    centroidSums(spark, dir)

  /** The centroid-sum kernel [[simCentroids]] and the other consumers
    * ([[simAssign]] etc.) share. The declared query adds no presentation
    * sort on top: the driver compares results as sorted multisets, so a
    * presentation sort changes nothing and the two are one frame. */
  private def centroidSums(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("label"), (col("pos0") + 1).as("pos"),
        floor(col("v").cast("double") * 1000000d).as("v_ppm"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("v_ppm").as("sum_ppm"))

  def simAnnLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, dir), queryId = 0L, k = 10)

  /** The integer-ppm projection shared by the centroid consumers: vectors
    * quantized to longs, restricted to WELL-FORMED embeddings (non-empty,
    * no null elements) — Spark's `aggregate` propagates nulls while
    * DuckDB's `list_sum` skips them, so the oracle contract excludes
    * malformed vectors identically on both sides (the streaming twin
    * returns a null assignment for the same rows). */
  private def ppmVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorQuant
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        VectorQuant.ppmVec(col("embedding")).as("vp"))
      .filter(VectorQuant.isWellFormedPpm(col("vp")))
  }

  /** Centroid vectors as position-ordered ppm arrays, one row per label —
    * the broadcast side of [[simAssign]]/[[simOutliers]]. */
  private def centroidArrays(spark: SparkSession, dir: String): DataFrame =
    centroidSums(spark, dir)
      .select(col("label"), col("pos"), expr("sum_ppm div n").as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cp"))

  private val ppmDistSq =
    "aggregate(zip_with(vp, cp, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"

  /** Per-label outlier candidates: the k vectors farthest from their OWN
    * label's centroid — the noise/mislabel review queue that closes the
    * centroid triple (centroids → assignment → outliers). Same integer-
    * ppm arithmetic as [[simAssign]]; the per-label top-k is a window
    * rank (WindowGroupLimit prunes per partition), and the centroid side
    * joins broadcast, so the only rows-scale exchange is the (label)
    * window shuffle. */
  def simOutliers(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(desc("d2"), asc("vec_id"))
    ppmVectors(spark, dir)
      .join(broadcast(centroidArrays(spark, dir)), Seq("label"))
      .withColumn("d2", expr(ppmDistSq))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("label"), col("rk"), col("vec_id"), col("d2"))
  }

  /** The centroid snapshot for the map-side argmin: [[centroidArrays]]
    * collected (guard-limited — a centroid table is |labels| rows by
    * construction) in the same integer-ppm space the streaming twin
    * broadcasts. This is the model-build job of the assignment, run once
    * per call here and out-of-band in a real pipeline. */
  private def centroidSnapshot(spark: SparkSession, dir: String): Seq[(Int, Array[Long])] = {
    val rows = centroidArrays(spark, dir).limit(100001).collect()
    require(rows.length <= 100000, s"centroid table unexpectedly large: ${rows.length} labels")
    rows.toSeq.map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
  }

  /** Assign every vector to its nearest class centroid ([[simCentroids]]'
    * consumer): the embedding-space curation primitive — label-agreement
    * auditing (is_match), mislabel candidates, per-class drift. All
    * arithmetic is integer ppm (vector components floored, centroids
    * truncating-div), so distances are exact longs and the oracle
    * hash-matches; squared-distance fits comfortably (diff ≤ ~4e6 ppm,
    * squared × dims ≪ 2⁶³). Scale shape: the centroids are |labels| × dim
    * — a driver snapshot + executor broadcast by construction — and the
    * argmin is the shared [[graft.functions.VectorQuant.argminCentroid]]
    * fold (one kernel with the streaming twin), so the whole assignment is
    * a stateless map-side projection: scan → project → presentation sort,
    * no join, no aggregate. The earlier crossJoin(broadcast)+min(struct)
    * formulation partial-folded the argmin map-side but still materialized
    * rows × |labels| candidates and paid two sorts around a rows-scale
    * exchange; the fold emits the winner directly. */
  def simAssign(spark: SparkSession, dir: String): DataFrame = {
    val bc = spark.sparkContext.broadcast(centroidSnapshot(spark, dir))
    val assign = udf { (vp: Seq[Long]) =>
      graft.functions.VectorQuant.argminCentroid(vp.toArray, bc.value)
    }
    ppmVectors(spark, dir).withColumnRenamed("label", "true_label")
      .withColumn("__a", assign(col("vp")))
      .select(col("vec_id"), col("true_label"),
        col("__a._1").as("assigned_label"),
        col("__a._2").as("d2"),
        (col("true_label") === col("__a._1")).as("is_match"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023,
    * arXiv:2303.09540 — public paper): cluster the embedding space, find
    * near-duplicate pairs ONLY within a cluster, resolve them into
    * groups, and keep one representative per group — the member FARTHEST
    * from its centroid (the paper's keep-low-centroid-similarity rule:
    * prototypical members carry the least marginal information), ties to
    * the lowest vec_id. Singletons are their own group and always kept.
    *
    * Composition: the cluster model is the per-label ppm centroid table
    * ([[simCentroids]]) with the shared map-side argmin
    * ([[graft.functions.VectorQuant.argminCentroid]]); pair discovery is
    * the exact sampled verifier scoped to a cluster (quadratic by design
    * — the require guard bounds the largest cluster, and the scalable
    * candidate path is [[graft.operators.Similarity.cosineNearDupPairs]]
    * restricted to cluster-agreeing pairs); group resolution is
    * [[graft.operators.Dedup.connectedComponents]]. Cluster-scoping is
    * what makes semantic dedup tractable at 100 TB: the pair space drops
    * from O(N²) to Σ|cluster|², and every post-assignment exchange
    * carries (vec_id, cluster, d2) — never the embedding. */
  def simSemdedup(spark: SparkSession, dir: String,
                  sampleMod: Int = 2, threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.plans.VectorExpressions.dotF _
    val bc = spark.sparkContext.broadcast(centroidSnapshot(spark, dir))
    val assignU = udf { (vp: Seq[Long]) =>
      graft.functions.VectorQuant.argminCentroid(vp.toArray, bc.value)
    }
    val assigned = ppmVectors(spark, dir)
      .filter(col("vec_id") % sampleMod === 0)
      .withColumn("__a", assignU(col("vp")))
      .select(col("vec_id"), col("__a._1").as("cluster"), col("__a._2").as("d2"))
      .localCheckpoint(false)
    // quadratic-verifier guard: per-cluster pair work is |cluster|²/2
    val maxCluster = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(coalesce(max("n"), lit(0L))).head().getLong(0)
    require(maxCluster <= Dedup.maxVerifierSample,
      s"largest cluster has $maxCluster vectors (cap ${Dedup.maxVerifierSample}); " +
        "raise sampleMod — the scalable pair path is cosineNearDupPairs")
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nm"))
    val sample = assigned.join(vecs, "vec_id")
    val a = sample.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_v"), col("nm").as("a_n"))
    val b = sample.select(col("cluster").as("cluster_b"), col("vec_id").as("b_id"),
      col("embedding").as("b_v"), col("nm").as("b_n"))
    val pairs = a.join(b, col("cluster") === col("cluster_b") && col("a_id") < col("b_id"))
      // zero-norm vectors give 0/0 = NaN which sorts above every double
      .filter(col("a_n") > 0 && col("b_n") > 0)
      .filter(dot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")) >= threshold)
      .select("a_id", "b_id")
    val cc = Dedup.connectedComponents(assigned.select("vec_id"), pairs, idCol = "vec_id")
      .select(col("vec_id"), col("cluster_id").as("group_id"))
    val sizes = cc.groupBy(col("group_id").as("gid")).agg(count(lit(1)).as("group_size"))
    val w = Window.partitionBy("group_id").orderBy(desc("d2"), asc("vec_id"))
    cc.join(assigned, "vec_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(sizes, col("group_id") === col("gid"))
      .select("vec_id", "group_id", "group_size", "cluster", "d2")
  }

  def ddWinnowOverlap(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlapPairs(Tables.documents(spark, dir), minShared = 10, maxDocFreq = 20)

  def ddEmbedExact(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsExact(Tables.embeddings(spark, dir), sampleMod = 2, threshold = 0.4)

  def ddEmbedLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(Tables.embeddings(spark, dir), threshold = 0.4)

  /** Multimodal feature extraction over binary media columns (stub codec;
    * the Spark-side plumbing — schema, per-partition batching, error
    * routing — is the real deliverable). Rows-only check. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.extractFeatures(Multimodal.syntheticMedia(Tables.documents(spark, dir)))
      .toDF()
      .select(col("media_id"), col("kind"), col("byteLen"), col("meanByte"),
        col("entropy"), col("ok"))
  }

  /** Image near-duplicate pairs over REAL decoded pixels
    * ([[Multimodal.imageNearDups]]): every 7th doc becomes a deterministic
    * 32×24 grayscale PNG (encoded AND decoded by the JDK's ImageIO — the
    * full real codec path), hashed with the 64-bit dHash gradient
    * fingerprint, and paired within Hamming ≤ 6 via the same banded
    * machinery as text SimHash. Family-sharing docs collide exactly;
    * the every-5th-doc inverted segment lands a few bits away. */
  def mmPhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0)
    Multimodal.imageNearDups(Multimodal.syntheticImages(docs))
  }

  /** Audio near-duplicate pairs over REAL decoded PCM
    * ([[Multimodal.audioNearDups]]): every 7th doc becomes a
    * deterministic three-tone 16-bit WAV (RIFF bytes built directly,
    * decoded by the real javax.sound stack), fingerprinted with the
    * 64-bit spectral constellation, and paired within Hamming ≤ 2 via
    * the same banded machinery as SimHash and dHash. */
  def mmAudioFp(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0)
    Multimodal.audioNearDups(Multimodal.syntheticAudio(docs))
  }

  /** End-to-end image dedup resolution ([[Multimodal.dedupKeep]]): the
    * mm_phash pairs resolved through connected components to the kept
    * corpus — lowest id per near-dup cluster plus absorption counts. */
  def mmDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.syntheticImages(
      Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0))
    // checkpoint the narrow hash rows so the decode+hash scan runs ONCE
    // for both consumers (the pairing and the cluster-node set)
    val hashes = Multimodal.imageDHashes(media).toDF().localCheckpoint(false)
    Multimodal.dedupKeep(hashes, Multimodal.imageNearDupsFromHashes(hashes))
  }

  /** Paths this JVM already built, across ALL memoized index families
    * (mm/ivf/pq/span) — build once, probe many (the production shape).
    * Marked built only AFTER a successful build (a throwing build must
    * not poison the memo: later calls would die on "no index"), and
    * first-builds are serialized so a concurrent second call cannot
    * probe before `_current` is published. A fresh JVM always rebuilds,
    * so a kernel change can never probe stale artifacts (GoldenLockSpec's
    * per-run re-derivation stays honest). */
  private val idxBuilt = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val idxBuildLock = new Object

  /** Memoized versioned-index build: the tmpdir path for (`dir`, `tag`),
    * built via `build(path)` exactly once per JVM under [[idxBuildLock]].
    * md5 of the dir, not hashCode: a 32-bit collision would silently
    * probe another corpus's index and return wrong results. The key also
    * folds in every fixture file's (name, length, mtime): the driver is
    * known to regenerate testdata between rounds, and a memo keyed on
    * the dir alone would then serve an artifact trained on the OLD
    * corpus — silently wrong values, no error. A content change rekeys,
    * which both busts the in-JVM memo and lands the rebuild in a fresh
    * tmp path. */
  private def memoizedIndex(dir: String, tag: String)(build: String => Unit): String = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir:$tag:$files".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val path = s"${sys.props("java.io.tmpdir")}/graft-$tag-index-$key"
    idxBuildLock.synchronized {
      if (!idxBuilt.contains(path)) {
        build(path)
        idxBuilt.add(path)
      }
    }
    path
  }

  /** Incremental media dedup through the PERSISTED hash index
    * ([[Multimodal.buildHashIndex]]/[[Multimodal.probeHashIndex]]): the
    * unperturbed family members are the indexed corpus, the perturbed
    * every-5th docs are the arriving batch — each arrival must surface
    * its family within the Hamming budget via the index, not a rescan.
    * Index build is memoized per corpus dir like sim_ann_ivf's (build
    * once, probe many — the production shape). */
  def mmIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0)
    // ONE eligibility pipeline for both sides (the imageNearDupsFromHashes
    // guard), so the contract cannot drift between corpus and arrivals
    def eligibleHashes(d: DataFrame): DataFrame =
      Multimodal.imageDHashes(Multimodal.syntheticImages(d)).toDF()
        .filter(col("ok") && col("dhash") =!= 0L)
    val path = memoizedIndex(dir, "mmhash") { p =>
      Multimodal.buildHashIndex(
        eligibleHashes(docs.filter(col("doc_id") % 5 =!= 0)),
        p, "dhash", maxHamming = 6)
    }
    Multimodal.probeHashIndex(spark, path,
        eligibleHashes(docs.filter(col("doc_id") % 5 === 0)),
        "dhash", maxHamming = 6)
  }

  /** HTML extraction: wrap each document in a deterministic HTML envelope
    * (title/style/script/comment noise), then strip back to visible text
    * with the real extractor (TextAnalytics.htmlToText — pure regexp chain,
    * map-side only). The oracle rebuilds the same envelope and strips it
    * with an independently-written DuckDB regexp chain. */
  def txtHtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style>p{color:red}</style></head><body><h1>Doc "),
      col("doc_id"), lit("</h1><p>"), col("text"),
      lit("</p><script>var x=1;</script><!-- note --></body></html>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalytics.htmlToText(html).as("extracted"))
      .withColumn("n_chars_x", length(col("extracted")))
  }

  /** PII redaction: documents get a deterministic contact-info suffix
    * (email + phone), which the redactor masks. Counts are taken before
    * masking. Map-side regexp only. */
  def txtRedact(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    val pii = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalytics.emailCount(pii).as("n_emails"),
        TextAnalytics.phoneCount(pii).as("n_phones"),
        TextAnalytics.redactPii(pii).as("redacted"))
  }

  /** T5-style span corruption ([[TextAnalytics.spanCorrupt]]) — the
    * denoising-objective transform: deterministic Lehmer-seeded masked
    * spans, corrupted input + target per doc, fingerprinted so the
    * DuckDB oracle checks the exact strings (the sim_rp hash-replay
    * precedent). Map-side scalar over one scan. */
  def dsSpanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    val u = udf { (t: String, id: Long) =>
      graft.functions.TextAnalytics.spanCorrupt(t, id)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), u(col("text"), col("doc_id")).as("c"))
      .select(col("doc_id"),
        col("c._1").cast("long").as("n_words"),
        col("c._2").cast("long").as("n_masked"),
        md5(col("c._3")).as("input_fp"),
        md5(col("c._4")).as("target_fp"))
  }

  /** FIM (fill-in-the-middle) transform — the code-LM counterpart of
    * [[dsSpanCorrupt]]: two Lehmer draws pick CHARACTER split points
    * p1 ≤ p2; the training string is prefix + <fim> + suffix and the
    * completion is the middle (PSM order). Pure substring arithmetic on
    * both engines — 1-based substr everywhere, md5 locks the pieces.
    * Null text → null row values; the split points are a pure function
    * of (doc_id, n_chars) so the transform is reproducible at any
    * partitioning.
    *
    * BMP-only contract: "character" here means UTF-16 code unit — Spark's
    * `length`/`substring` count code units while DuckDB's `length`/
    * `substr` count code points, so on any non-BMP text (emoji,
    * supplementary CJK) the two engines pick different split points and
    * the fingerprints diverge; a surrogate pair can also be cut in half.
    * The oracle contract therefore requires BMP-only input (asserted on
    * the fixture by the spec). For arbitrary text, pre-normalize, or
    * derive n from a code-point count on both engines and split on
    * code-point offsets. */
  def dsFim(spark: SparkSession, dir: String): DataFrame = {
    val n = length(col("text"))
    // two 31-bit Lehmer draws on (doc_id, n): the SECOND multiplicative
    // round decorrelates the salts — without it draw(2) = draw(1) + 1
    // and the middle degenerates to one character (review-pass catch)
    def draw(salt: Int) =
      pmod(pmod(col("doc_id") * 48271L + n * 16807L + lit(salt),
        lit(2147483647L)) * 48271L, lit(2147483647L))
    val p1 = (draw(1) % greatest(n, lit(1))) + 1 // in [1, n]
    val p2 = (draw(2) % greatest(n, lit(1))) + 1
    val lo = least(p1, p2)
    val hi = greatest(p1, p2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), n.cast("long").as("n_chars"),
        lo.cast("long").as("lo"), hi.cast("long").as("hi"))
      .select(col("doc_id"), col("n_chars"), col("lo"), col("hi"),
        md5(concat(expr("substring(text, 1, cast(lo - 1 as int))"),
          lit("<fim>"),
          expr("substring(text, cast(hi as int), cast(n_chars - hi + 1 as int))")))
          .as("psm_fp"),
        md5(expr("substring(text, cast(lo as int), cast(hi - lo as int))"))
          .as("middle_fp"))
  }

  /** The MODEL-GATED curation pipeline — [[dsCurate]]'s funnel with the
    * distilled classifier as the quality gate instead of the raw
    * heuristic thresholds (the production shape: heuristics label a
    * slice, the trained model gates the corpus; scoring is one cheap
    * map-side pass). Keep = model says quality (score ≥ 50%) AND the doc
    * wins its bag-of-words dedup group, quality rows preferred — same
    * one-window funnel shape as dsCurate, same shared bow identity.
    * Golden-locked (scoring bit-stable, orders total). */
  def dsCurateModel(spark: SparkSession, dir: String): DataFrame =
    curationFunnel(
      graft.operators.Classifier.scored(
        Tables.documents(spark, dir), qualityModel(spark, dir))
        .select(col("doc_id"), col("source"),
          bowFingerprint(col("text")).as("fp_bow"),
          // null-text docs score NULL — they are not quality, not a
          // three-valued maybe (coalesce keeps the window order total)
          coalesce(col("predicted") === 1, lit(false)).as("keep_q")),
      qualityCountName = "n_model_quality")

  /** Hard negatives through the persisted IVF index
    * ([[SimilarityIvf.hardNegativesIvf]]) — the scale path of
    * [[dsHardNegatives]]: each vector meets only the anchors probing its
    * cell (nprobe/nCells of the brute pair count). Golden-locked: the
    * index is bit-stable (sim_ann_ivf's argument) and the cosine/rank
    * math is row-local with a total order; the recall-vs-brute invariant
    * lives in IvfSpec. */
  def dsHardNegativesIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = memoizedIndex(dir, "ivf") { p =>
      SimilarityIvf.buildIndex(emb, p, nCells = 16)
    }
    SimilarityIvf.hardNegativesIvf(spark, path,
      emb.filter(col("vec_id") % 10 === 0), k = 5, lo = 0.25, hi = 0.95)
  }

  /** Per-dimension whitening statistics
    * ([[graft.operators.Similarity.whitenStats]]): exact integer
    * (n, mean_ppm, var_ppm2) per embedding dimension — the
    * standardization artifact, oracle-checked. */
  def simWhiten(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.whitenStats(Tables.embeddings(spark, dir))

  /** Contrastive hard-negative mining
    * ([[graft.operators.Similarity.hardNegatives]]): per sampled anchor,
    * the 5 most-similar OTHER-label vectors with cosine in [0.25, 0.95) —
    * the metric-learning batch-construction step. Anchors broadcast with
    * norms; one corpus pass; per-anchor top-k via WindowGroupLimit. */
  def dsHardNegatives(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.hardNegatives(Tables.embeddings(spark, dir),
      sampleMod = 10, k = 5, lo = 0.25, hi = 0.95)

  /** The positives half of contrastive-pair construction
    * ([[Similarity.positivePairs]]): per anchor, the 5 most-similar
    * SAME-label vectors inside [0.2, 0.9999) — hi < 1 keeps exact
    * duplicates out of the positive set. Same scoring kernel as
    * [[dsHardNegatives]], so a contrastive batch's two halves agree. */
  def dsPositivePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.positivePairs(Tables.embeddings(spark, dir),
      sampleMod = 10, k = 5, lo = 0.2, hi = 0.9999)

  /** Unicode normalization ([[TextAnalytics.normalizeText]]): documents
    * get a deterministic mess injected — leading tab, a combining-accent
    * sequence (e + U+0301, NFC-composes to é), an NBSP, every space
    * doubled, a BEL control char, trailing double space — and the
    * normalizer must undo all of it (the txt_redact/txt_html_strip
    * perturbation pattern: the oracle reproduces both the mess and the
    * cleanup, so the cross-engine check exercises the full semantics, not
    * the fixture's clean ASCII). Map-side scalar only; the md5 fingerprint
    * locks the normalized BYTES, not just the lengths. */
  def txtNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    val messy = concat(lit("\te\u0301\u00a0"),
      regexp_replace(col("text"), " ", "  "), lit("\u0007  end"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(messy).as("n_chars_messy"),
        TextAnalytics.normalizeText(messy).as("norm"))
      .select(col("doc_id"), col("n_chars_messy"),
        length(col("norm")).as("n_chars_norm"),
        md5(col("norm")).as("norm_fp"))
  }

  def ddNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.charNgramJaccardPairs(Tables.documents(spark, dir), n = 3,
        sampleMod = 10, threshold = 0.6)

  /** ANN via the PERSISTED versioned IVF index: the first call in a JVM
    * builds `v<N>/` + `_current` (SimilarityIvf.buildIndex — the same
    * build/swap layout as the LSH index), every later call is probe-only:
    * resolve the pointer, rank cells, partition-pruned scan of the best
    * nprobe cells. Same result as the self-contained [[SimilarityIvf
    * .ivfTopK]] (training is deterministic), which IvfSpec locks. */
  def simAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val path = memoizedIndex(dir, "ivf") { p =>
      SimilarityIvf.buildIndex(emb, p, nCells = 16)
    }
    val qVec = emb.filter(col("vec_id") === 0L)
      .select("embedding").as[Array[Float]].head()
    SimilarityIvf.probeIndex(spark, path, qVec, k = 10, nprobe = 4,
      excludeIds = Seq(0L))
  }

  /** k-NN GRAPH over the whole embedding corpus through the SAME
    * persisted IVF index ([[SimilarityIvf.knnGraphIvf]]): every vector's
    * 3 nearest neighbors among the vectors sharing its 2 probe cells —
    * the neighbor structure semantic dedup and graph-ANN builds start
    * from. Fully distributed (no driver anchor collect — the operator's
    * point vs hardNegativesIvf), per-cell pair work, WindowGroupLimit
    * top-k. The graph's own index is sized nCells ≈ √N (the documented
    * knnGraphIvf posture: per-cell pairing is |cell|²-ish, so fixed
    * cells would scale the graph 100× per 10× data where √N cells hold
    * it near N^1.5 — measured 29× vs ~7× per 10× at sf1), separate from
    * the probe index sim_ann_ivf pins at 16 cells. Golden-locked: N is a
    * deterministic count so the cell count — and with it the bit-stable
    * index (sim_ann_ivf's fixed-point argument) — is reproducible;
    * per-pair cosine is row-local, the (sim desc, dst_id) rank order and
    * the (src, rank) output order are total. */
  def simKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = memoizedIndex(dir, "ivf-knn") { p =>
      val nCells = math.max(16, math.sqrt(emb.count().toDouble).toInt)
      SimilarityIvf.buildIndex(emb, p, nCells = nCells)
    }
    SimilarityIvf.knnGraphIvf(spark, path, k = 3, nprobe = 2)
  }

  /** Product-quantized ANN via the PERSISTED versioned code index: ADC
    * shortlist over 16×4-bit nibble-packed codes (256 B float vector →
    * 8 B stored, 32×), exact re-rank of the 50-row shortlist — the
    * compression tier of the similarity stack (IVF prunes cells, int8
    * shrinks 4×, PQ makes the winnowing scan read only the code
    * column; floats page in for the shortlist fetch). The first call in
    * a JVM builds `v<N>/` + `_current` (SimilarityPq.buildIndex — the
    * IVF/LSH build/swap layout); later calls probe only. Golden-locked:
    * codebooks come from the fixed-point k-means, the ADC table is built
    * once driver-side in fixed order, per-row sums run in fixed subspace
    * order, and the re-rank distances are row-local — bit-stable under
    * any layout. Shortlist recall vs the float path is invariant-checked
    * in ScalaTest (PqSpec: ≥8/10 floor on the sf0.001 test fixture;
    * measured 10/10 at sf0.01, the scale the golden locks). */
  def simPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val path = memoizedIndex(dir, "pq") { p =>
      SimilarityPq.buildIndex(emb, p, m = 16, ksub = 16)
    }
    val qVec = emb.filter(col("vec_id") === 0L)
      .select("embedding").as[Array[Float]].head()
    SimilarityPq.probeIndex(spark, path, emb, qVec, k = 10, shortlist = 50,
      excludeIds = Seq(0L))
  }

  /** Quantized ANN: top-k by int8-cosine over per-vector symmetric
    * quantization — the 4×-smaller storage/shuffle tier of the similarity
    * stack (float stays the re-rank tier). Golden-locked (integer
    * arithmetic, deterministic); recall vs the float path is
    * invariant-checked in ScalaTest. */
  def simAnnInt8(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorQuant
    val quant = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorQuant.quantizeCol(col("embedding")).as("qv"))
    val qrow = quant.filter(col("vec_id") === 0)
      .select(col("qv").getField("_2").as("q_q"))
    quant.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qrow))
      .select(col("vec_id"),
        VectorQuant.cosI8Col(col("qv").getField("_2"), col("q_q")).as("sim_q"))
      .orderBy(desc("sim_q"), asc("vec_id"))
      .limit(10)
  }

  /** Near-dup pairs → components → canonical doc per cluster: the last step
    * of the dedup pipeline. Pairs from the n-gram Jaccard verifier (the
    * oracle-exact pair set); clustering by [[Dedup.connectedComponents]];
    * the DuckDB oracle recomputes the transitive closure with a recursive
    * CTE, so the component structure itself is value-checked. */
  def ddCluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.charNgramJaccardPairs(docs, n = 3, sampleMod = 10,
      threshold = 0.6).select("a_id", "b_id")
    val nodes = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
    val cc = Dedup.connectedComponents(nodes, pairs)
    cc.join(cc.groupBy(col("cluster_id").as("cid"))
        .agg(count(lit(1)).as("cluster_size")),
        col("cluster_id") === col("cid"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** Quality-canonical dedup ([[Curation.keepBest]]): the kept corpus
    * after resolving `dd_cluster`'s near-dup components to their
    * highest-quality member — same node subset and pair source as
    * `dd_cluster`, so the two queries audit each other. */
  def ddKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.charNgramJaccardPairs(docs, n = 3, sampleMod = 10,
      threshold = 0.6).select("a_id", "b_id")
    Curation.keepBest(docs.filter(col("doc_id") % 10 === 0), pairs)
  }

  /** Deterministic seeded shuffle + shard assignment
    * ([[Curation.seededOrder]]): reproducible training-data ordering —
    * same seed ⇒ same order on any engine at any scale. */
  def dsOrder(spark: SparkSession, dir: String): DataFrame =
    Curation.seededOrder(Tables.documents(spark, dir), seed = 42L,
      numShards = 8)

  /** Canary-injected corpus ([[Curation.injectCanaries]]): ~2% of docs
    * get a unique deterministic marker appended — per-doc injection
    * decision, marker id, and the md5 of the resulting text (locking the
    * exact output strings cross-engine). */
  def dsCanary(spark: SparkSession, dir: String): DataFrame =
    Curation.injectCanaries(Tables.documents(spark, dir), "text",
        ratePpm = 20000)
      .select(col("doc_id"), col("is_canary"), col("canary_id"),
        md5(col("text")).as("out_fp"))

  /** Canary audit ([[Curation.scanCanaries]] over the injected corpus):
    * detection closes the loop on injection — every planted marker is
    * found by the scan, none invented, ids recovered exactly. Reported
    * as one summary row (docs, planted, found, matching id+doc joins)
    * the oracle recomputes from scratch. */
  def dsCanaryAudit(spark: SparkSession, dir: String): DataFrame =
    Curation.injectCanaries(Tables.documents(spark, dir), "text",
        ratePpm = 20000)
      .select(col("is_canary"), col("canary_id"),
        regexp_extract(col("text"), "CANARY_([0-9]+)", 1).as("found"))
      // injection and detection share the row, so recovery is a per-row
      // id comparison and the whole audit is ONE scan of conditional
      // aggregates (a join formulation re-scanned documents 4x)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_canary"), 1L).otherwise(0L)).as("n_planted"),
        sum(when(col("found") =!= "", 1L).otherwise(0L)).as("n_found"),
        sum(when(col("is_canary") &&
          col("found").cast("long") === col("canary_id"), 1L).otherwise(0L))
          .as("n_recovered"))

  /** Per-source token-budget mix ([[Curation.budgetSelectPerStratum]]):
    * three sources get distinct token budgets and fill them with their
    * highest-quality docs — the mixture-building step of a training
    * pipeline (weights × total budget → per-domain budgets). */
  def dsMixBudget(spark: SparkSession, dir: String): DataFrame =
    Curation.budgetSelectPerStratum(Tables.documents(spark, dir), "source",
        Map("src0" -> 3000L, "src1" -> 1500L, "src5" -> 600L))

  /** Shannon character entropy ([[TextAnalytics.charEntropyStats]]): the
    * cheap gibberish gate — low entropy = repeated-char boilerplate,
    * high = random/encoded junk. Exact integer stats plus ONE derived
    * double both engines compute from identical integers. Empty docs
    * drop (no distribution to measure), matching the oracle's unnest. */
  def txtEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalytics.entropyStatsCol(col("text")).as("__e"))
      .filter(col("__e").isNotNull)
      .select(col("doc_id"),
        col("__e.nChars").as("n_chars_e"),
        col("__e.sumClncFp").as("sum_clnc_fp"),
        TextAnalytics.entropyNats(col("__e.nChars"), col("__e.sumClncFp"))
          .as("entropy_nats"))
  }

  // ---- dataset-version snapshots: two deterministic views of the fixture
  //      corpus (different membership, a few edited docs) standing in for
  //      "the serving corpus" vs "the rebuilt corpus" ----

  private def snapOld(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 7 =!= 3)

  private def snapNew(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))

  /** Content diff between corpus versions: per (source, status) counts
    * of added / removed / changed / unchanged docs — the promotion gate
    * report for a corpus rebuild. Both fixture snapshots are
    * filtered/edited views of ONE base table, so the diff runs as the
    * SAME-BASE fusion ([[graft.operators.Versioning
    * .snapshotDiffSameBase]]) — one corpus scan, no join (the general
    * two-table [[graft.operators.Versioning.snapshotDiff]] stays for
    * physically distinct snapshots); value-identical by the operator's
    * differential lock + the oracle. */
  def dsSnapshotDiff(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Versioning.snapshotDiffSameBase(
        Tables.documents(spark, dir),
        inOld = col("doc_id") % 7 =!= 3,
        inNew = col("doc_id") % 5 =!= 0,
        oldText = col("text"),
        newText = when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .groupBy("source", "status").agg(count(lit(1)).as("n_docs"))

  /** Distribution drift between corpus versions ([[graft.operators
    * .Versioning.signalDrift]]): exact total-variation distance in integer
    * ppm over three integer-bucketed signals (doc length, alpha-token
    * count, blocklist hits). All-integer pipeline → oracle hash-exact. */
  def dsDrift(spark: SparkSession, dir: String): DataFrame = {
    // the snapshots are views of one base → same-base fusion (one
    // scan, no bucket join; see dsSnapshotDiff). Signals are per SIDE
    // (name, old expr, new expr): the new snapshot EDITS text (" v2" on
    // doc_id % 11), so words16/badhits over the new side must see the
    // edited text exactly as the two-table form did; len64 reads the
    // stored n_chars column, which the edit does not touch, so it is
    // the same expression on both sides.
    import graft.functions.TextAnalytics
    val newText = when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
      .otherwise(col("text"))
    def words16(t: org.apache.spark.sql.Column) =
      // >>4 ≡ div 16 on the non-negative count — keeps the ONE
      // alphaTokenCount definition instead of re-spelling its regex
      shiftright(TextAnalytics.alphaTokenCount(t).cast("long"), 4)
    graft.operators.Versioning.signalDriftSameBase(
      Tables.documents(spark, dir),
      inOld = col("doc_id") % 7 =!= 3,
      inNew = col("doc_id") % 5 =!= 0,
      Seq(
        ("len64", expr("n_chars div 64"), expr("n_chars div 64")),
        ("words16", words16(col("text")), words16(newText)),
        ("badhits", TextAnalytics.blockHits(col("text")),
          TextAnalytics.blockHits(newText))))
  }

  /** Per-source corpus card ([[graft.functions.TextAnalytics]] kernels in
    * one pass): the datasheet a corpus release ships — per source, doc and
    * token counts, exact within-source duplicate count (docs minus
    * distinct fingerprints), blocklisted-doc count, and the
    * predicted-English share. One scan, one (source) aggregate (the
    * count-distinct adds the standard expand — still source-keyed);
    * every field integer-exact, so the oracle hash-matches. */
  def dsCorpusCard(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    val t = col("text")
    val hits = TextAnalytics.markerAndBlockHits(t)
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"),
        TextAnalytics.alphaTokenCount(t).cast("long").as("toks"),
        element_at(hits, 1).as("en"), element_at(hits, 2).as("da"),
        element_at(hits, 3).as("co"), element_at(hits, 4).as("bad"),
        TextAnalytics.fingerprint(t).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum("toks").as("n_tokens"),
        sum(when(col("bad") > 0, 1L).otherwise(0L)).as("n_bad_docs"),
        (count(lit(1)) - countDistinct("fp")).as("n_dup_docs"),
        sum(when(TextAnalytics.langPredict(col("en"), col("da"), col("co")) === "en",
          1L).otherwise(0L)).as("n_en_docs"))
  }

  /** Train→eval leakage audit over the deterministic hash split
    * ([[Curation.hashSplit]]): for each held-out split and each identity
    * (exact normalized fingerprint; order-insensitive bag-of-words
    * fingerprint — the same fp the streaming curate dedup uses), how many
    * docs ALSO appear in train. The eval-integrity counterpart of
    * [[ddContamination]] (which audits against an external benchmark).
    *
    * Scale shape: one scan → stacked (kind, fp, split) rows → ONE
    * (kind, fp) partial-agged aggregate carrying per-split counts + a
    * has-train flag → a 2-row reduce, then the per-split rows are
    * exploded from structs (NOT a self-union, which would re-run the
    * whole lineage once per split). No window, no sort, no join. */
  def dsSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    val t = col("text")
    // docs with no identity under a fingerprint (null fp — e.g. null text,
    // or letterless text under the bow identity) are not auditable under
    // that kind and are excluded from its counts; a kind with zero
    // auditable docs emits no rows at all
    val stacked = Curation.hashSplit(Tables.documents(spark, dir), "doc_id")
      .select(col("split"), explode(array(
        struct(lit("exact").as("kind"), TextAnalytics.fingerprint(t).as("fp")),
        struct(lit("bow").as("kind"), TextAnalytics.bowFingerprint(t).as("fp")))).as("kf"))
      .select(col("split"), col("kf.kind").as("kind"), col("kf.fp").as("fp"))
      .filter(col("fp").isNotNull)
    val perFp = stacked.groupBy("kind", "fp")
      .agg(max(when(col("split") === "train", 1L).otherwise(0L)).as("ht"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("nv"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("nt"))
    perFp.groupBy("kind")
      .agg(sum("nv").as("nd_val"), sum(col("nv") * col("ht")).as("nl_val"),
        sum("nt").as("nd_test"), sum(col("nt") * col("ht")).as("nl_test"))
      .select(col("kind"), explode(array(
        struct(lit("val").as("split"), col("nd_val").as("n_docs"),
          col("nl_val").as("n_leaked")),
        struct(lit("test").as("split"), col("nd_test").as("n_docs"),
          col("nl_test").as("n_leaked")))).as("r"))
      .select(col("kind"), col("r.split").as("split"),
        col("r.n_docs").as("n_docs"), col("r.n_leaked").as("n_leaked"))
  }

  /** Embedding-space drift between corpus versions
    * ([[graft.operators.Versioning.embeddingDrift]]): per-label centroid
    * shift (exact squared L2 in ppm²) between two membership-shifted
    * snapshots of the embeddings table — did a class's representation
    * move across the rebuild. */
  def simDrift(spark: SparkSession, dir: String): DataFrame =
    // same-base fusion (one posexplode pass, no (label, pos) join —
    // see dsSnapshotDiff; the general two-table embeddingDrift stays for
    // physically distinct snapshots)
    graft.operators.Versioning.embeddingDriftSameBase(
      Tables.embeddings(spark, dir),
      inOld = col("vec_id") % 7 =!= 3,
      inNew = col("vec_id") % 5 =!= 0)

  /** Distributed full-corpus k-means ([[graft.operators.KMeans]]): 8
    * clusters, 3 Lloyd iterations over every embedding — the unsupervised
    * counterpart of the label-keyed [[simCentroids]] and the full-data
    * path the IVF/PQ indexes' sample-based driver trainer approximates.
    * Output is the deterministic training artifact: final centroid
    * components (integer ppm) + cluster populations. Golden-locked (all
    * integer math, associative sums, total tie orders). */
  def simKmeans(spark: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.trainSummary(Tables.embeddings(spark, dir),
      k = 8, iters = 3)

  /** Distilled quality classifier ([[graft.operators.Classifier]]): label
    * every doc with the expensive signal (qualityScore ≥ 0.55 — near the
    * fixture median, so classes are balanced), train hashed-BOW logistic
    * regression on the 80% train slice of the repo split convention
    * (Curation.hashBucket < 800), score EVERY doc with the trained model,
    * and emit the per-(split, label, prediction) confusion cells with
    * summed scores. Held-out generalization is visible in the is_train=0
    * cells. Golden-locked: quantized-nano gradient sums + StrictMath give
    * a bit-stable model under any partitioning (ClassifierSpec), and
    * scoring is row-local. Training runs ONCE per corpus per JVM: the
    * model is published as a versioned artifact through the same
    * content-keyed memo as the media/IVF/PQ indexes, and this query —
    * plus the label-noise and calibration audits downstream — LOADS the
    * persisted `_current` version (train once, score many; the persisted
    * path is what the correctness gate exercises). */
  def dsQualityModel(spark: SparkSession, dir: String): DataFrame = {
    val labeled = qualityLabeled(spark, dir)
    graft.operators.Classifier.scored(labeled, qualityModel(spark, dir))
      .groupBy("is_train", "y", "predicted")
      .agg(count(lit(1)).as("n_docs"), sum("score_ppm").as("sum_score_ppm"))
  }

  /** The shared labeling: expensive signal (quality ≥ 0.55, near the
    * fixture median) + THE repo split convention
    * ([[graft.operators.Curation.hashBucket]] < 800 ≡ hashSplit's train
    * slice — one split definition with ds_split/ds_split_leakage, so a
    * doc cannot be "train" to the classifier and "test" to the leakage
    * audit). */
  private def qualityLabeled(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        (qualityScore(col("text")) >= 0.55).cast("int").as("y"),
        (Curation.hashBucket(col("doc_id")) < 800).cast("int").as("is_train"))

  /** Train-once-per-corpus memo for the distilled quality model (the
    * media/IVF index pattern): builds + persists on first use, then every
    * consumer loads the published `_current` version. */
  private def qualityModel(spark: SparkSession,
                           dir: String): graft.operators.Classifier.Model = {
    val path = memoizedIndex(dir, "qmodel") { p =>
      val r = graft.operators.Classifier.train(
        qualityLabeled(spark, dir).filter(col("is_train") === 1), col("y"))
      graft.operators.Classifier.saveModel(spark, r.model, p)
    }
    graft.operators.Classifier.loadModel(spark, path)
  }

  /** Label-noise audit (confident-learning-shaped): the TRAINING docs the
    * trained model most confidently disagrees with — the review queue a
    * labeling pipeline feeds back to annotators (here: docs whose
    * heuristic label the distilled model overrules). Top-20 by margin
    * from 50%, ties broken by doc_id; plan is one scored scan into a
    * TakeOrdered — no shuffle beyond the top-k. Golden-locked (scoring is
    * bit-stable, ordering total). */
  def dsLabelNoise(spark: SparkSession, dir: String): DataFrame = {
    val labeled = qualityLabeled(spark, dir).filter(col("is_train") === 1)
    graft.operators.Classifier.scored(labeled, qualityModel(spark, dir))
      .filter(col("predicted") =!= col("y"))
      .select(col("doc_id"), col("y"), col("score_ppm"),
        abs(col("score_ppm") - 500000L).as("margin_ppm"))
      .orderBy(col("margin_ppm").desc, col("doc_id"))
      .limit(20)
  }

  /** Model calibration table: decile reliability bins of the trained
    * model's score vs the observed positive rate — the standard check
    * before a score threshold becomes a kept/dropped gate. All-integer
    * cells (counts + summed ppm), one scored scan into a 10-row
    * partial-agged aggregate. Golden-locked. */
  def dsModelCalibration(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Classifier
      .scored(qualityLabeled(spark, dir), qualityModel(spark, dir))
      .filter(col("score_ppm").isNotNull)
      .groupBy(least(expr("score_ppm div 100000"), lit(9L)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum("y").as("n_pos"),
        sum("score_ppm").as("sum_score_ppm"))

  /** The BM25 query-term set: chosen from the fixture vocabulary with
    * distinct document frequencies so idf actually differentiates. */
  val bm25Terms: Seq[String] = Seq("spark", "join", "window")

  /** BM25 retrieval top-k ([[TextAnalytics.bm25]]): score every document
    * against the fixed query-term set, keep the 20 most relevant — the
    * benchmark-similarity data-selection step. Exact fixed-point math, so
    * the DuckDB oracle is hash-green; plan is two kernel scans (global
    * stats row broadcast, then score + TakeOrdered). */
  def txtBm25(spark: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalytics.bm25(Tables.documents(spark, dir), bm25Terms, k = 20)

  /** C4-style blocklist filter: per doc, alpha-token count, blocklisted-token
    * hits (one FNV-kernel tokenization pass), hit rate in exact integer ppm,
    * and the two standard dispositions — `keep_strict` (C4's rule: any hit
    * drops the page) and `keep_soft` (rate-thresholded, Gopher-style).
    * Scale shape: pure map-side projection over the scan (no shuffle but the
    * presentation sort); the blocklist rides the task binary, never the
    * exchange. Null text propagates null (same contract as the marker
    * kernel). */
  def txtBlocklist(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    val t = col("text")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalytics.alphaTokenCount(t).as("n_words"),
        TextAnalytics.blockHits(t).as("bad_hits"))
      .withColumn("bad_ppm",
        when(col("n_words") === 0, lit(0L))
          .otherwise(expr("CAST(bad_hits AS BIGINT) * 1000000 div n_words")))
      .withColumn("keep_strict", col("bad_hits") === 0)
      .withColumn("keep_soft", col("bad_ppm") <= 150000L)
  }

  /** Shard-export integrity manifest ([[Curation.shardManifest]], the
    * aggregation [[graft.operators.Maintenance.writeShards]] persists):
    * per-shard counts, id-sum, and the order-sensitive pos⊗id xor —
    * what proves a training job read exactly the export. */
  def dsShardManifest(spark: SparkSession, dir: String): DataFrame =
    Curation.shardManifest(Tables.documents(spark, dir), seed = 42L,
      numShards = 8)

  /** Per-source quality quota ([[Curation.sourceQuota]]): keep the top 15
    * docs per source by quality — C4/Gopher-style domain balancing. Every
    * fixture source holds 25 docs at sf0.01 (250 at sf0.1), so the cap
    * truncates every stratum, not a tail case. */
  def dsQuota(spark: SparkSession, dir: String): DataFrame =
    Curation.sourceQuota(Tables.documents(spark, dir), "source", cap = 15)

  /** Exact signal-threshold calibration ([[Curation.histogramThresholds]]):
    * p10/p50/p90 of four integer curation signals from ONE corpus scan —
    * the histogram form whose exchange width is bounded by the value
    * range, not the corpus. */
  def dsThresholds(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics._
    val t = col("text")
    val sig = Tables.documents(spark, dir).select(
      nChars(t).as("n_chars_m"),
      wsTokenCount(t).as("ws_tokens"),
      bpeTokenCount(t).as("bpe_tokens"),
      punctCount(t).as("n_punct"))
    Curation.histogramThresholds(sig,
        Seq("n_chars_m", "ws_tokens", "bpe_tokens", "n_punct"),
        Seq(100, 500, 900))
  }

  /** Top-3 distinctive terms per doc (integer-exact tf/df ranking). */
  def txtTfidf(spark: SparkSession, dir: String): DataFrame =
    tfIdfTop(Tables.documents(spark, dir), k = 3)

  /** Deterministic 80/10/10 split; sum(doc_id) checksums membership, not
    * just counts — a wrong assignment fails the hash even at equal sizes. */
  def dsSplit(spark: SparkSession, dir: String): DataFrame =
    Curation.hashSplit(Tables.documents(spark, dir), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))

  /** Stratified downsample: dominant language to 200‰, de to 500‰, tail
    * kept whole. Membership checksummed as in [[dsSplit]]. */
  def dsSampleStratified(spark: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(Tables.documents(spark, dir), "doc_id", "lang",
        Map("en" -> 200, "de" -> 500))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))

  /** Deterministic weighted bottom-k corpus sample ([[Curation
    * .weightedSample]]): source weights 1/2/4/8, 500 global slots, higher
    * weight → proportionally more slots. Membership checksummed per source
    * ([[dsSplit]]'s sum-of-ids idiom) so a wrong SELECTION — not just a
    * wrong count — fails the hash. Selection is TakeOrderedAndProject over
    * a map-side priority projection; nothing scans twice. */
  def dsSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Curation.weightedSample(Tables.documents(spark, dir), "doc_id", "source",
        Map("src0" -> 1, "src1" -> 2, "src2" -> 4, "src3" -> 8), k = 500)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))

  /** Integer quality score for ranking-shaped curation ops: a length term
    * (chars capped at 500, in milli) plus the alpha-character ratio in ppm
    * — both pure integer arithmetic (`div` ≡ DuckDB `//`), so ranks are
    * total and engine-independent with the (score, doc_id) tie-break. */
  private def scorePpm: Column = expr(
    "least(n_chars, 500) * 1000 + " +
      "(length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000)" +
      " div greatest(n_chars, 1)")

  /** Preference pairs for reward-model / DPO-style training ([[Curation
    * .preferencePairs]]): per source, the i-th best [[scorePpm]] document
    * is the `chosen`, the i-th worst the `rejected`, top-20 pairs with a
    * ≥ 100k-ppm gap. Both rank branches are WindowGroupLimit heaps (the
    * corpus is never fully sorted); the pair join runs on 20·|sources|
    * rows. */
  def dsPreferencePairs(spark: SparkSession, dir: String): DataFrame =
    Curation.preferencePairs(
        Tables.documents(spark, dir).select(col("doc_id"), col("source"),
          scorePpm.as("score_ppm")),
        "doc_id", "source", "score_ppm", k = 20, minGap = 100000L)

  /** Quality-decile profile of the corpus — the calibration readout data
    * curation decisions are argued from ("how much worse is decile 7 than
    * decile 2, and how many tokens live there"): documents rank into
    * [[scorePpm]] deciles, each reporting its doc count and exact
    * sum/avg score. The decile aggregate is [[graft.operators.Curation
    * .ntileSumsDesc]] — the exact-ntile identity over the score VALUE
    * HISTOGRAM (one corpus-grain exchange for the score projection, then
    * histogram-grain work, zero unpartitioned windows; the same
    * plan-locked shape as ev_concentration) — while the DuckDB oracle
    * replays a literal `ntile(10)`, locking the identity itself. */
  def dsQualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(scorePpm.as("score_ppm"))
    graft.operators.Curation.ntileSumsDesc(scored, "score_ppm", 10)
      .select(col("tile").as("decile"), col("n_rows").as("n_docs"),
        col("sum_value").as("sum_score_ppm"))
      .withColumn("avg_score_ppm", expr("sum_score_ppm div n_docs"))
  }

  /** Inter-labeler agreement audit (Cohen's kappa, exact ppm): do the
    * length-based keep rule (chars ≥ 200 AND ws-tokens ≥ 30) and the
    * repetition-based keep rule (duplicate-word fraction < 1/2, exact
    * cross-multiply) agree beyond chance, per source? One kernel scan to
    * the four per-source contingency counts, then kappa on the
    * source-sized aggregate rows. The two-step ppm divisions
    * (`(x·10⁶ div n)·y div n`) are THE spec — deliberately sequenced so
    * every intermediate stays under 2⁶³ at any corpus size, and replayed
    * verbatim by the oracle. */
  def dsAgreement(spark: SparkSession, dir: String): DataFrame = {
    val r = graft.functions.FastHash.repetitionStatsCol(col("text"))
    val base = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"),
        graft.functions.TextAnalytics.wsTokenCount(col("text")).as("ws_tokens"),
        r.getField("_1").cast("long").as("n_words"),
        r.getField("_2").cast("long").as("n_distinct"))
      .withColumn("label_a", col("n_chars") >= 200 && col("ws_tokens") >= 30)
      .withColumn("label_b",
        (col("n_words") - col("n_distinct")) * 2 < col("n_words"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label_a") && col("label_b"), 1L).otherwise(0L)).as("n11"),
        sum(when(!col("label_a") && !col("label_b"), 1L).otherwise(0L)).as("n00"),
        sum(when(col("label_a"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("label_b"), 1L).otherwise(0L)).as("b1"))
      .withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n_docs"))
      .withColumn("pe_ppm", expr(
        "(a1 * 1000000 div n_docs) * b1 div n_docs + " +
          "((n_docs - a1) * 1000000 div n_docs) * (n_docs - b1) div n_docs"))
      .withColumn("kappa_ppm", expr(
        "CASE WHEN pe_ppm = 1000000 THEN 0 " +
          "ELSE (po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm) END"))
      .select(col("source"), col("n_docs"), col("po_ppm"), col("pe_ppm"),
        col("kappa_ppm"))
  }

  /** PMI-style collocation mining over the corpus (vocabulary work: which
    * bigrams are units?): lift = P(pair) / (P(w1)·P(w2)) in exact ppm,
    * ranked over pairs seen ≥ 5 times. One tokenized scan per granularity
    * (the txt_bigrams pairing + the unigram fold); unigram counts and the
    * 1-row corpus total broadcast onto the observed-bigram table, so no
    * corpus-scale shuffle carries text. The lift arithmetic is staged as
    * `p(w2|w1)_ppm = c12·10⁶ div c1` (long-exact) then
    * `lift_ppm = p·N div c2` through DECIMAL(38,0) — the product can pass
    * 2⁶³ at 100 TB corpus sizes, and the decimal remainder-subtract form
    * keeps the floor exact; the oracle replays it in HUGEINT.
    *
    * Shape note: the unigram table is NOT broadcast — a web-scale corpus
    * has 100M+ distinct tokens. Each surviving pair unfolds to two
    * (side, word) rows that join the single unigram fold on the word key
    * (a vocabulary-sized equi-join, text-free rows) and re-fold to
    * (n_left, n_right); only the 1-row corpus total rides a broadcast,
    * and the total comes from an explode-free reduced scan (map-side
    * `size()` sums), not a rescan of the token stream. */
  def txtCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // explode-then-filter (all codegen) rather than the interpreted
    // filter-HOF-then-explode — identical token multiset
    val uni = docs.select(explode(graft.functions.TextAnalytics.words(col("text")))
        .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("c"))
    // n_total = Σc over the unigram fold — the totals branch shares uni's
    // word exchange (ReusedExchange), so the corpus is NOT rescanned for
    // a number the vocabulary table already holds
    val total = uni.agg(sum("c").as("n_total"))
    // pair construction via the one-pass kernel (the HOF chain is
    // CodegenFallback — see lmScoreBigram); same bigram strings
    val pairs = docs
      .select(explode(graft.functions.FastHash.lowerBigramsCol(
        lower(col("text")))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    val sides = pairs.select(col("bigram"), col("n_pair"),
        explode(array(
          struct(lit(1).as("side"),
            substring_index(col("bigram"), " ", 1).as("word")),
          struct(lit(2).as("side"),
            substring_index(col("bigram"), " ", -1).as("word")))).as("s"))
      .select(col("bigram"), col("n_pair"), col("s.side"), col("s.word"))
    sides.join(uni, Seq("word"))
      .groupBy("bigram", "n_pair")
      .agg(max(when(col("side") === 1, col("c"))).as("n_left"),
        max(when(col("side") === 2, col("c"))).as("n_right"))
      .join(broadcast(total))
      .withColumn("p21_ppm", expr("n_pair * 1000000 div n_left"))
      .withColumn("lift_ppm", expr(
        "CAST((CAST(p21_ppm AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0))" +
          " - CAST(p21_ppm AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0))" +
          " % CAST(n_right AS DECIMAL(38,0)))" +
          " / CAST(n_right AS DECIMAL(38,0)) AS BIGINT)"))
      .select(col("bigram"), col("n_pair"), col("n_left"), col("n_right"),
        col("p21_ppm"), col("lift_ppm"))
      .orderBy(desc("lift_ppm"), asc("bigram"))
      .limit(50)
  }

  /** Tokenizer-fertility audit: regex-BPE tokens per 100 characters by
    * (lang, source) in exact milli units — the per-slice cost model every
    * token-budgeted op ([[dsPack]]-family, budget selection) prices
    * against. One kernel scan, one small aggregate. */
  def txtFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        graft.functions.TextAnalytics.bpeTokenCount(col("text")).as("bpe_tokens"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("bpe_tokens").as("sum_tokens"),
        sum("n_chars").as("sum_chars"))
      .withColumn("fert_milli",
        expr("sum_tokens * 100000 div greatest(sum_chars, 1)"))

  /** Gopher/C4-style word-level repetition filters in ONE kernel pass:
    * duplicate-word fraction and top-bigram coverage flag boilerplate /
    * machine-generated text. Map-side only (no shuffle); the integer stats
    * come from FastHash.repetitionStats, the fractions are per-row exact
    * division (bit-reproducible cross-engine). */
  def txtRepetition(spark: SparkSession, dir: String): DataFrame = {
    val r = graft.functions.FastHash.repetitionStatsCol(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), r.as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("n_words"),
        col("r._2").cast("long").as("n_distinct_words"),
        col("r._3").cast("long").as("top_word_count"),
        col("r._4").cast("long").as("top_bigram_count"))
      .filter(col("n_words") > 0)
      .withColumn("dup_word_frac",
        (col("n_words") - col("n_distinct_words")).cast("double") /
          nullif(col("n_words"), lit(0L)).cast("double"))
      .withColumn("top_bigram_frac",
        col("top_bigram_count").cast("double") /
          nullif(col("n_words") - 1, lit(0L)).cast("double"))
  }

  /** Benchmark decontamination: docs sharing any word-trigram with the
    * held-out "benchmark" slice (doc_id % 50 = 0). Benchmark grams are
    * collected + broadcast (eval sets are small by definition); the corpus
    * side is one map-side kernel pass — no corpus shuffle, no explode. */
  def ddContamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Contamination
    val docs = Tables.documents(spark, dir)
    val index = Contamination.benchmarkGramIndex(
      docs.filter(col("doc_id") % 50 === 0), col("doc_id"), col("text"), n = 3)
    Contamination.contaminated(docs.filter(col("doc_id") % 50 =!= 0),
        col("doc_id"), col("text"), index, n = 3)
  }

  /** Mixture weights with oversampling: src0 at 2.5 epochs, src1 at 1.5,
    * src2 downsampled to 200‰, src3 dropped, the rest at 1 epoch.
    * Membership checksummed (sum of ids over emitted copies). */
  def dsMix(spark: SparkSession, dir: String): DataFrame =
    Curation.weightedMix(Tables.documents(spark, dir), "doc_id", "source",
        Map("src0" -> 2500, "src1" -> 1500, "src2" -> 200, "src3" -> 0))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        // every kept doc emits epoch 0 exactly once, so this equals
        // countDistinct(doc_id) without the distinct-aggregate expand
        // (one exchange instead of two)
        sum(when(col("epoch") === 0, 1L).otherwise(0L)).as("n_docs"),
        sum("doc_id").as("sum_ids"),
        (max("epoch") + 1).cast("long").as("n_epochs"))

  /** The composed curation pipeline (what a user actually runs): quality
    * gate (length + word count) → bag-of-words-identity dedup (md5 of the
    * sorted distinct vocabulary — catches shuffled/reordered boilerplate
    * that exact text hashing misses) → per-source funnel stats with a
    * membership checksum on the surviving docs. One corpus scan; the only
    * shuffles are the dedup window and the per-source aggregate. */
  def dsCurate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextAnalytics
    // the SHARED bow identity (one definition with curateStream and the
    // leakage audit); no-content docs get a null fp — they group together
    // under the window exactly as the md5("") sentinel grouped them, and
    // they can never be quality rows, so the funnel counts are unchanged
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(TextAnalytics.bowWords(col("text"))).as("n_words"),
        TextAnalytics.bowFingerprint(col("text")).as("fp_bow"))
      .withColumn("keep_q", col("n_chars") >= 100 && col("n_words") >= 20)
    curationFunnel(base, qualityCountName = "n_quality")
  }

  /** The ONE copy of the dedup-window + per-source funnel fold shared by
    * the heuristic ([[dsCurate]]) and model-gated ([[dsCurateModel]])
    * pipelines — only the `keep_q` gate differs between them, so the
    * funnel semantics cannot drift. Input: (doc_id, source, fp_bow,
    * keep_q). ONE corpus scan: ordering quality docs first inside each
    * fp group makes "min doc_id among quality docs of the group" the
    * rn=1 row, so the dedup verdict and the funnel counts come from the
    * same window pass — no quality-filtered self-join, no second scan. */
  private def curationFunnel(base: DataFrame,
      qualityCountName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(
      Window.partitionBy("fp_bow").orderBy(desc("keep_q"), asc("doc_id")))
    base.withColumn("kept", col("keep_q") && rn === 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep_q"), 1L).otherwise(0L)).as(qualityCountName),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("kept"), col("doc_id"))), lit(0L)).as("sum_kept_ids"))
  }

  /** Heavy hitters via the SpaceSaving sketch aggregate: one pass, bounded
    * memory, summary-width shuffle (never the token stream). Capacity 256
    * exceeds the fixture vocabulary, so every count is exact with err = 0 —
    * which is what lets a plain GROUP BY oracle value-check the sketch.
    * Eviction/merge error bounds are invariant-checked in SpaceSavingSpec. */
  /** THE tokenize-and-sketch stage behind the heavy-hitter surface —
    * one copy shared by the batch query and
    * [[graft.streaming.StreamOps.heavyHittersStream]], so the streaming
    * twin can never silently diverge from the batch tokenization or
    * sketch parameters. */
  def wordSketch(docs: DataFrame, capacity: Int = 256): DataFrame =
    docs
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .agg(org.apache.spark.sql.graft.SpaceSavingGlue
        .spaceSavingTopK(col("word"), capacity).as("hh"))

  def a8HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    wordSketch(Tables.documents(spark, dir))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("word"), col("e.count").as("n"),
        col("e.err").as("err"))

  /** Context-window chunking: 32-token windows every 24 tokens (8-token
    * overlap). Chunk boundaries, counts, and text value-checked. */
  def dsChunk(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables.documents(spark, dir), size = 32, stride = 24)

  /** One-pass column profile of the documents table (Profile.profile) —
    * the scale path: every statistic is sketch- or constant-width (HLL++
    * distinct, SpaceSaving mode), no Expand, shuffle width independent of
    * data size. HLL merges are deterministic, so the whole profile is
    * golden-locked. The sketch capacity exceeds every column's distinct
    * count at verify scale, so the modal value is exact. */
  def dsProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(Tables.documents(spark, dir),
        Seq("lang", "source", "n_chars"))

  /** Small-sf oracle twin of [[dsProfile]]: exact `n_distinct`
    * (`exactDistinct = true` — Expand + full distinct shuffle, the
    * documented NON-scale path) so the profile semantics stay
    * cross-checked live against DuckDB; the approx column is dropped
    * because no other engine reproduces Spark's HLL++ values. */
  def dsProfileExact(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(Tables.documents(spark, dir),
        Seq("lang", "source", "n_chars"), exactDistinct = true)
      .drop("n_distinct_approx")

  /** Unigram-LM quality scores over the corpus (see TextAnalytics.lmScore
    * for the determinism/oracle story). */
  def txtLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScore(Tables.documents(spark, dir))

  /** Bigram-conditional LM quality score
    * ([[graft.functions.TextAnalytics.lmScoreBigram]]): word-ORDER
    * perplexity gate, one rung up from `txt_lm_score`'s unigram. */
  def txtLmBigram(spark: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalytics.lmScoreBigram(Tables.documents(spark, dir))

  /** ALL per-doc text signals in ONE corpus pass (TextAnalytics.signals) —
    * the scan-efficiency form of the seven standalone txt_* signal queries.
    * The unigram LM is trained up front as a bounded model-build job
    * (vocabulary-sized collect + executor broadcast — the same memory bound
    * as [[txtLmScore]]'s broadcast LM; a production pipeline trains it once
    * on a reference corpus and reuses it), so the signal scan itself is a
    * single pass: scan → project → presentation sort. */
  def txtSignals(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    signals(docs, trainUnigramLm(docs), Some(bpeModelFor(spark, dir)))
  }

  /** Bloom-prefiltered incremental dedup: treat every 5th doc as the
    * incoming batch and the rest as the ingested corpus; return the
    * incoming docs whose text is genuinely new. The Bloom prefilter +
    * broadcast verify make the result EXACT (see
    * [[Dedup.bloomPrefilterNew]]), so a plain NOT EXISTS anti-join is the
    * oracle. */
  def ddBloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    Dedup.bloomPrefilterNew(incoming, corpus)
      .select(col("doc_id"))
  }

  /** Compression-ratio quality signal: deflated-size / byte-size per doc
    * (zlib level 6 — deterministic, so golden-locked). Ratio reported as
    * ppm in integer math to keep the cross-engine hash float-free. */
  def txtCompressRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
      .select(col("doc_id"),
        length(col("b")).cast("long").as("n_bytes"),
        graft.functions.Codecs.deflateLenCol(col("b")).cast("long").as("n_deflate"))
      .withColumn("ratio_ppm",
        when(col("n_bytes") === 0, lit(1000000L))
          // div, not `/`: Column./ on longs is DOUBLE division in Spark,
          // and the ppm contract is integer
          .otherwise(expr("n_deflate * 1000000 div n_bytes")))

  /** Per-doc duplicated-span coverage over 10-word spans (C4-style span
    * dedup decision input; see [[Dedup.spanCoverage]]). */
  def ddSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanCoverage(Tables.documents(spark, dir), n = 10, minDocs = 2)

  /** Duplicated-span excision over 10-word spans: every occurrence but
    * the globally first is removed and the surviving words reassembled
    * (see [[Dedup.spanExcise]]). */
  def ddSpanExcise(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanExcise(Tables.documents(spark, dir), n = 10)

  /** Incremental span excision through the PERSISTED span index
    * ([[Dedup.buildSpanIndex]]/[[Dedup.probeSpanExcise]]): the corpus
    * (doc_id % 5 != 0) is indexed once per fixture dir (memoized like
    * mm_index_probe's), and the arriving batch (doc_id % 5 == 0) sheds
    * every span the corpus already contains. */
  def ddSpanProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = memoizedIndex(dir, "span") { p =>
      Dedup.buildSpanIndex(docs.filter(col("doc_id") % 5 =!= 0), p, n = 10)
    }
    Dedup.probeSpanExcise(spark, path, docs.filter(col("doc_id") % 5 === 0))
  }

  /** Boilerplate-segment removal: drop 8-word segments seen in ≥2 docs,
    * reassemble the cleaned text (see [[Dedup.segmentDedup]]). */
  def ddSegmentDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(Tables.documents(spark, dir), segWords = 8, minDocs = 2)

  /** Sequence packing into 256-token context windows (see
    * [[Curation.packSequences]]). */
  def dsPack(spark: SparkSession, dir: String): DataFrame =
    Curation.packSequences(Tables.documents(spark, dir), windowTokens = 256)

  /** Packing-efficiency audit over [[dsPack]]'s window assignment: the
    * one-row report a training run reads before trusting the pack —
    * total docs/tokens, windows used, fill ratio in exact ppm (tokens
    * over windows×256; only the LAST window can be partial in the
    * offset-packing model, so fill < 1 means exactly the tail), and how
    * many docs span a window boundary (those need attention-mask
    * plumbing downstream). One aggregate over the pack projection —
    * the pack itself never re-materializes. */
  def dsPackStats(spark: SparkSession, dir: String): DataFrame =
    Curation.packSequences(Tables.documents(spark, dir), windowTokens = 256)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max(expr("(start_offset + greatest(n_tokens, 1) - 1) div 256")) + 1)
          .as("n_windows"),
        sum(when(col("offset_in_bin") + col("n_tokens") > 256, 1L)
          .otherwise(0L)).as("n_spanning"))
      .withColumn("fill_ppm",
        expr("total_tokens * 1000000 div (n_windows * 256)"))

  /** Token-budget corpus selection ([[Curation.budgetSelect]]): the
    * highest-quality documents whose running token total fits a fixed
    * training budget — presentation-ordered by doc_id so the oracle
    * compare is stable. */
  def dsBudgetSelect(spark: SparkSession, dir: String): DataFrame =
    Curation.budgetSelect(Tables.documents(spark, dir), budgetTokens = 12000)

  /** DSIR-style hashed-gram importance weights of every document against
    * the English subset of the corpus (see
    * [[graft.operators.Importance.importanceWeights]]) — the
    * data-selection model pass + map-only scoring pass. */
  def dsImportance(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.importanceWeights(
      Tables.documents(spark, dir), col("lang") === "en")

  /** Johnson–Lindenstrauss compression of the embedding table to 8
    * dimensions via the deterministic ±1 projection (see
    * [[graft.operators.Similarity.randomProject]]). */
  def simRp(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(spark, dir), outDims = 8)

  /** Real BPE subword tokenization (see [[graft.functions.Bpe]]): learn
    * 200 merges from the corpus word-frequency table (one scan + driver
    * loop), then count each document's subword tokens under the learned
    * vocabulary — the honest version of `txt_tokens`' BPE-ish regex
    * estimate. Golden-locked (the merge sequence is deterministic but
    * not SQL-expressible). */
  def txtBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"),
        graft.functions.Bpe.bpeCountCol(col("text"), bpeModelFor(spark, dir))
          .as("bpe_tokens"))
  }

  /** The corpus's trained BPE model, through the PERSISTED versioned
    * artifact ([[graft.functions.Bpe.saveBpe]]): trained and
    * published once per fixture dir (the [[memoizedIndex]] contract),
    * loaded per call (≤ 200 driver-small rows). txt_bpe and ds_bpe_pack
    * share this one model — train once, encode many, the production
    * shape; values are identical to the former train-per-call form
    * (training is deterministic), which the committed goldens lock. */
  private def bpeModelFor(spark: SparkSession, dir: String): graft.functions.Bpe.BpeModel = {
    val path = memoizedIndex(dir, "bpe") { p =>
      graft.functions.Bpe.saveBpe(spark,
        graft.functions.Bpe.trainBpe(Tables.documents(spark, dir), nMerges = 200), p)
    }
    graft.functions.Bpe.loadBpe(spark, path)
  }

  /** End-to-end tokenize→pack: the corpus's trained BPE vocabulary
    * (exactly [[txtBpe]]'s model, shared through the persisted artifact
    * — [[bpeModelFor]]), then pack the corpus into 256-token context
    * windows by the TRUE subword counts — the production pack key
    * ([[Curation.packSequences]] with the trained tokenizer in place of
    * the regex estimate). Deterministic end to end (bit-stable BPE
    * counts × integer prefix sums), so golden-locked; CurationSpec
    * differential-locks the pack arithmetic against pure-Scala prefix
    * sums of the same counts. */
  def dsBpePack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.packSequences(docs, windowTokens = 256,
      tokenCount = graft.functions.Bpe.bpeCountCol(col("text"),
        bpeModelFor(spark, dir)))
  }

  /** DD-cross-source-overlap — the cross-corpus contamination report
    * (the CCNet/RefinedWeb-style question "how much of source A's
    * content already exists in source B?") computed WITHOUT pairing
    * documents: one theta sketch of word-3-shingles per source
    * ([[graft.operators.Maintenance.thetaRollup]] over
    * [[graft.operators.Dedup.wordShingles]]), then the pairwise overlap
    * algebra — |A|, |B|, |A∩B|, containment/Jaccard ppm — on KB-sized
    * sketch columns. Scale posture: corpus cost is ONE shingle scan +
    * a |sources|-row artifact; the pair stage is quadratic in the
    * NUMBER OF SOURCES only (constant in corpus size) — all-pairs over
    * an artifact of tens-to-hundreds of sources is the design, and past
    * ~1000 sources you'd pre-bucket by shingle bands instead. The
    * artifact is COLLECTED once (require-capped at 4096 sources — the
    * bounded-model-collect idiom): the corpus is scanned exactly once,
    * and the pair stage runs on a |sources|-row local frame instead of
    * recomputing the shingle aggregation per join branch. Oracle is
    * the exact distinct-(source, shingle) SQL: lgK = 14 keeps every
    * sketch in exact mode (max 10886 distinct shingles/source at
    * sf0.1 AND the sf1 rehearsal, which replicates the same texts), so
    * estimates are true set sizes and the ppm integer division replays
    * exactly (`div` ↔ `//`). */
  def ddCrossSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Maintenance}
    val g = org.apache.spark.sql.graft.ThetaGlue
    // the fused shingle→sketch kernel (Maintenance.thetaShingleRollup)
    // rather than explode(wordShinglesKernel) → thetaRollup — same item
    // space, same sketch bytes (differential-locked in MaintenanceSpec),
    // no per-shingle String/row materialization (guide §1.2)
    // cap BEFORE materializing: limit(cap+1) bounds what the driver ever
    // holds (a high-cardinality source column must fail the require, not
    // OOM the collect), the bounded-model-collect idiom
    val artRows = Maintenance.thetaShingleRollup(
        Tables.documents(spark, dir), n = 3, lgK = 14)
      .limit(4097).collect()
    require(artRows.length <= 4096,
      s"more than 4096 sources — the all-pairs report caps there " +
        "(past that, pre-bucket by shingle bands)")
    // enough slices that the quadratic pair stage parallelizes when the
    // source count is large; 1 task below that avoids empty-task overhead
    val slices = math.max(1, math.min(16, artRows.length / 64))
    val art = spark.createDataFrame(
      spark.sparkContext.parallelize(artRows.toIndexedSeq, slices),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("theta_shingle",
          org.apache.spark.sql.types.BinaryType))))
      // per-source estimate computed ONCE here — inside the pair
      // projection it would re-heapify each sketch per pair (2·C(n,2)
      // redundant estimates at the cap)
      .withColumn("n_est", g.thetaEstimate(col("theta_shingle")).cast("long"))
    val a = art.select(col("source").as("src_a"),
      col("theta_shingle").as("sk_a"), col("n_est").as("n_a"))
    val b = art.select(col("source").as("src_b"),
      col("theta_shingle").as("sk_b"), col("n_est").as("n_b"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        g.thetaEstimate(g.thetaIntersection(col("sk_a"), col("sk_b")))
          .cast("long").as("n_shared"),
        g.thetaEstimate(g.thetaUnion(col("sk_a"), col("sk_b")))
          .cast("long").as("n_union"))
      .withColumn("containment_a_ppm", expr("n_shared * 1000000 div n_a"))
      .withColumn("jaccard_ppm", expr("n_shared * 1000000 div n_union"))
  }

  /** The [[graft.operators.Curation.rankTournament]] win matrix between
    * sources over the shared quality score ([[scorePpm]]) — which source
    * produces BETTER documents, as head-to-head games between equally
    * ranked docs. Pure integer rank/compare logic: exactly SQL-replayable,
    * and the matrix is |sources|² rows at any corpus size. */
  def dsTournament(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.rankTournament(
        Tables.documents(spark, dir).select(col("doc_id"), col("source"),
          scorePpm.as("score_ppm")),
        "doc_id", "source", "score_ppm", topR = 200)

  /** Bradley–Terry strengths solved from [[dsTournament]]'s matrix
    * ([[graft.operators.Curation.btScores]]) — the RLHF-style
    * preference-aggregation read. Golden-locked: the matrix is exact
    * integers (its own SQL oracle above), and the MM solver is
    * fixed-point BigInt with truncating division, fixed iterations, and
    * total-order normalization — bit-stable on any cluster layout. */
  def dsEloBt(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.btScores(dsTournament(spark, dir))

  /** Data-contract audit over the corpus + the orders→customer key
    * ([[graft.operators.Expectations.audit]]): the promote-gate report a
    * snapshot pipeline runs before publishing. Row-local rules fuse into
    * one scan; the key-uniqueness and referential rules are the only
    * extra passes. Mixed pass/fail by construction at every sf (zh is
    * deliberately outside the accepted-langs set; the n_chars cap clips
    * the fixture's tail) so the report shape itself is regression-locked. */
  def dsExpectations(spark: SparkSession, dir: String): DataFrame = {
    val E = graft.operators.Expectations
    val docs = Tables.documents(spark, dir)
    E.audit(docs, Seq(
        E.NotNull("r01_text_not_null", "text"),
        E.InRange("r02_chars_in_range", "n_chars", 1L, 500L),
        E.Accepted("r03_lang_accepted", "lang", Seq("en", "de", "fr", "es")),
        E.Check("r04_len_consistent", "text", "length(text) = n_chars"),
        E.Unique("r05_doc_id_unique", "doc_id")))
      .unionByName(E.audit(Tables.orders(spark, dir), Seq(
        E.RefIntegrity("r06_orders_custkey", "o_custkey",
          Tables.customer(spark, dir), "c_custkey"))))
  }

  /** Vocabulary-growth (Heaps' law) curve — cumulative distinct words vs
    * cumulative tokens at ten corpus prefixes in doc_id order: the
    * statistic tokenizer sizing and token-budget planning read ("how fast
    * does new vocabulary still arrive at this corpus size"). Cumulative
    * distinct is NOT windowable directly; the scalable identity is
    * first-occurrence: |vocab ≤ boundary| = count of words whose MIN
    * doc_id is ≤ the boundary, so the heavy work is one word→min(doc_id)
    * aggregate (hash-shuffled by word, never a running state), and the
    * ten prefix boundaries broadcast to pick up the counts. */
  def txtVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"),
        explode(graft.functions.TextAnalytics.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    // ten prefix boundaries: a 10-row result — materialize once
    // (bounded-collect pattern) so the two range joins hit a LocalRelation
    // instead of re-running the doc_id pass per branch. The boundary pick
    // is [[Curation.ntileBoundaries]]'s two-level order statistic (span
    // buckets → driver prefix → boundary-buckets-only row_number), NOT a
    // global ntile window — the old form sorted every doc_id in ONE task
    // before this 10-row collect (PlanAuditSpec locks the pattern out).
    // The tokenizing scan deliberately runs twice instead of caching
    // `tok`: at corpus scale the token stream dwarfs the documents, so
    // re-scanning is the cheaper side of that trade (the evAnomaly-style
    // checkpoint would persist tokens).
    val bounds = graft.operators.Curation
      .ntileBoundaries(docs.select(col("doc_id")), "doc_id", 10)
      .toDF("bucket", "last_doc_id")
    val vocab = tok.groupBy("word").agg(min("doc_id").as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("nw"))
      .join(broadcast(bounds), col("first_doc") <= col("last_doc_id"))
      .groupBy("bucket").agg(sum("nw").as("vocab_cum"))
    val toks = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      .join(broadcast(bounds), col("doc_id") <= col("last_doc_id"))
      .groupBy("bucket").agg(sum("nt").as("tokens_cum"))
    // LEFT joins from bounds: a prefix whose documents carry no alphabetic
    // words must still emit its curve point as (bucket, 0, 0), never drop
    // it — consumers index the Heaps curve by bucket 1..10
    bounds.join(vocab, Seq("bucket"), "left").join(toks, Seq("bucket"), "left")
      .select(col("bucket"), col("last_doc_id"),
        coalesce(col("tokens_cum"), lit(0L)).as("tokens_cum"),
        coalesce(col("vocab_cum"), lit(0L)).as("vocab_cum"))
  }

  /** Compressed-audio container metadata over synthesized MP3 payloads
    * ([[graft.functions.Mp3]]): per media item — frame count, duration,
    * average bitrate, VBR flag — extracted by REAL frame-header parsing
    * (sync walk, bitrate/sample-rate tables, ID3v2 skip), the metadata
    * tier of the compressed-audio story (PCM decode stays behind the
    * codec swap trait). The fixture synthesizer follows the real frame
    * formulas with closed-form parameters of doc_id, so the oracle
    * replays the expected metadata in pure integer SQL while the engine
    * path walks actual MP3 bytes. One scan, per-row kernel, no shuffle
    * until the output sort. */
  def mmAudioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions { iter =>
        iter.map { id =>
          val n = 5 + (id % 7).toInt
          val vbr = id % 4 == 0
          val bytes = graft.functions.Mp3.synthesize(id, n, vbr, id3 = id % 3 == 0)
          val m = graft.functions.Mp3.parse(bytes)
          (id, m.frames, m.sampleRate, m.durationMs, m.avgKbps, m.vbr)
        }
      }
      .toDF("media_id", "n_frames", "sample_rate", "duration_ms",
        "avg_kbps", "vbr")
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dd_exact"         -> ddExact _,
    "dd_cross_source_overlap" -> ddCrossSourceOverlap _,
    "dd_jaccard_words" -> ddJaccardWords _,
    "dd_ngram_jaccard" -> ddNgramJaccard _,
    "dd_cluster"       -> ddCluster _,
    "dd_minhash_lsh"   -> ddMinhashLsh _,
    "dd_simhash"       -> ddSimhash _,
    "dd_winnow_overlap" -> ddWinnowOverlap _,
    "dd_embed_exact"   -> ddEmbedExact _,
    "dd_embed_lsh"     -> ddEmbedLsh _,
    "txt_lang_id"      -> txtLangId _,
    "txt_langid_confusion" -> txtLangidConfusion _,
    "dd_threshold_curve"   -> ddThresholdCurve _,
    "ds_dedup_impact"      -> dsDedupImpact _,
    "txt_source_keywords"  -> txtSourceKeywords _,
    "txt_readability"      -> txtReadability _,
    "txt_quality"      -> txtQuality _,
    "txt_tokens"       -> txtTokens _,
    "txt_fingerprint"  -> txtFingerprint _,
    "txt_top_words"    -> txtTopWords _,
    "txt_bigrams"      -> txtBigrams _,
    "txt_tfidf"        -> txtTfidf _,
    "txt_length_stats" -> txtLengthStats _,
    "ds_split"         -> dsSplit _,
    "ds_sample_stratified" -> dsSampleStratified _,
    "ds_sample_weighted"   -> dsSampleWeighted _,
    "ds_preference_pairs"  -> dsPreferencePairs _,
    "ds_quality_deciles"   -> dsQualityDeciles _,
    "ds_agreement"         -> dsAgreement _,
    "txt_collocations"     -> txtCollocations _,
    "txt_fertility"        -> txtFertility _,
    "a8_heavy_hitters" -> a8HeavyHitters _,
    "txt_lm_score"     -> txtLmScore _,
    "txt_lm_bigram"    -> txtLmBigram _,
    "txt_signals"      -> txtSignals _,
    "ds_chunk"         -> dsChunk _,
    "ds_profile"       -> dsProfile _,
    "ds_profile_exact" -> dsProfileExact _,
    "txt_repetition"   -> txtRepetition _,
    "dd_contamination" -> ddContamination _,
    "ds_mix"           -> dsMix _,
    "ds_curate"        -> dsCurate _,
    "txt_html_strip"   -> txtHtmlStrip _,
    "txt_redact"       -> txtRedact _,
    "txt_normalize"    -> txtNormalize _,
    "ds_hard_negatives" -> dsHardNegatives _,
    "ds_positive_pairs" -> dsPositivePairs _,
    "sim_whiten"       -> simWhiten _,
    "ds_hard_negatives_ivf" -> dsHardNegativesIvf _,
    "ds_curate_model"  -> dsCurateModel _,
    "ds_span_corrupt"  -> dsSpanCorrupt _,
    "ds_fim"           -> dsFim _,
    "ev_json_extract"  -> evJsonExtract _,
    "sim_cosine_topk"  -> simCosineTopK _,
    "sim_centroids"    -> simCentroids _,
    "sim_assign"       -> simAssign _,
    "sim_outliers"     -> ((s, d) => simOutliers(s, d)),
    "sim_ann_lsh"      -> simAnnLsh _,
    "sim_ann_ivf"      -> simAnnIvf _,
    "sim_knn_graph"    -> simKnnGraph _,
    "sim_ann_int8"     -> simAnnInt8 _,
    "sim_pq"           -> simPq _,
    "mm_features"      -> mmFeatures _,
    "mm_phash"         -> mmPhash _,
    "mm_audio_fp"      -> mmAudioFp _,
    "mm_dedup_keep"    -> mmDedupKeep _,
    "mm_index_probe"   -> mmIndexProbe _,
    "dd_bloom_prefilter" -> ddBloomPrefilter _,
    "txt_compress_ratio" -> txtCompressRatio _,
    "dd_span_coverage"   -> ddSpanCoverage _,
    "dd_span_excise"     -> ddSpanExcise _,
    "dd_span_probe"      -> ddSpanProbe _,
    "dd_segment_dedup"   -> ddSegmentDedup _,
    "ds_pack"            -> dsPack _,
    "ds_pack_stats"      -> dsPackStats _,
    "ds_bpe_pack"        -> dsBpePack _,
    "ds_budget_select"   -> dsBudgetSelect _,
    "dd_keep_best"       -> ddKeepBest _,
    "ds_order"           -> dsOrder _,
    "txt_vocab_growth"   -> txtVocabGrowth _,
    "mm_audio_meta"      -> mmAudioMeta _,
    "ds_tournament"      -> dsTournament _,
    "ds_elo_bt"          -> dsEloBt _,
    "ds_expectations"    -> dsExpectations _,
    "ds_canary"          -> dsCanary _,
    "ds_canary_audit"    -> dsCanaryAudit _,
    "ds_quota"           -> dsQuota _,
    "ds_thresholds"      -> dsThresholds _,
    "ds_shard_manifest"  -> dsShardManifest _,
    "txt_entropy"        -> txtEntropy _,
    "txt_blocklist"      -> txtBlocklist _,
    "txt_bm25"           -> txtBm25 _,
    "ds_snapshot_diff"   -> dsSnapshotDiff _,
    "ds_drift"           -> dsDrift _,
    "sim_kmeans"         -> simKmeans _,
    "ds_quality_model"   -> dsQualityModel _,
    "ds_label_noise"     -> dsLabelNoise _,
    "ds_model_calibration" -> dsModelCalibration _,
    "sim_drift"          -> simDrift _,
    "ds_corpus_card"     -> dsCorpusCard _,
    "ds_split_leakage"   -> dsSplitLeakage _,
    "ds_mix_budget"      -> dsMixBudget _,
    "sim_semdedup"       -> ((s: SparkSession, d: String) => simSemdedup(s, d)),
    "ds_importance"      -> dsImportance _,
    "sim_rp"             -> simRp _,
    "txt_bpe"            -> txtBpe _,
  )

  // sim_rp's 8 projection columns share one formula (1-based DuckDB list
  // index i ↔ the kernel's 0-based i), generated rather than
  // hand-repeated so Spark and oracle can only drift together. The sign
  // replays Similarity.rpSign: linear seed, two xor-folded Lehmer
  // rounds (h ^= h>>15, *48271; h ^= h>>16, *16807 — mod 2^31-1), parity.
  private val rpCols = (0 until 8).map { j =>
    val h1 = s"(((i - 1) * 48271 + $j * 16807 + 1013904223) % 2147483647)"
    val h2 = s"((xor($h1, $h1 // 32768) * 48271) % 2147483647)"
    val h3 = s"((xor($h2, $h2 // 65536) * 16807) % 2147483647)"
    s"CAST(list_sum(list_transform(generate_series(1, len(vp)), i -> vp[i] * " +
      s"(CASE WHEN $h3 % 2 = 0 THEN 1 ELSE -1 END))) AS BIGINT) AS p$j"
  }.mkString(",\n ")

  private val enList = enMarkers.map(s => s"'$s'").mkString("[", ", ", "]")
  private val blockListSql = blockWords.map(s => s"'$s'").mkString("[", ", ", "]")
  private val dataList = dataMarkers.map(s => s"'$s'").mkString("[", ", ", "]")
  private val computeList = computeMarkers.map(s => s"'$s'").mkString("[", ", ", "]")

  /** DuckDB transliterations (exactly value-aligned). MinHash/SimHash/ANN
    * intentionally omitted (engine-specific hash functions). */
  val oracle: Seq[(String, String)] = Seq(
    // same gram model both sides: unigrams + ' '-joined bigrams, hashed by
    // the integer polynomial fold mod 2^31-1 into 2048 buckets; ln() only
    // over integral doubles (counts + add-one smoothing), quantized 2^-20
    "ds_importance" ->
      """WITH w AS (
        | SELECT doc_id, lang,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |              x -> length(x) > 0) AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, lang,
        |  unnest(ws || list_transform(generate_series(1, len(ws) - 1),
        |                              i -> ws[i] || ' ' || ws[i + 1])) AS g
        | FROM w WHERE len(ws) >= 1),
        |gb AS (
        | SELECT doc_id, lang,
        |  list_reduce(list_prepend(CAST(7 AS BIGINT),
        |    list_transform(string_split(g, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) % 2048 AS b
        | FROM g),
        |cnt AS (
        | SELECT b, COUNT(*) AS cr, COUNT(*) FILTER (WHERE lang = 'en') AS ct
        | FROM gb GROUP BY 1),
        |tot AS (
        | SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt
        | FROM cnt),
        |ql AS (
        | SELECT b,
        |  CAST(round(ln(CAST(ct + 1 AS DOUBLE)) * 1048576) AS BIGINT)
        |   - CAST(round(ln(CAST(cr + 1 AS DOUBLE)) * 1048576) AS BIGINT) AS ql
        | FROM cnt),
        |qn AS (
        | SELECT CAST(round(ln(CAST(nt + 2048 AS DOUBLE)) * 1048576) AS BIGINT)
        |   - CAST(round(ln(CAST(nr + 2048 AS DOUBLE)) * 1048576) AS BIGINT) AS qn
        | FROM tot),
        |d AS (
        | SELECT gb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(ql.ql) AS BIGINT) AS sum_ql
        | FROM gb JOIN ql USING (b) GROUP BY 1)
        |SELECT d.doc_id, d.n_grams,
        | d.sum_ql - d.n_grams * qn.qn AS weight_fp,
        | (CAST(d.sum_ql - d.n_grams * qn.qn AS DOUBLE) / 1048576.0) / d.n_grams
        |   AS avg_weight
        |FROM d, qn ORDER BY doc_id""".stripMargin,
    "sim_rp" ->
      s"""WITH v0 AS (
         | SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vp
         | FROM embeddings),
         |v AS (SELECT * FROM v0
         |      WHERE len(vp) > 0 AND len(list_filter(vp, x -> x IS NULL)) = 0)
         |SELECT vec_id,
         | $rpCols
         |FROM v ORDER BY vec_id""".stripMargin,
    "dd_bloom_prefilter" ->
      """SELECT i.doc_id FROM documents i
        |WHERE i.doc_id % 5 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 5 <> 0 AND c.text = i.text)
        |ORDER BY doc_id""".stripMargin,
    "ds_pack" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  coalesce(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0)), 0) AS n_tokens
        | FROM documents),
        |cums AS (
        | SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        | FROM toks)
        |SELECT doc_id, n_tokens,
        | cum - n_tokens AS start_offset,
        | (cum - n_tokens) // 256 AS bin_id,
        | (cum - n_tokens) % 256 AS offset_in_bin
        |FROM cums ORDER BY doc_id""".stripMargin,
    "ds_pack_stats" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  coalesce(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0)), 0) AS n_tokens
        | FROM documents),
        |cums AS (
        | SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        | FROM toks),
        |p AS (
        | SELECT n_tokens, cum - n_tokens AS start_offset,
        |  (cum - n_tokens) % 256 AS offset_in_bin
        | FROM cums),
        |g AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(MAX((start_offset + greatest(n_tokens, 1) - 1) // 256) + 1 AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN offset_in_bin + n_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
        | FROM p)
        |SELECT n_docs, total_tokens, n_windows, n_spanning,
        | total_tokens * 1000000 // (n_windows * 256) AS fill_ppm
        |FROM g""".stripMargin,
    "ds_budget_select" ->
      s"""WITH f AS (
         | SELECT doc_id, length(text) AS n_chars_m,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |    / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio,
         |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS DOUBLE)
         |    / CAST(nullif(CASE WHEN length(trim(text)) = 0 THEN 0
         |        ELSE len(string_split_regex(trim(text), '\\s+')) END, 0) AS DOUBLE) AS stopword_ratio
         | FROM documents),
         |s AS (
         | SELECT doc_id,
         |  least(CAST(n_chars_m AS DOUBLE) / 500.0, 1.0) * 0.5
         |   + alpha_ratio * 0.25 + stopword_ratio * 0.25 AS quality,
         |  CAST(n_tokens AS BIGINT) AS n_tokens
         | FROM f),
         |c AS (
         | SELECT doc_id, quality, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         | FROM s WHERE quality IS NOT NULL)
         |SELECT doc_id, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 12000 ORDER BY doc_id""".stripMargin,
    "txt_vocab_growth" ->
      """WITH t AS (
        | SELECT doc_id, word FROM (
        |  SELECT doc_id,
        |   unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |  FROM documents)
        | WHERE length(word) > 0),
        |bounds AS (
        | SELECT bucket, MAX(doc_id) AS last_doc_id FROM (
        |  SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS bucket
        |  FROM documents)
        | GROUP BY 1),
        |firsts AS (SELECT word, MIN(doc_id) AS first_doc FROM t GROUP BY 1),
        |vocab AS (
        | SELECT bo.bucket, CAST(COUNT(*) AS BIGINT) AS vocab_cum
        | FROM firsts f JOIN bounds bo ON f.first_doc <= bo.last_doc_id
        | GROUP BY 1),
        |toks AS (
        | SELECT bo.bucket, CAST(COUNT(*) AS BIGINT) AS tokens_cum
        | FROM t JOIN bounds bo ON t.doc_id <= bo.last_doc_id
        | GROUP BY 1)
        |SELECT bo.bucket, bo.last_doc_id,
        | coalesce(toks.tokens_cum, 0) AS tokens_cum,
        | coalesce(vocab.vocab_cum, 0) AS vocab_cum
        |FROM bounds bo
        |LEFT JOIN vocab ON vocab.bucket = bo.bucket
        |LEFT JOIN toks ON toks.bucket = bo.bucket
        |ORDER BY bo.bucket""".stripMargin,
    "mm_audio_meta" ->
      """WITH m AS (
        | SELECT doc_id AS media_id, 5 + doc_id % 7 AS n,
        |  doc_id % 4 = 0 AS vbr
        | FROM documents)
        |SELECT media_id, CAST(n AS INT) AS n_frames,
        | CAST(44100 AS INT) AS sample_rate,
        | CAST(n * 1152 * 1000 // 44100 AS BIGINT) AS duration_ms,
        | CAST(CASE WHEN vbr THEN (128 * (n - n // 2) + 192 * (n // 2)) // n
        |      ELSE 128 END AS INT) AS avg_kbps,
        | vbr
        |FROM m ORDER BY media_id""".stripMargin,
    "ds_tournament" ->
      """WITH scored AS (
        | SELECT doc_id, source,
        |  least(n_chars, 500) * 1000 +
        |   (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000)
        |    // greatest(n_chars, 1) AS score_ppm
        | FROM documents),
        |r AS (
        | SELECT source, score_ppm,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY score_ppm DESC, doc_id ASC) AS rk
        | FROM scored)
        |SELECT a.source AS stratum_a, b.source AS stratum_b,
        | CAST(COUNT(*) AS BIGINT) AS n_games,
        | CAST(SUM(CASE WHEN a.score_ppm >= b.score_ppm THEN 1 ELSE 0 END)
        |      AS BIGINT) AS wins_a
        |FROM r a JOIN r b ON a.rk = b.rk AND a.source < b.source
        |WHERE a.rk <= 200 AND b.rk <= 200
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ds_expectations" ->
      """WITH counts AS (
        | SELECT 'r01_text_not_null' AS rule_id, 'not_null' AS kind,
        |  'text' AS col_name,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE text IS NULL) AS n_violations
        | UNION ALL SELECT 'r02_chars_in_range', 'in_range', 'n_chars',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE n_chars IS NULL OR n_chars < 1 OR n_chars > 500)
        | UNION ALL SELECT 'r03_lang_accepted', 'accepted', 'lang',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE lang IS NULL OR lang NOT IN ('en', 'de', 'fr', 'es'))
        | UNION ALL SELECT 'r04_len_consistent', 'check', 'text',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE NOT coalesce(length(text) = n_chars, FALSE))
        | UNION ALL SELECT 'r05_doc_id_unique', 'unique', 'doc_id',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) -
        |  (SELECT CAST(COUNT(*) AS BIGINT)
        |   FROM (SELECT DISTINCT doc_id FROM documents))
        | UNION ALL SELECT 'r06_orders_custkey', 'ref_integrity', 'o_custkey',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
        |    (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)))
        |SELECT rule_id, kind, col_name, n_violations,
        | n_violations = 0 AS pass
        |FROM counts ORDER BY rule_id""".stripMargin,
    "ds_canary" ->
      """WITH inj AS (
        | SELECT doc_id,
        |  (doc_id * 48271) % 2147483647 % 1000000 < 20000 AS is_canary,
        |  ((doc_id * 48271) % 2147483647) * 48271 % 2147483647 AS cid,
        |  text
        | FROM documents)
        |SELECT doc_id, is_canary,
        | CASE WHEN is_canary THEN cid END AS canary_id,
        | md5(CASE WHEN is_canary
        |      THEN coalesce(text, '') || ' CANARY_' || CAST(cid AS VARCHAR)
        |      ELSE text END) AS out_fp
        |FROM inj ORDER BY doc_id""".stripMargin,
    "ds_canary_audit" ->
      """WITH t AS (
        | SELECT doc_id,
        |  (doc_id * 48271) % 2147483647 % 1000000 < 20000 AS is_canary,
        |  ((doc_id * 48271) % 2147483647) * 48271 % 2147483647 AS cid,
        |  CASE WHEN (doc_id * 48271) % 2147483647 % 1000000 < 20000
        |   THEN coalesce(text, '') || ' CANARY_' ||
        |        CAST(((doc_id * 48271) % 2147483647) * 48271 % 2147483647 AS VARCHAR)
        |   ELSE text END AS text2
        | FROM documents)
        |SELECT
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN is_canary THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
        | CAST(sum(CASE WHEN regexp_extract(text2, 'CANARY_([0-9]+)', 1) <> ''
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
        | CAST(sum(CASE WHEN is_canary AND
        |      TRY_CAST(regexp_extract(text2, 'CANARY_([0-9]+)', 1) AS BIGINT) = cid
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered
        |FROM t""".stripMargin,
    "ds_order" ->
      """WITH r AS (
        | SELECT doc_id,
        |  md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        | FROM documents),
        |p AS (
        | SELECT doc_id, shuffle_key,
        |  row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
        | FROM r)
        |SELECT doc_id, shuffle_key, pos,
        | CAST((pos - 1) % 8 AS INT) AS shard
        |FROM p ORDER BY doc_id""".stripMargin,
    // per-stratum twin of the ds_budget_select oracle: same quality and
    // token expressions, window partitioned by source, per-source budget
    "ds_mix_budget" ->
      s"""WITH f AS (
         | SELECT doc_id, source, length(text) AS n_chars_m,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |    / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio,
         |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS DOUBLE)
         |    / CAST(nullif(CASE WHEN length(trim(text)) = 0 THEN 0
         |        ELSE len(string_split_regex(trim(text), '\\s+')) END, 0) AS DOUBLE) AS stopword_ratio
         | FROM documents
         | WHERE source IN ('src0', 'src1', 'src5')),
         |s AS (
         | SELECT doc_id, source,
         |  least(CAST(n_chars_m AS DOUBLE) / 500.0, 1.0) * 0.5
         |   + alpha_ratio * 0.25 + stopword_ratio * 0.25 AS quality,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 1500 ELSE 600 END AS budget
         | FROM f),
         |c AS (
         | SELECT doc_id, source, quality, n_tokens, budget,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         | FROM s WHERE quality IS NOT NULL)
         |SELECT doc_id, source, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= budget
         |ORDER BY source, cum_tokens""".stripMargin,
    // the entropy fixed point replays charEntropyStats: ln over INTEGRAL
    // counts only, quantized 2^-20, summed exactly; the single derived
    // double is the same expression over the same integers on both sides
    "txt_entropy" ->
      """WITH c AS (
        | SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
        | FROM documents),
        |h AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
        |s AS (SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_chars_e,
        |  CAST(SUM(cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) * 1048576) AS BIGINT)) AS BIGINT) AS sum_clnc_fp
        | FROM h GROUP BY 1)
        |SELECT doc_id, n_chars_e, sum_clnc_fp,
        | CAST(CAST(round(ln(CAST(n_chars_e AS DOUBLE)) * 1048576) AS BIGINT) * n_chars_e
        |      - sum_clnc_fp AS DOUBLE)
        |   / (CAST(n_chars_e AS DOUBLE) * 1048576.0) AS entropy_nats
        |FROM s ORDER BY doc_id""".stripMargin,
    // replays ds_order's pos/shard formula, then the manifest aggregate;
    // the xor terms reduce mod 2^31-1 before multiplying on both engines,
    // so the checksum is overflow-free and engine-exact
    "ds_shard_manifest" ->
      """WITH r AS (
        | SELECT doc_id, text,
        |  md5('42:' || CAST(doc_id AS VARCHAR)) AS key
        | FROM documents),
        |p AS (
        | SELECT doc_id, text,
        |  row_number() OVER (ORDER BY key, doc_id) AS pos
        | FROM r),
        |s AS (
        | SELECT doc_id, pos, CAST((pos - 1) % 8 AS INT) AS shard,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
        | FROM p)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(tok) AS BIGINT) AS n_tokens,
        | CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        | bit_xor((pos % 2147483647) * (doc_id % 2147483647)) AS xor_posid,
        | MIN(pos) AS min_pos, MAX(pos) AS max_pos
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    // same composite-quality expression as the txt_quality oracle (the
    // established DuckDB transliteration of TextAnalytics.qualityScore),
    // ranked per source with the engine's exact tie order
    "ds_quota" ->
      s"""WITH q AS (
         | SELECT doc_id, source,
         |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |   + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |      / CAST(nullif(length(text), 0) AS DOUBLE)) * 0.25
         |   + (CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS DOUBLE)
         |      / CAST(nullif(CASE WHEN length(trim(text)) = 0 THEN 0
         |          ELSE len(string_split_regex(trim(text), '\\s+')) END, 0) AS DOUBLE)) * 0.25 AS quality
         | FROM documents),
         |r AS (
         | SELECT doc_id, source, quality,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY quality DESC NULLS LAST, doc_id) AS INT) AS rank
         | FROM q)
         |SELECT doc_id, source, quality, rank FROM r WHERE rank <= 15
         |ORDER BY source, rank""".stripMargin,
    // the exact histogram-quantile definition, replayed verbatim: smallest
    // value whose cumulative count reaches ⌈q‰·N⌉, all-integer compare
    "ds_thresholds" ->
      """WITH s AS (
        | SELECT length(text) AS n_chars_m,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
        |  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
        | FROM documents),
        |m AS (
        | SELECT 'n_chars_m' AS signal, CAST(n_chars_m AS BIGINT) AS value FROM s
        | UNION ALL SELECT 'ws_tokens', CAST(ws_tokens AS BIGINT) FROM s
        | UNION ALL SELECT 'bpe_tokens', CAST(bpe_tokens AS BIGINT) FROM s
        | UNION ALL SELECT 'n_punct', CAST(n_punct AS BIGINT) FROM s),
        |h AS (SELECT signal, value, COUNT(*) AS cnt FROM m
        |      WHERE value IS NOT NULL GROUP BY 1, 2),
        |c AS (
        | SELECT signal, value, cnt,
        |  SUM(cnt) OVER (PARTITION BY signal ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  SUM(cnt) OVER (PARTITION BY signal) AS n
        | FROM h)
        |SELECT signal, CAST(MAX(n) AS BIGINT) AS n_docs,
        | MIN(CASE WHEN cum * 1000 >= 100 * n THEN value END) AS p100,
        | MIN(CASE WHEN cum * 1000 >= 500 * n THEN value END) AS p500,
        | MIN(CASE WHEN cum * 1000 >= 900 * n THEN value END) AS p900
        |FROM c GROUP BY signal ORDER BY signal""".stripMargin,
    "dd_span_coverage" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS w
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(
        |   [array_to_string(w[i:i+9], ' ') for i in generate_series(1, len(w) - 9)])) AS g
        | FROM toks),
        |counts AS (SELECT g, count(*) AS nd FROM grams GROUP BY g)
        |SELECT doc_id, count(*) AS n_spans,
        | CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        | CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_frac_ppm
        |FROM grams JOIN counts USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_span_excise" ->
      // same span semantics as dd_span_coverage's oracle (10-word [a-z]+
      // grams of lower(text)); rn > 1 over (doc_id, pos) IS the Spark
      // side's "duplicated and not the min-struct canonical" — a row_number
      // above 1 exists iff the span occurs at least twice
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS w
        | FROM documents),
        |occ AS (
        | SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |   SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 9),
        |      i -> {'pos': i, 'g': array_to_string(w[i:i+9], ' ')})) AS u
        |   FROM toks)),
        |exc AS (
        | SELECT doc_id, pos FROM (
        |   SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |   FROM occ) WHERE rn > 1),
        |cov AS (
        | SELECT DISTINCT doc_id, cp FROM (
        |   SELECT doc_id, unnest(generate_series(pos, pos + 9)) AS cp FROM exc)),
        |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_words,
        | CAST(coalesce(len(cps), 0) AS BIGINT) AS n_excised,
        | coalesce(array_to_string(list_transform(
        |   list_filter(generate_series(1, len(w)), i -> cps IS NULL OR NOT list_contains(cps, i)),
        |   i -> w[i]), ' '), '') AS text_kept
        |FROM toks t LEFT JOIN cl USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "dd_span_probe" ->
      // same span semantics as dd_span_excise's oracle; the corpus CTE is
      // DISTINCT, so the hit join is an exact semi-join by construction
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS w
        | FROM documents),
        |corpus AS (
        | SELECT DISTINCT g FROM (
        |   SELECT unnest([array_to_string(w[i:i+9], ' ') for i in generate_series(1, len(w) - 9)]) AS g
        |   FROM tok WHERE doc_id % 5 <> 0)),
        |occ AS (
        | SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |   SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 9),
        |      i -> {'pos': i, 'g': array_to_string(w[i:i+9], ' ')})) AS u
        |   FROM tok WHERE doc_id % 5 = 0)),
        |hit AS (SELECT doc_id, pos FROM occ JOIN corpus USING (g)),
        |cov AS (
        | SELECT DISTINCT doc_id, cp FROM (
        |   SELECT doc_id, unnest(generate_series(pos, pos + 9)) AS cp FROM hit)),
        |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_words,
        | CAST(coalesce(len(cps), 0) AS BIGINT) AS n_excised,
        | coalesce(array_to_string(list_transform(
        |   list_filter(generate_series(1, len(w)), i -> cps IS NULL OR NOT list_contains(cps, i)),
        |   i -> w[i]), ' '), '') AS text_kept
        |FROM tok t LEFT JOIN cl USING (doc_id)
        |WHERE t.doc_id % 5 = 0 ORDER BY t.doc_id""".stripMargin,
    "dd_segment_dedup" ->
      // explicit whitespace class: Java \s matches U+000B, RE2's \s does
      // not — the shorthand silently diverges across engines
      """WITH w AS (
        | SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> len(x) > 0) AS ws
        | FROM documents),
        |nz AS (SELECT doc_id, ws FROM w WHERE len(ws) > 0),
        |e AS (
        | SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
        |   SELECT doc_id, unnest(list_transform(generate_series(1, CAST(ceil(len(ws) / 8.0) AS INT)),
        |      i -> {'pos': i, 'seg': array_to_string(ws[(i-1)*8+1 : i*8], ' ')})) AS u
        |   FROM nz)),
        |d AS (
        | SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM e)
        | GROUP BY seg HAVING count(*) >= 2),
        |k AS (
        | SELECT e.doc_id, e.pos, e.seg, CASE WHEN d.seg IS NOT NULL THEN 1 ELSE 0 END AS dropme
        | FROM e LEFT JOIN d USING (seg))
        |SELECT doc_id, count(*) AS n_segs, CAST(sum(dropme) AS BIGINT) AS n_dropped,
        | coalesce(string_agg(CASE WHEN dropme = 0 THEN seg END, ' ' ORDER BY pos), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_exact" ->
      """SELECT doc_id, text_hash, copies FROM (
        | SELECT MIN(doc_id) AS doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash,
        |  COUNT(*) AS copies
        | FROM documents GROUP BY 2) ORDER BY doc_id""".stripMargin,
    // exact distinct-(source, shingle) fold: value-matching the sketch
    // report proves exact mode held and the pairwise set algebra is true
    "dd_cross_source_overlap" ->
      """WITH toks AS (
        | SELECT source,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |sh AS (
        | SELECT DISTINCT source, array_to_string(t[u.i:u.i+2], ' ') AS s
        | FROM toks, UNNEST(generate_series(1, len(toks.t) - 2)) AS u(i)),
        |n AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
        |pair AS (
        | SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        | FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT na.source AS src_a, nb.source AS src_b,
        | na.n AS n_a, nb.n AS n_b,
        | COALESCE(p.n_shared, 0) AS n_shared,
        | na.n + nb.n - COALESCE(p.n_shared, 0) AS n_union,
        | COALESCE(p.n_shared, 0) * 1000000 // na.n AS containment_a_ppm,
        | COALESCE(p.n_shared, 0) * 1000000 //
        |  (na.n + nb.n - COALESCE(p.n_shared, 0)) AS jaccard_ppm
        |FROM n na JOIN n nb ON na.source < nb.source
        |LEFT JOIN pair p ON p.src_a = na.source AND p.src_b = nb.source
        |ORDER BY 1, 2""".stripMargin,
    "txt_readability" ->
      """WITH d AS (
        | SELECT source,
        |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS sentences,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS words,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS syllables
        | FROM documents),
        |g AS (
        | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(sentences) AS BIGINT) AS sentences,
        |  CAST(SUM(words) AS BIGINT) AS words,
        |  CAST(SUM(syllables) AS BIGINT) AS syllables
        | FROM d GROUP BY 1)
        |SELECT source, n_docs, sentences, words, syllables,
        | 206835 - (1015 * words) // greatest(sentences, 1)
        |  - (84600 * syllables) // greatest(words, 1) AS flesch_milli
        |FROM g ORDER BY source""".stripMargin,
    "txt_source_keywords" ->
      """WITH t AS (
        | SELECT source, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        | FROM documents),
        |tf AS (
        | SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
        | FROM t WHERE length(tok) > 0 GROUP BY 1, 2),
        |d AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |r AS (
        | SELECT tf.source, tf.tok, tf.tf, d.df,
        |  row_number() OVER (PARTITION BY tf.source
        |                     ORDER BY tf.tf DESC, d.df ASC, tf.tok ASC) AS rank
        | FROM tf JOIN d USING (tok))
        |SELECT source, tok, tf, df, rank FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,
    "ds_dedup_impact" ->
      """WITH d AS (
        | SELECT source, doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> length(x) > 0)) AS BIGINT) AS n_tokens
        | FROM documents),
        |k AS (
        | SELECT source, n_tokens,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep
        | FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
        | CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
        | (CAST(SUM(n_tokens) AS BIGINT) - CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT))
        |  * 1000000 // greatest(CAST(SUM(n_tokens) AS BIGINT), 1) AS removed_ppm
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "dd_jaccard_words" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0)) AS w
        | FROM documents WHERE doc_id % 10 = 0)
        |SELECT a_id, b_id, inter, uni, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
        |FROM (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.w, b.w)) AS inter,
        |  len(list_distinct(list_concat(a.w, b.w))) AS uni
        | FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
    "txt_lang_id" ->
      s"""SELECT doc_id, en_hits, data_hits, compute_hits,
         | CASE WHEN en_hits >= data_hits AND en_hits >= compute_hits THEN 'en'
         |      WHEN data_hits >= compute_hits THEN 'data'
         |      ELSE 'compute' END AS predicted
         |FROM (
         | SELECT doc_id,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS en_hits,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($dataList, w))) AS data_hits,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($computeList, w))) AS compute_hits
         | FROM documents) ORDER BY doc_id""".stripMargin,
    "txt_langid_confusion" ->
      s"""WITH p AS (
         | SELECT lang,
         |  CASE WHEN en_hits >= data_hits AND en_hits >= compute_hits THEN 'en'
         |       WHEN data_hits >= compute_hits THEN 'data'
         |       ELSE 'compute' END AS predicted
         | FROM (
         |  SELECT lang,
         |   len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS en_hits,
         |   len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($dataList, w))) AS data_hits,
         |   len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($computeList, w))) AS compute_hits
         |  FROM documents)),
         |c AS (
         | SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
         | FROM p GROUP BY 1, 2)
         |SELECT lang, predicted, n,
         | n * 1000000 // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
         |FROM c ORDER BY lang, predicted""".stripMargin,
    "dd_threshold_curve" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0)) AS w
        | FROM documents WHERE doc_id % 10 = 0),
        |pairs AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.w, b.w)) AS inter,
        |  len(list_distinct(list_concat(a.w, b.w))) AS uni
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(a.w, b.w))) AS DOUBLE) >= 0.5),
        |swept AS (
        | SELECT t_permille, a_id, b_id FROM pairs
        | CROSS JOIN (VALUES (500), (600), (700), (800), (900)) t(t_permille)
        | WHERE inter * 1000 >= t_permille * uni)
        |SELECT t_permille,
        | CAST(COUNT(DISTINCT (a_id, b_id)) AS BIGINT) AS n_pairs,
        | CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
        |FROM (SELECT t_permille, a_id, b_id, unnest([a_id, b_id]) AS d FROM swept)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "txt_quality" ->
      s"""WITH f AS (
         | SELECT doc_id, length(text) AS n_chars_m,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
         |  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |    / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio,
         |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS DOUBLE)
         |    / CAST(nullif(CASE WHEN length(trim(text)) = 0 THEN 0
         |        ELSE len(string_split_regex(trim(text), '\\s+')) END, 0) AS DOUBLE) AS stopword_ratio
         | FROM documents)
         |SELECT doc_id, n_chars_m, n_words, n_punct, alpha_ratio, stopword_ratio,
         | least(CAST(n_chars_m AS DOUBLE) / 500.0, 1.0) * 0.5
         |  + alpha_ratio * 0.25 + stopword_ratio * 0.25 AS quality
         |FROM f ORDER BY doc_id""".stripMargin,
    "txt_tokens" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "txt_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same split hash, same two fingerprints (normalized-md5 exact; the
    // curate bag-of-words md5)
    "ds_split_leakage" ->
      """WITH b AS (
        | SELECT
        |  CASE WHEN ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761) % 4294967296 % 1000 < 800 THEN 'train'
        |       WHEN ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761) % 4294967296 % 1000 < 900 THEN 'val'
        |       ELSE 'test' END AS split,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_exact,
        |  CASE WHEN text IS NULL OR len(list_filter(
        |         string_split_regex(lower(text), '[^a-z]+'), w -> w <> '')) = 0
        |       THEN NULL
        |       ELSE md5(array_to_string(list_sort(list_distinct(
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> w <> ''))),
        |         ' ')) END AS fp_bow
        | FROM documents),
        |s AS (
        | SELECT split, kind, fp FROM (
        |  SELECT split, 'exact' AS kind, fp_exact AS fp FROM b
        |  UNION ALL SELECT split, 'bow', fp_bow FROM b)
        | WHERE fp IS NOT NULL),
        |pf AS (
        | SELECT kind, fp,
        |  MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ht,
        |  SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS nv,
        |  SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS nt
        | FROM s GROUP BY 1, 2),
        |a AS (
        | SELECT kind,
        |  CAST(SUM(nv) AS BIGINT) AS nd_val, CAST(SUM(nv * ht) AS BIGINT) AS nl_val,
        |  CAST(SUM(nt) AS BIGINT) AS nd_test, CAST(SUM(nt * ht) AS BIGINT) AS nl_test
        | FROM pf GROUP BY 1)
        |SELECT kind, 'val' AS split, nd_val AS n_docs, nl_val AS n_leaked FROM a
        |UNION ALL
        |SELECT kind, 'test', nd_test, nl_test FROM a
        |ORDER BY kind, split""".stripMargin,
    // same kernels as the standalone queries (marker tokenization for
    // lang/blocklist, [A-Za-z]+ runs for tokens, normalized-md5
    // fingerprint); COUNT DISTINCT skips nulls on both engines
    "ds_corpus_card" ->
      s"""WITH f AS (
         | SELECT source, n_chars,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS toks,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS en,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($dataList, w))) AS da,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($computeList, w))) AS co,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($blockListSql, w))) AS bad,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         | FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         | CAST(SUM(toks) AS BIGINT) AS n_tokens,
         | CAST(SUM(CASE WHEN bad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_docs,
         | CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs,
         | CAST(SUM(CASE WHEN en >= da AND en >= co THEN 1 ELSE 0 END) AS BIGINT) AS n_en_docs
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    // same ppm quantization, same truncating-div centroids (Spark `div` ≡
    // DuckDB integer `//`, negatives included), 0-based positions via
    // parallel unnest(range(len))
    "sim_drift" ->
      """WITH base AS (
        | SELECT vec_id, label,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vp
        | FROM embeddings),
        |v AS (SELECT * FROM base
        |      WHERE len(vp) > 0 AND len(list_filter(vp, x -> x IS NULL)) = 0),
        |oe AS (SELECT label, unnest(vp) AS v, unnest(range(len(vp))) AS pos
        |       FROM v WHERE vec_id % 7 <> 3),
        |ne AS (SELECT label, unnest(vp) AS v, unnest(range(len(vp))) AS pos
        |       FROM v WHERE vec_id % 5 <> 0),
        |co AS (SELECT label, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS c_o,
        |        CAST(COUNT(*) AS BIGINT) AS n_o
        |       FROM oe GROUP BY 1, 2),
        |cn AS (SELECT label, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS c_n,
        |        CAST(COUNT(*) AS BIGINT) AS n_n
        |       FROM ne GROUP BY 1, 2),
        |j AS (
        | SELECT coalesce(co.label, cn.label) AS label, c_o, c_n, n_o, n_n
        | FROM co FULL JOIN cn ON co.label = cn.label AND co.pos = cn.pos)
        |SELECT label,
        | coalesce(MAX(n_o), 0) AS n_old, coalesce(MAX(n_n), 0) AS n_new,
        | CASE WHEN MIN(CASE WHEN c_o IS NOT NULL AND c_n IS NOT NULL
        |                    THEN 1 ELSE 0 END) = 1
        |      THEN CAST(SUM((c_o - c_n) * (c_o - c_n)) AS BIGINT) END AS shift_d2
        |FROM j GROUP BY label ORDER BY label""".stripMargin,
    // the two snapshot views are inlined CTEs on both sides; status via
    // presence (doc_id never null), content equality null-safe
    "ds_snapshot_diff" ->
      """WITH o AS (
        | SELECT doc_id, source, md5(text) AS fp
        | FROM documents WHERE doc_id % 7 <> 3),
        |n AS (
        | SELECT doc_id, source,
        |  md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS fp
        | FROM documents WHERE doc_id % 5 <> 0),
        |d AS (
        | SELECT coalesce(n.source, o.source) AS source,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        | FROM o FULL JOIN n ON o.doc_id = n.doc_id)
        |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact integer TV distance: same sentinel-bucketed histograms, same
    // |c_o·M − c_n·N| rational; all operands non-negative so `//` ≡ `div`
    "ds_drift" -> {
      val blockList = blockListSql
      def sigs(src: String) =
        s"""SELECT 'len64' AS signal, coalesce(n_chars // 64, -9223372036854775808) AS bucket FROM $src
           | UNION ALL
           | SELECT 'words16', coalesce(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) // 16, -9223372036854775808) FROM $src
           | UNION ALL
           | SELECT 'badhits', coalesce(CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
           |   w -> list_contains($blockList, w))) AS BIGINT), -9223372036854775808) FROM $src""".stripMargin
      s"""WITH o0 AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),
         |n0 AS (
         | SELECT doc_id, source, n_chars,
         |  CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
         | FROM documents WHERE doc_id % 5 <> 0),
         |ho AS (SELECT signal, bucket, CAST(COUNT(*) AS BIGINT) AS c_o
         |       FROM (${sigs("o0")}) GROUP BY 1, 2),
         |hn AS (SELECT signal, bucket, CAST(COUNT(*) AS BIGINT) AS c_n
         |       FROM (${sigs("n0")}) GROUP BY 1, 2),
         |j AS (
         | SELECT coalesce(ho.signal, hn.signal) AS signal,
         |  coalesce(c_o, 0) AS c_o, coalesce(c_n, 0) AS c_n
         | FROM ho FULL JOIN hn ON ho.signal = hn.signal AND ho.bucket = hn.bucket),
         |t AS (
         | SELECT signal, SUM(c_o) OVER (PARTITION BY signal) AS n_o,
         |  SUM(c_n) OVER (PARTITION BY signal) AS n_n, c_o, c_n
         | FROM j)
         |SELECT signal,
         | CAST(MAX(n_o) AS BIGINT) AS n_docs_old,
         | CAST(MAX(n_n) AS BIGINT) AS n_docs_new,
         | CAST(SUM(abs(c_o * n_n - c_n * n_o)) AS BIGINT) AS sum_abs,
         | CASE WHEN CAST(MAX(n_o) AS BIGINT) = 0 OR CAST(MAX(n_n) AS BIGINT) = 0 THEN NULL
         |      WHEN CAST(SUM(abs(c_o * n_n - c_n * n_o)) AS BIGINT) > 9223372036854 THEN NULL
         |      ELSE (1000000 * CAST(SUM(abs(c_o * n_n - c_n * n_o)) AS BIGINT))
         |   // (2 * CAST(MAX(n_o) AS BIGINT) * CAST(MAX(n_n) AS BIGINT)) END AS tv_ppm
         |FROM t GROUP BY signal ORDER BY signal""".stripMargin
    },
    // BM25 in the same exact fixed-point arithmetic as TextAnalytics.bm25:
    // Lucene-style idf over quantized ln of exact integers, tf saturation
    // as the integer rational 44·tf·S/(20·tf·S+6·S+18·dl·N) folded in with
    // two exact floor steps. All operands non-negative, so DuckDB's `//`
    // (floor) ≡ Spark's `div` (truncate).
    "txt_bm25" -> {
      val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(ws, x -> x = '$t')) AS BIGINT) AS tf$i"
      }.mkString(",\n  ")
      val dfCols = bm25Terms.indices.map(i =>
        s"CAST(COUNT(*) FILTER (WHERE tf$i > 0) AS BIGINT) AS df$i").mkString(", ")
      val matched = bm25Terms.indices.map(i =>
        s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      val contrib = bm25Terms.indices.map { i =>
        val idf = s"(CAST(round(ln(CAST(2*n_docs + 2 AS DOUBLE)) * 1048576) AS BIGINT)" +
          s" - CAST(round(ln(CAST(2*df$i + 1 AS DOUBLE)) * 1048576) AS BIGINT))"
        val num = s"(44 * tf$i * sum_dl)"
        val den = s"(20 * tf$i * sum_dl + 6 * sum_dl + 18 * dl * n_docs)"
        s"(CASE WHEN tf$i = 0 THEN 0 ELSE " +
          s"$idf * ($num // $den) + ($idf * ($num % $den)) // $den END)"
      }.mkString("\n  + ")
      s"""WITH w AS (
         | SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS dl,
         |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |              x -> length(x) > 0) AS ws
         | FROM documents),
         |t AS (
         | SELECT doc_id, dl,
         |  $tfCols
         | FROM w),
         |s AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(dl) AS BIGINT) AS sum_dl, $dfCols
         | FROM t),
         |m AS (
         | SELECT t.*, s.*, $matched AS n_matched FROM t, s)
         |SELECT doc_id, n_matched,
         | $contrib AS score_fp
         |FROM m WHERE n_matched > 0
         |ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin
    },
    // same tokenization as the Spark kernel: [A-Za-z]+ runs for the
    // denominator, [a-z]+ case-folded membership for the hits; ppm is
    // integer floor division both sides (values non-negative, so Spark's
    // truncating `div` ≡ DuckDB's floor `//`)
    "txt_blocklist" -> {
      val blockList = blockListSql
      s"""WITH f AS (
         | SELECT doc_id,
         |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |      w -> list_contains($blockList, w))) AS bad_hits
         | FROM documents),
         |p AS (
         | SELECT doc_id, n_words, bad_hits,
         |  CASE WHEN n_words = 0 THEN 0
         |       ELSE bad_hits * 1000000 // n_words END AS bad_ppm
         | FROM f)
         |SELECT doc_id, n_words, bad_hits, bad_ppm,
         | bad_hits = 0 AS keep_strict, bad_ppm <= 150000 AS keep_soft
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "dd_embed_exact" ->
      """WITH n AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nm
        | FROM embeddings WHERE vec_id % 2 = 0)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        | list_dot_product(a.v, b.v) / (a.nm * b.nm) AS cos_sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    "txt_top_words" ->
      """SELECT word, COUNT(*) AS n FROM (
        | SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        | FROM documents)
        |WHERE length(word) > 0
        |GROUP BY 1 ORDER BY n DESC, word ASC LIMIT 50""".stripMargin,
    "txt_bigrams" ->
      """WITH w AS (
        | SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                    x -> length(x) > 0) AS ws
        | FROM documents),
        |b AS (
        | SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        | FROM w WHERE len(ws) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM b
        |GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 100""".stripMargin,
    "txt_tfidf" ->
      """WITH t AS (
        | SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        | FROM documents),
        |tf AS (
        | SELECT doc_id, tok, COUNT(*) AS tf FROM t WHERE length(tok) > 0 GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (
        | SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |  row_number() OVER (PARTITION BY tf.doc_id
        |                     ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS rank
        | FROM tf JOIN df USING (tok))
        |SELECT doc_id, tok, tf, df, rank FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    // the split/sample hash is plain SQL arithmetic — the oracle runs the
    // SAME bucketing, so membership (sum_ids), not just counts, must agree
    "ds_split" ->
      """SELECT split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids FROM (
        | SELECT doc_id,
        |  CASE WHEN ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761) % 4294967296 % 1000 < 800 THEN 'train'
        |       WHEN ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761) % 4294967296 % 1000 < 900 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ds_sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761) % 4294967296 % 1000 <
        |  CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 500 ELSE 1000 END
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same raw id hash as ds_split; priority = hash // weight, bottom-500
    // by (priority, doc_id) — the oracle replays the exact selection
    "ds_sample_weighted" ->
      """WITH pri AS (
        | SELECT source, doc_id,
        |  ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761) % 4294967296
        |   // (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |       WHEN 'src2' THEN 4 WHEN 'src3' THEN 8 ELSE 1 END) AS priority
        | FROM documents),
        |keep AS (SELECT * FROM pri ORDER BY priority, doc_id LIMIT 500)
        |SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM keep GROUP BY 1 ORDER BY 1""".stripMargin,
    "ds_quality_deciles" ->
      """WITH s AS (
        | SELECT least(n_chars, 500) * 1000 +
        |   (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000)
        |    // greatest(n_chars, 1) AS score_ppm
        | FROM documents),
        |r AS (
        | SELECT score_ppm,
        |  ntile(10) OVER (ORDER BY score_ppm DESC NULLS LAST) AS decile
        | FROM s)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm,
        | CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS avg_score_ppm
        |FROM r GROUP BY 1 ORDER BY decile""".stripMargin,
    "ds_preference_pairs" ->
      """WITH scored AS (
        | SELECT doc_id, source,
        |  least(n_chars, 500) * 1000 +
        |   (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000)
        |    // greatest(n_chars, 1) AS score_ppm
        | FROM documents),
        |b AS (
        | SELECT source, doc_id AS chosen_id, score_ppm AS chosen_score,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY score_ppm DESC, doc_id ASC) AS pair_rank
        | FROM scored),
        |w AS (
        | SELECT source, doc_id AS rejected_id, score_ppm AS rejected_score,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY score_ppm ASC, doc_id DESC) AS pair_rank
        | FROM scored)
        |SELECT b.source, b.pair_rank, chosen_id, rejected_id,
        | chosen_score - rejected_score AS gap
        |FROM b JOIN w ON b.source = w.source AND b.pair_rank = w.pair_rank
        |WHERE b.pair_rank <= 20 AND w.pair_rank <= 20
        | AND chosen_id <> rejected_id
        | AND chosen_score - rejected_score >= 100000
        |ORDER BY b.source, b.pair_rank""".stripMargin,
    // the two-step ppm divisions are the spec (sequenced to stay under
    // 2^63 at any corpus size) — replayed verbatim here
    "ds_agreement" ->
      """WITH t AS (
        | SELECT source,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS ws,
        |  n_chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens
        | FROM documents),
        |lab AS (
        | SELECT source,
        |  n_chars >= 200 AND ws_tokens >= 30 AS label_a,
        |  (len(ws) - len(list_distinct(ws))) * 2 < len(ws) AS label_b
        | FROM t),
        |agg AS (
        | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN label_a AND label_b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |  CAST(SUM(CASE WHEN NOT label_a AND NOT label_b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |  CAST(SUM(CASE WHEN label_a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |  CAST(SUM(CASE WHEN label_b THEN 1 ELSE 0 END) AS BIGINT) AS b1
        | FROM lab GROUP BY 1),
        |k AS (
        | SELECT source, n_docs,
        |  (n11 + n00) * 1000000 // n_docs AS po_ppm,
        |  (a1 * 1000000 // n_docs) * b1 // n_docs +
        |   ((n_docs - a1) * 1000000 // n_docs) * (n_docs - b1) // n_docs AS pe_ppm
        | FROM agg)
        |SELECT source, n_docs, po_ppm, pe_ppm,
        | CASE WHEN pe_ppm = 1000000 THEN 0
        |      ELSE (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) END AS kappa_ppm
        |FROM k ORDER BY source""".stripMargin,
    "txt_collocations" ->
      """WITH t AS (
        | SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                    x -> length(x) > 0) AS ws
        | FROM documents),
        |uni AS (
        | SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS c
        | FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1),
        |total AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uni),
        |pairs AS (
        | SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_pair FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM t WHERE len(ws) >= 2)
        | GROUP BY 1 HAVING COUNT(*) >= 5),
        |lifted AS (
        | SELECT bigram, n_pair, u1.c AS n_left, u2.c AS n_right,
        |  n_pair * 1000000 // u1.c AS p21_ppm,
        |  CAST(CAST(n_pair * 1000000 // u1.c AS HUGEINT) * n_total // u2.c
        |       AS BIGINT) AS lift_ppm
        | FROM pairs, total
        | JOIN uni u1 ON string_split(bigram, ' ')[1] = u1.word
        | JOIN uni u2 ON string_split(bigram, ' ')[2] = u2.word)
        |SELECT bigram, n_pair, n_left, n_right, p21_ppm, lift_ppm
        |FROM lifted ORDER BY lift_ppm DESC, bigram ASC LIMIT 50""".stripMargin,
    "txt_fertility" ->
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_tokens,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | CAST(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) * 100000
        |  // greatest(CAST(SUM(n_chars) AS BIGINT), 1) AS BIGINT) AS fert_milli
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // with capacity > |vocab| the sketch is exact, so the oracle is the
    // plain GROUP BY it replaces at scale
    "a8_heavy_hitters" ->
      """SELECT word, COUNT(*) AS n, CAST(0 AS BIGINT) AS err FROM (
        | SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        | FROM documents)
        |WHERE length(word) > 0
        |GROUP BY 1 ORDER BY n DESC, word ASC""".stripMargin,
    "ds_profile_exact" ->
      """WITH s AS (
        | SELECT 'lang' AS col_name, CAST(lang AS VARCHAR) AS value FROM documents
        | UNION ALL SELECT 'source', CAST(source AS VARCHAR) FROM documents
        | UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
        |top AS (
        | SELECT col_name, value AS top_value, c AS top_count FROM (
        |  SELECT col_name, value, COUNT(*) AS c,
        |   row_number() OVER (PARTITION BY col_name
        |                      ORDER BY COUNT(*) DESC, value ASC) AS rn
        |  FROM s WHERE value IS NOT NULL GROUP BY 1, 2) WHERE rn = 1),
        |agg AS (
        | SELECT col_name, COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (value IS NULL) AS n_null,
        |  COUNT(DISTINCT value) AS n_distinct,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        | FROM s GROUP BY 1)
        |SELECT agg.col_name, n_rows, n_null, n_distinct, min_value, max_value,
        | top.top_value, CAST(top.top_count AS BIGINT) AS top_count
        |FROM agg LEFT JOIN top ON agg.col_name = top.col_name
        |ORDER BY agg.col_name""".stripMargin,
    "ds_chunk" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS ws
        | FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) > 0),
        |c AS (SELECT doc_id, ws, n, unnest(range((n - 1) // 24 + 1)) AS chunk_id FROM n)
        |SELECT doc_id, chunk_id,
        | array_to_string(ws[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
        | CAST(len(ws[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // ln() over integral doubles is bit-identical JVM↔DuckDB; the per-doc
    // sum is 2^-20 fixed-point LONGS on both sides (associative), so the
    // double score is reproduced exactly
    "txt_lm_score" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |  string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0)) AS tok
        | FROM documents),
        |tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nt FROM tf),
        |q AS (
        | SELECT t.doc_id,
        |  CAST(round(ln(CAST(cnt AS DOUBLE)) * 1048576) AS BIGINT) AS ql
        | FROM tok t JOIN tf USING (tok)),
        |d AS (SELECT doc_id, CAST(SUM(ql) AS BIGINT) AS sq, COUNT(*) AS n_tokens
        |      FROM q GROUP BY 1)
        |SELECT doc_id, n_tokens,
        | (CAST(sq AS DOUBLE) / 1048576.0) / n_tokens - ln(CAST(nt AS DOUBLE)) AS avg_logprob
        |FROM d, tot ORDER BY doc_id""".stripMargin,
    "txt_lm_bigram" ->
      """WITH w AS (
        | SELECT doc_id, list_filter(
        |  string_split_regex(lower(text), '[^a-z]+'), x -> len(x) > 0) AS ws
        | FROM documents),
        |b AS (
        | SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(ws) - 1),
        |         i -> ws[i] || ' ' || ws[i + 1])) AS bg,
        |  unnest(list_transform(generate_series(1, len(ws) - 1),
        |         i -> ws[i])) AS w1
        | FROM w WHERE len(ws) >= 2),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY 1),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
        |q AS (
        | SELECT b.doc_id,
        |  CAST(round(ln(CAST(c2.c2 AS DOUBLE)) * 1048576) AS BIGINT)
        |   - CAST(round(ln(CAST(c1.c1 AS DOUBLE)) * 1048576) AS BIGINT) AS ql
        | FROM b JOIN c2 USING (bg) JOIN c1 USING (w1)),
        |d AS (SELECT doc_id, CAST(SUM(ql) AS BIGINT) AS sq,
        |             COUNT(*) AS n_bigrams FROM q GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        | (CAST(sq AS DOUBLE) / 1048576.0) / n_bigrams AS avg_logprob
        |FROM d ORDER BY doc_id""".stripMargin,
    "txt_repetition" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS ws
        | FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS pos FROM t),
        |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |tw AS (
        | SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |  COUNT(*) AS n_distinct_words, MAX(c) AS top_word_count
        | FROM wc GROUP BY 1),
        |bg AS (
        | SELECT doc_id,
        |  w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
        | FROM tok),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg WHERE b IS NOT NULL GROUP BY 1, 2),
        |tb AS (SELECT doc_id, MAX(c) AS top_bigram_count FROM bc GROUP BY 1)
        |SELECT tw.doc_id, n_words, n_distinct_words, top_word_count,
        | coalesce(tb.top_bigram_count, 0) AS top_bigram_count,
        | CAST(n_words - n_distinct_words AS DOUBLE) / nullif(n_words, 0) AS dup_word_frac,
        | CAST(coalesce(tb.top_bigram_count, 0) AS DOUBLE) / nullif(n_words - 1, 0) AS top_bigram_frac
        |FROM tw LEFT JOIN tb ON tw.doc_id = tb.doc_id
        |ORDER BY tw.doc_id""".stripMargin,
    // txt_signals = join of the standalone signal oracles on doc_id: the
    // quality/tokens/lang/fingerprint expressions inline (f/f2), the
    // repetition and LM CTE chains from their standalone oracles (rt*/l*),
    // and the deflate columns from the committed txt_compress_ratio golden
    // (DuckDB has no zlib; GoldenLockSpec re-derives that golden from
    // source every test run, so the join stays honest). LEFT joins +
    // coalesce reproduce the fused row contract (0-word docs keep zero
    // counts and null fractions/score instead of being filtered).
    "txt_signals" ->
      s"""WITH f AS (
         | SELECT doc_id, length(text) AS n_chars_m,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
         |  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |    / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS en_hits,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($dataList, w))) AS data_hits,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($computeList, w))) AS compute_hits,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_aw,
         |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($blockListSql, w))) AS bad_hits
         | FROM documents),
         |f2 AS (
         | SELECT *, CAST(en_hits AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE) AS stopword_ratio
         | FROM f),
         |rt AS (
         | SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS ws
         | FROM documents),
         |rtok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS pos FROM rt),
         |rwc AS (SELECT doc_id, w, COUNT(*) AS c FROM rtok GROUP BY 1, 2),
         |rtw AS (
         | SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         |  COUNT(*) AS n_distinct_words, MAX(c) AS top_word_count
         | FROM rwc GROUP BY 1),
         |rbg AS (
         | SELECT doc_id,
         |  w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
         | FROM rtok),
         |rbc AS (SELECT doc_id, b, COUNT(*) AS c FROM rbg WHERE b IS NOT NULL GROUP BY 1, 2),
         |rtb AS (SELECT doc_id, MAX(c) AS top_bigram_count FROM rbc GROUP BY 1),
         |ltf AS (SELECT w AS tok, COUNT(*) AS cnt FROM rtok GROUP BY 1),
         |ltot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nt FROM ltf),
         |lq AS (
         | SELECT t.doc_id,
         |  CAST(round(ln(CAST(cnt AS DOUBLE)) * 1048576) AS BIGINT) AS ql
         | FROM rtok t JOIN ltf ON t.w = ltf.tok),
         |ld AS (SELECT doc_id, CAST(SUM(ql) AS BIGINT) AS sq, COUNT(*) AS n_tokens
         |       FROM lq GROUP BY 1),
         |cr AS (SELECT doc_id, n_bytes, n_deflate, ratio_ppm
         |       FROM read_parquet('/root/repo/golden/sf0.01/txt_compress_ratio.parquet')),
         |bt AS (SELECT doc_id, bpe_tokens AS bpe_true
         |       FROM read_parquet('/root/repo/golden/sf0.01/txt_bpe.parquet')),
         |ec AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS ch
         |       FROM documents),
         |eh AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM ec GROUP BY 1, 2),
         |es AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars_e,
         |        CAST(SUM(cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) * 1048576) AS BIGINT)) AS BIGINT) AS sum_clnc_fp
         |       FROM eh GROUP BY 1)
         |SELECT f2.doc_id, f2.n_chars_m, f2.n_words, f2.n_punct, f2.alpha_ratio,
         | f2.stopword_ratio,
         | least(CAST(f2.n_chars_m AS DOUBLE) / 500.0, 1.0) * 0.5
         |  + f2.alpha_ratio * 0.25 + f2.stopword_ratio * 0.25 AS quality,
         | f2.n_words AS ws_tokens, f2.bpe_tokens,
         | f2.en_hits, f2.data_hits, f2.compute_hits,
         | CASE WHEN f2.en_hits >= f2.data_hits AND f2.en_hits >= f2.compute_hits THEN 'en'
         |      WHEN f2.data_hits >= f2.compute_hits THEN 'data'
         |      ELSE 'compute' END AS predicted,
         | f2.fp, cr.n_bytes, cr.n_deflate, cr.ratio_ppm,
         | coalesce(rtw.n_words, 0) AS n_alpha_words,
         | CAST(coalesce(rtw.n_distinct_words, 0) AS BIGINT) AS n_distinct_words,
         | CAST(coalesce(rtw.top_word_count, 0) AS BIGINT) AS top_word_count,
         | CAST(coalesce(rtb.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
         | CAST(rtw.n_words - rtw.n_distinct_words AS DOUBLE) / nullif(rtw.n_words, 0) AS dup_word_frac,
         | CAST(coalesce(rtb.top_bigram_count, 0) AS DOUBLE) / nullif(rtw.n_words - 1, 0) AS top_bigram_frac,
         | CAST(coalesce(ld.n_tokens, 0) AS BIGINT) AS lm_n_tokens,
         | CASE WHEN ld.n_tokens > 0 THEN
         |  (CAST(ld.sq AS DOUBLE) / 1048576.0) / ld.n_tokens - ln(CAST(ltot.nt AS DOUBLE))
         | END AS avg_logprob,
         | coalesce(es.n_chars_e, 0) AS n_chars_e,
         | coalesce(es.sum_clnc_fp, 0) AS sum_clnc_fp,
         | CASE WHEN es.n_chars_e > 0 THEN
         |  CAST(CAST(round(ln(CAST(es.n_chars_e AS DOUBLE)) * 1048576) AS BIGINT) * es.n_chars_e
         |       - es.sum_clnc_fp AS DOUBLE)
         |    / (CAST(es.n_chars_e AS DOUBLE) * 1048576.0)
         | END AS entropy_nats,
         | f2.bad_hits,
         | CASE WHEN f2.n_aw = 0 THEN 0
         |      ELSE f2.bad_hits * 1000000 // f2.n_aw END AS bad_ppm,
         | bt.bpe_true
         |FROM f2
         |JOIN cr USING (doc_id)
         |JOIN bt USING (doc_id)
         |LEFT JOIN rtw USING (doc_id)
         |LEFT JOIN rtb USING (doc_id)
         |LEFT JOIN ld USING (doc_id)
         |LEFT JOIN es USING (doc_id)
         |CROSS JOIN ltot
         |ORDER BY f2.doc_id""".stripMargin,
    "dd_contamination" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0) AS ws
        | FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS pos FROM t),
        |g AS (
        | SELECT doc_id,
        |  w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS gram
        | FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |gg AS (SELECT DISTINCT doc_id, gram FROM g WHERE gram IS NOT NULL),
        |bench AS (
        | SELECT gram, MIN(doc_id) AS bench_id
        | FROM gg WHERE doc_id % 50 = 0 GROUP BY 1),
        |st AS (
        | SELECT gg.doc_id, COUNT(*) AS n_grams,
        |  COUNT(b.gram) AS n_contaminated,
        |  MIN(b.bench_id) AS matched_bench_id
        | FROM gg LEFT JOIN bench b ON gg.gram = b.gram
        | WHERE gg.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT doc_id, CAST(n_contaminated AS BIGINT) AS n_contaminated,
        | CAST(n_grams AS BIGINT) AS n_grams,
        | CAST(n_contaminated AS DOUBLE) / n_grams AS contamination_frac,
        | matched_bench_id
        |FROM st WHERE n_contaminated > 0 ORDER BY doc_id""".stripMargin,
    "ds_mix" ->
      """WITH w AS (
        | SELECT doc_id, source,
        |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 1500
        |              WHEN 'src2' THEN 200 WHEN 'src3' THEN 0 ELSE 1000 END AS wpm,
        |  ((doc_id % 2147483648 + 2147483648) % 2147483648 * 2654435761) % 4294967296 % 1000 AS b
        | FROM documents),
        |c AS (
        | SELECT doc_id, source,
        |  wpm // 1000 + CASE WHEN b < wpm % 1000 THEN 1 ELSE 0 END AS copies
        | FROM w)
        |SELECT source, CAST(SUM(copies) AS BIGINT) AS n_rows, COUNT(*) AS n_docs,
        | CAST(SUM(doc_id * copies) AS BIGINT) AS sum_ids,
        | CAST(MAX(copies) AS BIGINT) AS n_epochs
        |FROM c WHERE copies > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "ds_curate" ->
      """WITH base AS (
        | SELECT doc_id, source, n_chars,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0)) AS n_words,
        |  md5(array_to_string(list_sort(list_distinct(
        |   list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> len(w) > 0))), ' ')) AS fp_bow
        | FROM documents),
        |b2 AS (SELECT *, (n_chars >= 100 AND n_words >= 20) AS keep_q FROM base),
        |kept AS (
        | SELECT * FROM (
        |  SELECT doc_id, source, fp_bow,
        |   row_number() OVER (PARTITION BY fp_bow ORDER BY doc_id) AS rn
        |  FROM b2 WHERE keep_q) WHERE rn = 1),
        |t AS (
        | SELECT source, COUNT(*) AS n_total, COUNT(*) FILTER (keep_q) AS n_quality
        | FROM b2 GROUP BY 1),
        |k AS (
        | SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
        | FROM kept GROUP BY 1)
        |SELECT t.source, n_total, n_quality, coalesce(n_kept, 0) AS n_kept,
        | coalesce(sum_kept_ids, 0) AS sum_kept_ids
        |FROM t LEFT JOIN k ON t.source = k.source ORDER BY 1""".stripMargin,
    "txt_length_stats" ->
      """SELECT lang, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
        | MAX(n_chars) AS max_chars, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "txt_html_strip" ->
      """WITH h AS (
        | SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id ||
        |  '</title><style>p{color:red}</style></head><body><h1>Doc ' ||
        |  doc_id || '</h1><p>' || text ||
        |  '</p><script>var x=1;</script><!-- note --></body></html>' AS html
        | FROM documents),
        |x AS (
        | SELECT doc_id,
        |  trim(regexp_replace(
        |   replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |     '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |     '(?s)<!--.*?-->', ' ', 'g'),
        |     '<[^>]*>', ' ', 'g'),
        |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |   '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS extracted
        | FROM h)
        |SELECT doc_id, extracted, length(extracted) AS n_chars_x
        |FROM x ORDER BY doc_id""".stripMargin,
    "txt_redact" ->
      """WITH p AS (
        | SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or +1-555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS pii
        | FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | len(regexp_extract_all(pii, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        | regexp_replace(
        |  regexp_replace(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |  '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,
    // truncated mean then centered long squares — the exact two-pass the
    // Spark plan runs; `//` is truncating on non-negative operands
    "sim_whiten" ->
      """WITH v AS (
        | SELECT list_transform(embedding,
        |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vp
        | FROM embeddings),
        |e AS (
        | SELECT unnest(vp) AS v, generate_subscripts(vp, 1) - 1 AS pos
        | FROM (SELECT vp FROM v
        |       WHERE len(vp) > 0 AND len(list_filter(vp, x -> x IS NULL)) = 0)),
        |m AS (
        | SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v) AS BIGINT) // COUNT(*) AS mean_ppm
        | FROM e GROUP BY 1)
        |SELECT e.pos, MAX(m.n) AS n, CAST(MAX(m.mean_ppm) AS BIGINT) AS mean_ppm,
        | CAST(CAST(SUM((e.v - m.mean_ppm) * (e.v - m.mean_ppm)) AS BIGINT)
        |      // MAX(m.n) AS BIGINT) AS var_ppm2
        |FROM e JOIN m USING (pos)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same Lehmer family; `||` (not concat) so a NULL text propagates
    // NULL in DuckDB the way Spark's concat does
    "ds_fim" ->
      """WITH b AS (
        | SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
        |  (((doc_id*48271 + length(text)*16807 + 1) % 2147483647)
        |    * 48271 % 2147483647)
        |    % greatest(length(text), 1) + 1 AS p1,
        |  (((doc_id*48271 + length(text)*16807 + 2) % 2147483647)
        |    * 48271 % 2147483647)
        |    % greatest(length(text), 1) + 1 AS p2
        | FROM documents),
        |s AS (
        | SELECT doc_id, text, n_chars,
        |  CAST(LEAST(p1, p2) AS BIGINT) AS lo,
        |  CAST(GREATEST(p1, p2) AS BIGINT) AS hi
        | FROM b)
        |SELECT doc_id, n_chars, lo, hi,
        | md5(substr(text, 1, CAST(lo - 1 AS INT)) || '<fim>' ||
        |     substr(text, CAST(hi AS INT), CAST(n_chars - hi + 1 AS INT))) AS psm_fp,
        | md5(substr(text, CAST(lo AS INT), CAST(hi - lo AS INT))) AS middle_fp
        |FROM s ORDER BY doc_id""".stripMargin,
    // the 31-bit Lehmer mask replay (sim_rp precedent): position i
    // starts a span iff ((doc_id*48271 + i*16807 + 12345) mod (2^31-1))
    // *48271 mod (2^31-1) mod 7 = 0; a start masks i..i+2. string_agg
    // skips NULL items, which is exactly the run-collapse; empty/no-token
    // docs re-join as ('', '') while null text stays NULL
    "ds_span_corrupt" ->
      """WITH w AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                            x -> length(x) > 0) AS ws
        | FROM documents WHERE text IS NOT NULL),
        |e AS (
        | SELECT doc_id, len(ws) AS n_words, unnest(ws) AS w,
        |  generate_subscripts(ws, 1) AS i
        | FROM w),
        |m AS (
        | SELECT doc_id, n_words, w, i,
        |  ((CASE WHEN (((doc_id*48271 + i*16807 + 12345) % 2147483647)
        |            * 48271 % 2147483647) % 7 = 0 THEN 1 ELSE 0 END)
        |   + (CASE WHEN i >= 2 AND (((doc_id*48271 + (i-1)*16807 + 12345) % 2147483647)
        |            * 48271 % 2147483647) % 7 = 0 THEN 1 ELSE 0 END)
        |   + (CASE WHEN i >= 3 AND (((doc_id*48271 + (i-2)*16807 + 12345) % 2147483647)
        |            * 48271 % 2147483647) % 7 = 0 THEN 1 ELSE 0 END)) > 0 AS masked
        | FROM e),
        |r AS (
        | SELECT *, masked AND NOT coalesce(
        |   LAG(masked) OVER (PARTITION BY doc_id ORDER BY i), false) AS run_start
        | FROM m),
        |s AS (
        | SELECT doc_id, CAST(MAX(n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  md5(coalesce(string_agg(CASE WHEN NOT masked THEN w
        |    WHEN run_start THEN '<m>' END, ' ' ORDER BY i), '')) AS input_fp,
        |  md5(coalesce(string_agg(CASE WHEN run_start THEN '<m> ' || w
        |    WHEN masked THEN w END, ' ' ORDER BY i), '')) AS target_fp
        | FROM r GROUP BY 1)
        |SELECT d.doc_id,
        | CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(s.n_words, 0) END AS n_words,
        | CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(s.n_masked, 0) END AS n_masked,
        | CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(s.input_fp, md5('')) END AS input_fp,
        | CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(s.target_fp, md5('')) END AS target_fp
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // same double-cosine contract as dd_embed_exact (index-order double
    // sums agree across engines); Spark row_number is INT, DuckDB's is
    // BIGINT — cast
    "ds_hard_negatives" ->
      """WITH n AS (
        | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                        CAST(embedding AS DOUBLE[]))) AS nm
        | FROM embeddings),
        |a AS (
        | SELECT vec_id AS anchor_id, label AS a_label, v AS a_v, nm AS a_n
        | FROM n WHERE vec_id % 10 = 0 AND nm > 0),
        |f AS (
        | SELECT a.anchor_id, n.vec_id AS neg_id,
        |  list_dot_product(n.v, a.a_v) / (n.nm * a.a_n) AS cos_sim
        | FROM n JOIN a ON n.label <> a.a_label
        | WHERE n.nm > 0),
        |r AS (
        | SELECT anchor_id, neg_id, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY anchor_id
        |   ORDER BY cos_sim DESC, neg_id) AS INT) AS rank
        | FROM f WHERE cos_sim >= 0.25 AND cos_sim < 0.95)
        |SELECT * FROM r WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,
    "ds_positive_pairs" ->
      """WITH n AS (
        | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                        CAST(embedding AS DOUBLE[]))) AS nm
        | FROM embeddings),
        |a AS (
        | SELECT vec_id AS anchor_id, label AS a_label, v AS a_v, nm AS a_n
        | FROM n WHERE vec_id % 10 = 0 AND nm > 0),
        |f AS (
        | SELECT a.anchor_id, n.vec_id AS pos_id,
        |  list_dot_product(n.v, a.a_v) / (n.nm * a.a_n) AS cos_sim
        | FROM n JOIN a ON n.label = a.a_label AND n.vec_id <> a.anchor_id
        | WHERE n.nm > 0),
        |r AS (
        | SELECT anchor_id, pos_id, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY anchor_id
        |   ORDER BY cos_sim DESC, pos_id) AS INT) AS rank
        | FROM f WHERE cos_sim >= 0.2 AND cos_sim < 0.9999)
        |SELECT * FROM r WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,
    // the mess is injected with chr() so the SQL file stays ASCII; NFC,
    // \s (= [ \t\n\x0B\f\r] in RE2 and java.util.regex), and md5 agree
    // across engines — the fingerprint locks the normalized bytes
    "txt_normalize" ->
      """WITH m AS (
        | SELECT doc_id, chr(9) || 'e' || chr(769) || chr(160) ||
        |  replace(text, ' ', '  ') || chr(7) || '  end' AS messy
        | FROM documents),
        |n AS (
        | SELECT doc_id, length(messy) AS n_chars_messy,
        |  trim(regexp_replace(regexp_replace(
        |   replace(nfc_normalize(messy), chr(160), ' '),
        |   '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')) AS norm
        | FROM m)
        |SELECT doc_id, n_chars_messy, length(norm) AS n_chars_norm,
        | md5(norm) AS norm_fp
        |FROM n ORDER BY doc_id""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH n AS (
        | SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
        | FROM documents WHERE doc_id % 10 = 0),
        |s AS (
        | SELECT doc_id,
        |  list_distinct([substr(nt, CAST(i AS INT), 3) for i in range(1, length(nt) - 1)]) AS g
        | FROM n WHERE length(nt) >= 3)
        |SELECT a_id, b_id, inter, uni,
        | CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
        |FROM (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.g, b.g)) AS inter,
        |  len(list_distinct(list_concat(a.g, b.g))) AS uni
        | FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin,
    // transitive closure of the n-gram pair graph via a recursive CTE —
    // value-checks the component structure, not just the pair set
    "dd_cluster" ->
      """WITH RECURSIVE
        |n AS (
        | SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
        | FROM documents WHERE doc_id % 10 = 0),
        |s AS (
        | SELECT doc_id,
        |  list_distinct([substr(nt, CAST(i AS INT), 3) for i in range(1, length(nt) - 1)]) AS g
        | FROM n WHERE length(nt) >= 3),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.6),
        |e AS (SELECT a_id AS u, b_id AS v FROM p UNION SELECT b_id, a_id FROM p),
        |reach AS (
        | SELECT doc_id AS u, doc_id AS r FROM n
        | UNION
        | SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
        |cc AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u)
        |SELECT cc.doc_id, cc.cluster_id, sz.cluster_size,
        | cc.doc_id = cc.cluster_id AS is_canonical
        |FROM cc JOIN (
        | SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id) sz
        | USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    "dd_keep_best" ->
      s"""WITH RECURSIVE
         |n AS (
         | SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
         | FROM documents WHERE doc_id % 10 = 0),
         |s AS (
         | SELECT doc_id,
         |  list_distinct([substr(nt, CAST(i AS INT), 3) for i in range(1, length(nt) - 1)]) AS g
         | FROM n WHERE length(nt) >= 3),
         |p AS (
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id
         | FROM s a JOIN s b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.6),
         |e AS (SELECT a_id AS u, b_id AS v FROM p UNION SELECT b_id, a_id FROM p),
         |reach AS (
         | SELECT doc_id AS u, doc_id AS r FROM n
         | UNION
         | SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
         |cc AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id),
         |f AS (
         | SELECT doc_id, length(text) AS n_chars_m,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         |    / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio,
         |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> list_contains($enList, w))) AS DOUBLE)
         |    / CAST(nullif(CASE WHEN length(trim(text)) = 0 THEN 0
         |        ELSE len(string_split_regex(trim(text), '\\s+')) END, 0) AS DOUBLE) AS stopword_ratio
         | FROM documents WHERE doc_id % 10 = 0),
         |q AS (
         | SELECT doc_id,
         |  least(CAST(n_chars_m AS DOUBLE) / 500.0, 1.0) * 0.5
         |   + alpha_ratio * 0.25 + stopword_ratio * 0.25 AS quality
         | FROM f),
         |r AS (
         | SELECT cc.doc_id, cc.cluster_id, sz.cluster_size, q.quality,
         |  row_number() OVER (PARTITION BY cc.cluster_id
         |    ORDER BY q.quality DESC NULLS LAST, cc.doc_id) AS rn
         | FROM cc JOIN sz USING (cluster_id) JOIN q ON q.doc_id = cc.doc_id)
         |SELECT doc_id, cluster_id, cluster_size, quality
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "ev_json_extract" ->
      """SELECT k, COUNT(*) AS n FROM (
        | SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        | FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        | list_dot_product(e.v, q.qv)
        |  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
        |FROM e, q WHERE e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    "sim_centroids" ->
      """SELECT label, pos, COUNT(*) AS n,
        | CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_ppm
        |FROM (SELECT label, unnest(embedding) AS v,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,
    "sim_assign" ->
      """WITH v0 AS (
        | SELECT vec_id, label AS true_label,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vp
        | FROM embeddings),
        |v AS (SELECT * FROM v0
        |      WHERE len(vp) > 0 AND len(list_filter(vp, x -> x IS NULL)) = 0),
        |cp AS (
        | SELECT label AS c_label, pos,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) // COUNT(*) AS c
        | FROM (SELECT label, unnest(embedding) AS v,
        |              generate_subscripts(embedding, 1) AS pos FROM embeddings)
        | GROUP BY 1, 2),
        |c AS (SELECT c_label, list(CAST(c AS BIGINT) ORDER BY pos) AS cl FROM cp GROUP BY 1),
        |d AS (
        | SELECT v.vec_id, v.true_label, c.c_label,
        |  CAST(list_sum(list_transform(generate_series(1, len(vp)),
        |    i -> (vp[i] - cl[i]) * (vp[i] - cl[i]))) AS BIGINT) AS d2,
        |  row_number() OVER (PARTITION BY v.vec_id
        |                     ORDER BY CAST(list_sum(list_transform(generate_series(1, len(vp)),
        |                       i -> (vp[i] - cl[i]) * (vp[i] - cl[i]))) AS BIGINT) ASC,
        |                       c.c_label ASC) AS rk
        | FROM v CROSS JOIN c)
        |SELECT vec_id, true_label, c_label AS assigned_label, d2,
        |       (true_label = assigned_label) AS is_match
        |FROM d WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    "sim_semdedup" ->
      """WITH RECURSIVE
        |v0 AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vp
        | FROM embeddings),
        |v AS (SELECT * FROM v0
        |      WHERE len(vp) > 0 AND len(list_filter(vp, x -> x IS NULL)) = 0
        |        AND vec_id % 2 = 0),
        |cp AS (
        | SELECT label AS c_label, pos,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) // COUNT(*) AS c
        | FROM (SELECT label, unnest(embedding) AS v,
        |              generate_subscripts(embedding, 1) AS pos FROM embeddings)
        | GROUP BY 1, 2),
        |c AS (SELECT c_label, list(CAST(c AS BIGINT) ORDER BY pos) AS cl FROM cp GROUP BY 1),
        |d AS (
        | SELECT v.vec_id, c.c_label,
        |  CAST(list_sum(list_transform(generate_series(1, len(vp)),
        |    i -> (vp[i] - cl[i]) * (vp[i] - cl[i]))) AS BIGINT) AS d2,
        |  row_number() OVER (PARTITION BY v.vec_id
        |                     ORDER BY CAST(list_sum(list_transform(generate_series(1, len(vp)),
        |                       i -> (vp[i] - cl[i]) * (vp[i] - cl[i]))) AS BIGINT) ASC,
        |                       c.c_label ASC) AS rk
        | FROM v CROSS JOIN c),
        |asg AS (SELECT vec_id, c_label AS cluster, d2 FROM d WHERE rk = 1),
        |n AS (
        | SELECT asg.vec_id, asg.cluster, v.ve,
        |  sqrt(list_dot_product(v.ve, v.ve)) AS nm
        | FROM asg JOIN v USING (vec_id)),
        |p AS (
        | SELECT a.vec_id AS a_id, b.vec_id AS b_id
        | FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        | WHERE a.nm > 0 AND b.nm > 0
        |  AND list_dot_product(a.ve, b.ve) / (a.nm * b.nm) >= 0.3),
        |e AS (SELECT a_id AS u, b_id AS w FROM p UNION SELECT b_id, a_id FROM p),
        |reach AS (
        | SELECT vec_id AS u, vec_id AS r FROM asg
        | UNION
        | SELECT e.u, reach.r FROM e JOIN reach ON e.w = reach.u),
        |cc AS (SELECT u AS vec_id, MIN(r) AS group_id FROM reach GROUP BY u),
        |sz AS (SELECT group_id, COUNT(*) AS group_size FROM cc GROUP BY group_id),
        |r AS (
        | SELECT cc.vec_id, cc.group_id, sz.group_size, asg.cluster, asg.d2,
        |  row_number() OVER (PARTITION BY cc.group_id
        |    ORDER BY asg.d2 DESC, cc.vec_id) AS rn
        | FROM cc JOIN sz USING (group_id) JOIN asg USING (vec_id))
        |SELECT vec_id, group_id, group_size, cluster, d2
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "sim_outliers" ->
      """WITH v0 AS (
        | SELECT vec_id, label,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vp
        | FROM embeddings),
        |v AS (SELECT * FROM v0
        |      WHERE len(vp) > 0 AND len(list_filter(vp, x -> x IS NULL)) = 0),
        |cp AS (
        | SELECT label, pos,
        |  SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) // COUNT(*) AS c
        | FROM (SELECT label, unnest(embedding) AS v,
        |              generate_subscripts(embedding, 1) AS pos FROM embeddings)
        | GROUP BY 1, 2),
        |c AS (SELECT label, list(CAST(c AS BIGINT) ORDER BY pos) AS cl FROM cp GROUP BY 1),
        |d AS (
        | SELECT v.vec_id, v.label,
        |  CAST(list_sum(list_transform(generate_series(1, len(vp)),
        |    i -> (vp[i] - cl[i]) * (vp[i] - cl[i]))) AS BIGINT) AS d2
        | FROM v JOIN c USING (label)),
        |r AS (
        | SELECT label, vec_id, d2,
        |  row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id ASC) AS rk
        | FROM d)
        |SELECT label, rk, vec_id, d2 FROM r WHERE rk <= 10
        |ORDER BY label, rk""".stripMargin,
  )
}
