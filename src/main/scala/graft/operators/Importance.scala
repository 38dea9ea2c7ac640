package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed n-gram importance weighting for data selection (DSIR-style:
  * "Data Selection for Language Models via Importance Resampling",
  * Xie et al. 2023 — the public method, re-expressed Spark-first).
  *
  * Each document is represented by its word unigrams + bigrams hashed
  * into a fixed number of buckets; a target subset of the corpus (e.g.
  * one language, one trusted source) and the raw corpus each induce a
  * bucket distribution, and a document's importance weight is the sum of
  * per-gram log-likelihood ratios log p_target(b)/p_raw(b) (add-one
  * smoothed). High-weight documents "look like" the target under the
  * hashed-gram bag model and are the ones importance resampling keeps.
  * The reference engine's curation model runs per-record scoring
  * transforms over the wire exactly once
  * (/root/reference/pkg/internal/wire/transform.go:93-119); this is the
  * corpus-level analogue that needs a corpus-derived model first.
  *
  * Scale shape: pass 1 partial-aggregates hashed grams down to a
  * `buckets`-row table (the only exchange is `buckets` rows wide), which
  * is collected (bounded by construction: `buckets` ≤ 2^20) and folded
  * into a literal log-ratio array that ships with the plan like a
  * broadcast; pass 2 is a map-only projection — hash, look up, integer
  * sum — with no join and no aggregate, so at 100 TB the cost is two
  * corpus scans and an 16 KB table, and the scoring pass fuses into any
  * other per-doc projection. Selection composes on top (orderBy weight
  * desc / threshold), deliberately NOT baked in here: a global rank
  * would add a single-partition window for presentation only.
  *
  * Determinism / oracle-exactness: gram hashing is an integer polynomial
  * fold over codepoints (mod 2^31−1 — positive, overflow-free in longs);
  * ln() is taken only over INTEGRAL doubles (counts + smoothing), which
  * is bit-identical between JVM and DuckDB libm, quantized to 2⁻²⁰
  * fixed-point per bucket and summed as longs (associative under any
  * partitioning) — the same trick as
  * [[graft.functions.TextAnalytics.lmScore]].
  */
object Importance {

  /** Max buckets: keeps the collected table and the literal array that
    * rides the plan bounded (2^20 longs = 8 MB) at ANY corpus size. */
  val MaxBuckets = 1 << 20

  private val log2p20 = 1048576.0

  /** `round(ln(n) * 2^20)` over an integral argument — bit-identical to
    * DuckDB's `CAST(round(ln(CAST(n AS DOUBLE)) * 1048576) AS BIGINT)`
    * (Math.round = HALF_UP for the non-negative values ln produces
    * here). */
  private def qln(n: Long): Long = Math.round(Math.log(n.toDouble) * log2p20)

  /** One-pass gram kernel: bucket ids of the word unigrams + adjacent
    * bigrams of `text` — maximal [a-z] runs after lower-casing (the
    * corpus tokenization every other text operator uses), each hashed by
    * the polynomial fold h = fold(7, (h, c) -> (h·31 + c) mod 2³¹−1) over
    * its codepoints, bigrams over "w1 w2". The bigram hash is continued
    * FROM the previous word's fold state (the fold is sequential), so the
    * whole gram stream costs one pass over the characters — the
    * equivalent higher-order `aggregate(split(...))` formulation is
    * CodegenFallback and benched 13.5 s at sf0.1 vs <0.5 s here, the
    * same interpreted-fold trap FastHash exists for.
    *
    * Contract: ASCII-only lower-casing, like every kernel in
    * [[graft.functions.FastHash]] — the fixtures are pure ASCII; on
    * non-ASCII corpora pre-transliterate on both engines. */
  private[operators] def gramBuckets(text: String, buckets: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val P = 2147483647L
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    var h1 = 7L   // fold-from-7 of the word being read (unigram hash)
    var hb = 0L   // fold of (prev word + ' ' + word so far) (bigram hash)
    var prev = -1L
    var inWord = false
    var i = 0
    while (i <= text.length) {
      var c = if (i < text.length) text.charAt(i) else ' '
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c >= 'a' && c <= 'z') {
        if (!inWord) {
          inWord = true; h1 = 7L
          hb = if (prev >= 0) (prev * 31 + 32) % P else 0L
        }
        h1 = (h1 * 31 + c) % P
        if (prev >= 0) hb = (hb * 31 + c) % P
      } else if (inWord) {
        out += h1 % buckets
        if (prev >= 0) out += hb % buckets
        prev = h1
        inWord = false
      }
      i += 1
    }
    out.result()
  }

  /** Typed result of the scoring kernel (Spark 4 needs a case-class
    * encoder, not udf(f, schema)). */
  case class GramScore(nGrams: Long, weightFp: Long)

  /** The trained selection model: dense per-bucket log-likelihood-ratio
    * table (2⁻²⁰ fixed point; `ql.length` buckets) plus the constant
    * per-gram smoothing-normalizer term. Bounded by [[MaxBuckets]] at
    * ANY corpus size — the corpus determines the VALUES, never the
    * size, which is what lets it ship as a closure/broadcast and
    * persist as a tiny artifact. */
  case class ImportanceModel(ql: Array[Long], qn: Long) {
    def buckets: Int = ql.length
  }

  /** Per-document importance weights against a target subset.
    *
    * Output: (doc_id, n_grams, weight_fp, avg_weight) — `weight_fp` is
    * the 2⁻²⁰ fixed-point sum Σ_g [qln(ct(b)+1) − qln(cr(b)+1)] −
    * n_grams·[qln(Nt+B) − qln(Nr+B)], i.e. the add-one-smoothed
    * log-likelihood-ratio of the doc under target vs raw hashed-gram
    * unigram models; `avg_weight` the per-gram double. Documents with no
    * grams are excluded (no model support on either side).
    *
    * @param isTarget predicate over the doc row selecting the target
    *                 subset (e.g. `col("lang") === "en"`)
    */
  def importanceWeights(docs: DataFrame, isTarget: Column,
                        buckets: Int = 2048): DataFrame =
    scoreImportance(docs, trainImportanceModel(docs, isTarget, buckets))

  /** Pass 1, the model build: hashed-gram bucket counts for the target
    * subset and the raw corpus, folded into the per-bucket log-ratio
    * table on the driver. The only exchange is `buckets` rows wide at
    * any corpus size; a production pipeline trains once per corpus
    * refresh ([[saveImportanceModel]]) and scores many batches/streams
    * against the loaded artifact. */
  def trainImportanceModel(docs: DataFrame, isTarget: Column,
                           buckets: Int = 2048): ImportanceModel = {
    require(buckets > 0 && buckets <= MaxBuckets,
      s"buckets must be in (0, $MaxBuckets]: $buckets")
    val bucketsUdf = udf((s: String) => gramBuckets(s, buckets))
    val counts = docs
      .select(isTarget.as("__t"), explode(bucketsUdf(col("text"))).as("__b"))
      .groupBy("__b")
      .agg(count(lit(1)).as("cr"), sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
      .collect()
    var nr = 0L; var nt = 0L
    val ql = new Array[Long](buckets)
    counts.foreach { r =>
      val b = r.getLong(0).toInt; val cr = r.getLong(1); val ct = r.getLong(2)
      nr += cr; nt += ct
      ql(b) = qln(ct + 1) - qln(cr + 1)
    }
    ImportanceModel(ql, qln(nt + buckets) - qln(nr + buckets))
  }

  /** Pass 2, the scoring projection: re-hash, look up, integer-sum in
    * one kernel call per doc (the model is a closure constant, shipped
    * with the task like a broadcast); docs with no grams return None and
    * drop (no model support on either side). STATELESS — no join, no
    * aggregate, no state store — so it applies unchanged to a streaming
    * `docs` (the online half of selection: score documents as they
    * arrive against the current model artifact, which refreshes
    * out-of-band like the LSH/IVF index versions; the differential spec
    * locks stream ≡ batch). asNondeterministic is a placement fence,
    * not semantics: the UDF is pure, but without it the isNotNull filter
    * is pushed below the Project as isnotnull(UDF(text)) and the kernel
    * runs TWICE per doc (Filter and Project are separate codegen
    * operators — no cross-operator CSE). */
  def scoreImportance(docs: DataFrame, model: ImportanceModel): DataFrame = {
    val ql = model.ql; val qn = model.qn; val buckets = model.buckets
    val scoreUdf = udf { (s: String) =>
      val bs = gramBuckets(s, buckets)
      if (bs.isEmpty) None
      else {
        var sq = 0L; var i = 0
        while (i < bs.length) { sq += ql(bs(i).toInt); i += 1 }
        Some(GramScore(bs.length.toLong, sq - bs.length * qn))
      }
    }.asNondeterministic()
    docs
      .select(col("doc_id"), scoreUdf(col("text")).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col("doc_id"), col("__s.nGrams").as("n_grams"),
        col("__s.weightFp").as("weight_fp"),
        ((col("__s.weightFp").cast("double") / log2p20) /
          col("__s.nGrams")).as("avg_weight"))
  }

  /** Persist a trained model as the `v<N>/meta.json` of a versioned
    * artifact ([[graft.sources.Fs.writeVersioned]]). */
  def saveImportanceModel(spark: org.apache.spark.sql.SparkSession,
                          model: ImportanceModel, path: String): Unit =
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      graft.sources.Fs.writeMeta(spark, vdir, model)
    }

  /** Load the `_current` version of a persisted model. */
  def loadImportanceModel(spark: org.apache.spark.sql.SparkSession,
                          path: String): ImportanceModel = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no importance model at $path (missing _current pointer — " +
        "run saveImportanceModel first)")
    val model = graft.sources.Fs.readMeta[ImportanceModel](spark, vdir,
      "run saveImportanceModel")
    require(model.buckets > 0 && model.buckets <= MaxBuckets,
      s"persisted model at $vdir has implausible bucket count ${model.buckets}")
    model
  }
}
