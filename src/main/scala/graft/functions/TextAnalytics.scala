package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text analytics for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything here is built from `org.apache.spark.sql.functions` only — no
  * UDFs — so the whole pipeline stays inside whole-stage codegen and every
  * expression has an exact DuckDB-SQL transliteration for the oracle. At
  * 100 TB these run as pure map-side projections over the parquet scan: no
  * shuffle, no driver involvement.
  *
  * The reference's only text ops are upper/concat/contains chains
  * (`/root/reference/pkg/internal/conduit/conduit_test.go:80-91`); these
  * operators are the training-data-pipeline extension mandated by SURVEY §7.9.
  */
object TextAnalytics {

  /** Lower-cased alphabetic word tokens. */
  def words(text: Column): Column = split(lower(text), "[^a-z]+")

  /** ASCII-only variant: maximal `[A-Za-z]` runs, case-folded AFTER the
    * non-ASCII strip. Pairs with JVM kernels that scan `charAt` ranges
    * (the BPE encoder) — [[words]]' Unicode `lower()` can admit characters
    * whose lowercase lands in `[a-z]` (e.g. U+212A KELVIN SIGN → 'k') that
    * an ASCII scanner treats as separators, so a model trained on [[words]]
    * would disagree with its own ASCII encode kernel on non-ASCII text.
    * On pure-ASCII input the two tokenizations are identical. */
  def asciiWords(text: Column): Column =
    split(lower(regexp_replace(text, "[^A-Za-z]+", " ")), " ")

  /** Per-language marker-word lists. With the synthetic fixture vocabulary
    * the interesting property is determinism, not linguistics; on real data
    * these would be the usual top-stopword lists per language.
    */
  val enMarkers: Seq[String] = Seq("the", "a", "of", "to", "and", "is", "in", "that")
  val dataMarkers: Seq[String] = Seq("table", "row", "column", "key", "value", "hash")
  val computeMarkers: Seq[String] = Seq("scan", "merge", "join", "agg", "filter", "sort", "group", "window")

  /** FNV hashes of the three marker lists, precomputed once; class index
    * order is (en, data, compute). */
  private lazy val markerHashSets: Array[Array[Long]] =
    Array(enMarkers, dataMarkers, computeMarkers).map(_.map(FastHash.fnv1a64).toArray)

  /** All three marker hit-counts in ONE tokenization pass (FastHash
    * kernel). The earlier `filter(words, array_contains)` HOF form was
    * CodegenFallback — interpreted, boxed, and re-tokenizing per class; at
    * corpus scale that is 3 interpreted passes per row. The UDF is
    * deterministic, so repeated uses inside one projection are
    * subexpression-eliminated by codegen. */
  def markerHitCounts(text: Column): Column =
    FastHash.markerHitsCol(text, markerHashSets)

  private def hitCount(text: Column, classIdx: Int): Column =
    element_at(markerHitCounts(text), classIdx + 1)

  /** n-gram-heuristic language/domain ID: count marker hits per class, pick
    * the argmax with a fixed tie order. Pure projection (no shuffle).
    */
  def langScores(text: Column): (Column, Column, Column) = {
    val hits = markerHitCounts(text)
    (element_at(hits, 1), element_at(hits, 2), element_at(hits, 3))
  }

  def langPredict(en: Column, data: Column, compute: Column): Column =
    when(en >= data && en >= compute, "en")
      .when(data >= compute, "data")
      .otherwise("compute")

  /** Blocklist for the C4-style bad-word document filter: pages containing
    * blocklisted terms are dropped (strict) or down-weighted past a hit-rate
    * threshold (soft). On real data this is the standard released badword
    * list; on the synthetic fixture it mixes present ("slow", "big") and
    * absent ("spam", "junk") members so both outcomes are exercised. */
  val blockWords: Seq[String] = Seq("slow", "big", "spam", "junk")

  private lazy val blockHashSet: Array[Array[Long]] =
    Array(blockWords.map(FastHash.fnv1a64).toArray)

  /** Blocklisted-token occurrences in one tokenization pass (same FNV
    * kernel as [[markerHitCounts]]; null text → null). */
  def blockHits(text: Column): Column =
    element_at(FastHash.markerHitsCol(text, blockHashSet), 1)

  /** Marker classes + the blocklist as ONE kernel call — the [[signals]]
    * extractor counts all four in a single tokenization pass. */
  private lazy val markerAndBlockSets: Array[Array[Long]] =
    markerHashSets :+ blockHashSet.head

  /** All four hit classes (en / data / compute / blocklist) in ONE
    * tokenization pass — what [[signals]] and the corpus card consume. */
  def markerAndBlockHits(text: Column): Column =
    FastHash.markerHitsCol(text, markerAndBlockSets)

  /** Row-level blocklist kernel — the SQL-surface twin of [[blockHits]]
    * (registered as `graft_block_hits`); null in → null out. */
  def blockHitsKernel(s: String): Integer = {
    val r = FastHash.markerHits(s, blockHashSet)
    if (r == null) null else Integer.valueOf(r(0))
  }

  /** The shared one-pass character-class counts ([[FastHash.textCounts]]):
    * every reader below is an element_at over this ONE deterministic
    * kernel call, so a projection using several of them (txt_quality,
    * txt_tokens, the fused signals scan) runs the pass once per row where
    * the regex formulations each cost their own java.util.regex walk —
    * the counts are value-identical by the property-locked equivalences
    * on the kernel's scaladoc. */
  private def textCounts(text: Column): Column = FastHash.textCountsCol(text)

  /** Count of alphabetic word runs — the denominator for token-rate
    * signals. ≡ `regexp_count(text, "[A-Za-z]+")`, equal to the number of
    * non-empty [[words]] tokens on ASCII text. */
  def alphaTokenCount(text: Column): Column = element_at(textCounts(text), 4)

  /** Whitespace token count (trim first so blank docs count 0).
    * ≡ `when(length(trim(text)) = 0, 0)
    *    .otherwise(size(split(trim(text), "\\s+")))`. */
  def wsTokenCount(text: Column): Column = element_at(textCounts(text), 3)

  /** BPE-ish subword count: alphabetic runs, digit runs, and single
    * punctuation marks each count as one token — the standard pre-tokenizer
    * regex shape used by byte-pair tokenizers. ≡ `regexp_count(text,
    * bpeTokenPattern)`. */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column = element_at(textCounts(text), 5)

  /** Quality-scoring feature columns (length/punct/alpha/stopword ratios). */
  def nChars(text: Column): Column = length(text)
  /** ≡ `length(regexp_replace(text, "[^.!?,;:]", ""))` — punctuation only. */
  def punctCount(text: Column): Column = element_at(textCounts(text), 1)
  /** Numerator ≡ `length(regexp_replace(text, "[^A-Za-z]", ""))`. */
  def alphaRatio(text: Column): Column =
    element_at(textCounts(text), 2).cast("double") /
      nullif(length(text), lit(0)).cast("double")
  def stopwordRatio(text: Column): Column =
    hitCount(text, 0).cast("double") /
      nullif(wsTokenCount(text), lit(0)).cast("double")

  /** Composite quality score in [0,1]-ish: weighted, exactly reproducible. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(nChars(text).cast("double") / lit(500.0), lit(1.0))
    lenScore * lit(0.5) + alphaRatio(text) * lit(0.25) + stopwordRatio(text) * lit(0.25)
  }

  /** Lower-cased alphabetic tokens with empties removed — the shared
    * tokenization under the bag-of-words identity. */
  def bowWords(text: Column): Column =
    array_remove(split(lower(text), "[^a-z]+"), "")

  /** Order-insensitive bag-of-words identity: md5 of the sorted distinct
    * word set — the near-dup fingerprint shared by the curation funnel
    * (dsCurate), the streaming curate dedup, and the train→eval leakage
    * audit (ONE definition, so the identity cannot drift between them).
    * Docs with NO content under this identity (null text, or no
    * alphabetic tokens at all) get a NULL fingerprint: cross-engine
    * consistent (DuckDB's md5(NULL) is NULL while Spark's concat_ws
    * would quietly map a null array to md5("")), and it keeps unrelated
    * letterless docs ("123" vs "!!!") from colliding on the empty-set
    * hash and reporting as duplicates of each other. */
  def bowFingerprint(text: Column): Column = {
    val ws = bowWords(text)
    when(text.isNull || size(ws) === 0, lit(null).cast("string"))
      .otherwise(md5(concat_ws(" ", array_sort(array_distinct(ws)))))
  }

  /** Document fingerprint: md5 over whitespace-normalized, lower-cased text —
    * the exact-dedupe identity (reference: sha-256 element IDs,
    * `/root/reference/pkg/internal/types/element.go:28-37`). */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))
  def fingerprint(text: Column): Column = md5(normalizedText(text))

  /** 64-bit rolling-style content hash (xxhash64 of the normalized text) —
    * cheap bigint identity for shuffle keys; codegen'd native expression. */
  def fingerprint64(text: Column): Column = xxhash64(normalizedText(text))

  // ---- HTML → text extraction (K8 HTML codec,
  //      `/root/reference/pkg/internal/codec/html.go`, generalized to the
  //      web-corpus extraction step of a training-data pipeline) ----

  /** Strip an HTML document to its visible text: drop script/style blocks
    * and comments, remove tags, decode the common entities, collapse
    * whitespace. Pure regexp chain — no UDF, stays in codegen, and has an
    * exact DuckDB transliteration (regexp_replace/replace chain). Every
    * pattern is valid in both java.util.regex and RE2 ((?is) inline flags,
    * non-greedy quantifiers). */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    // literal replaces; &amp; LAST so "&amp;lt;" single-decodes to "&lt;"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // ---- PII redaction (training-data sanitization pass) ----

  /** Patterns valid and identical in java.util.regex and RE2. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** Mask emails then phones. Email first: an email never contains a
    * phone-shaped substring, so order only matters for determinism. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "[EMAIL]"),
      phonePattern, "[PHONE]")

  def emailCount(text: Column): Column = regexp_count(text, lit(emailPattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(phonePattern))

  // ---- Unicode normalization (ingest sanitation pass) ----

  // compiled ONCE: replaceAll on String recompiles its Pattern per call,
  // which on the per-document ingest path is pure wasted CPU
  private val ctrlPattern =
    java.util.regex.Pattern.compile("[\\x00-\\x08\\x0B\\x0E-\\x1F\\x7F]")
  private val wsRunPattern = java.util.regex.Pattern.compile("\\s+")

  /** Canonical text normalization, the fixed order every consumer shares:
    * (1) Unicode NFC (combining sequences compose — 'e'+U+0301 -> 'e'
    * with acute); (2) NBSP -> plain space; (3) strip control chars
    * ([\x00-\x08\x0B\x0E-\x1F\x7F] — \x0B is stripped HERE, not
    * collapsed, because Java's \s includes it while RE2's \s is
    * [\t\n\f\r ] and does not: stripping it first is what keeps the
    * two engines identical); (4) collapse every whitespace run (\t \n
    * \f \r space — the \s members the engines agree on) to one space;
    * (5) trim. Row-local scalar; null in -> null out. */
  def normalizeText(text: Column): Column = {
    val u = udf { (s: String) =>
      if (s == null) null
      else {
        val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
          .replace('\u00A0', ' ')
        wsRunPattern.matcher(
          ctrlPattern.matcher(nfc).replaceAll("")).replaceAll(" ").trim
      }
    }
    u(text)
  }

  // ---- Span corruption (denoising pretraining objective) ----

  /** T5/UL2-style span corruption, fully deterministic and
    * SQL-replayable: lower-cased alphabetic word tokens (the [[words]]
    * contract); position i (1-based) STARTS a masked span iff two
    * Lehmer rounds of (doc_id, i) land on 0 mod 7 — h = (doc_id·48271 +
    * i·16807 + 12345) mod (2³¹−1), start iff (h·48271 mod (2³¹−1))
    * mod 7 = 0 — and a start masks positions i..i+2 (overlapping spans
    * merge). The corrupted INPUT replaces each masked run with one `<m>`
    * sentinel; the TARGET is the masked runs, each prefixed `<m>` (the
    * denoising pair a seq2seq objective trains on). ~35–40% of starts
    * at rate 1/7 × span 3. The 31-bit Lehmer replays exactly in DuckDB
    * BIGINT arithmetic (the sim_rp precedent), so the oracle checks the
    * md5 of both strings. One pass per doc; null text → null. */
  def spanCorrupt(text: String, docId: Long): (Int, Int, String, String) = {
    if (text == null) return null
    val words = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
    val n = words.length
    def starts(i: Int): Boolean = { // i is 1-based
      val h = (docId * 48271L + i.toLong * 16807L + 12345L) % 2147483647L
      (h * 48271L % 2147483647L) % 7L == 0L
    }
    val masked = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (starts(i + 1)) {
        var j = i
        while (j < math.min(i + 3, n)) { masked(j) = true; j += 1 }
      }
      i += 1
    }
    val input = new StringBuilder
    val target = new StringBuilder
    var nMasked = 0
    i = 0
    while (i < n) {
      val runStart = masked(i) && (i == 0 || !masked(i - 1))
      if (!masked(i)) {
        if (input.nonEmpty) input.append(' ')
        input.append(words(i))
      } else {
        nMasked += 1
        if (runStart) {
          if (input.nonEmpty) input.append(' ')
          input.append("<m>")
          if (target.nonEmpty) target.append(' ')
          target.append("<m>")
        }
        target.append(' ').append(words(i))
      }
      i += 1
    }
    (n, nMasked, input.toString, target.toString)
  }

  // ---- TF-IDF distinctive terms (corpus vocabulary analysis) ----

  /** Top-k most distinctive terms per document: rank by (tf desc, df asc,
    * token asc). The integer-exact ordering is the tf-idf ordering for any
    * monotone idf whenever tf ties break by rarity — and being integer-only
    * it is bit-reproducible across engines (a float tf·idf score would hang
    * the oracle on libm ulp differences). [[tfIdf]] exposes the smoothed
    * float score for consumers that want the value, not the ranking.
    *
    * Scale shape: ONE token explode + tf aggregation (the corpus pass —
    * deriving df from a separate aggregation would recompute the scan and
    * tokenize twice), then df as a count-over-window on the already-reduced
    * tf table, then per-doc WindowGroupLimit top-k. Three exchanges of
    * (doc, tok, count)-width rows, one corpus read, no driver state. */
  def tfIdfTop(docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
    val w = Window.partitionBy("doc_id").orderBy(desc("tf"), asc("df"), asc("tok"))
    withDf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "tok", "tf", "df", "rank")
  }

  /** Smoothed tf-idf score: tf · (ln((N+1)/(df+1)) + 1). */
  def tfIdf(tf: Column, df: Column, nDocs: Long): Column =
    tf.cast("double") * (log((lit(nDocs) + 1).cast("double") / (df.cast("double") + 1)) + 1)

  // ---- Context-window chunking (training-example preparation) ----

  /** Split each document into overlapping token windows of `size` words
    * every `stride` words — the context-window chunking step that precedes
    * sequence packing in a training pipeline. Every token lands in at least
    * one chunk; the final chunk may be short. Pure built-ins
    * (sequence/explode/slice — all codegen'd), map-side only: the explode
    * multiplies rows ~n/stride but shuffles nothing. */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, size: Int,
                  stride: Int): org.apache.spark.sql.DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size (stride > size would drop tokens)")
    // same tokenizer as the rest of the text stack (words()), so chunking
    // can never drift from lmScore/markerHitCounts tokenization
    val ws = array_remove(words(col("text")), "")
    docs.select(col("doc_id"), ws.as("ws"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("ws")))
      .filter(col("n") > 0)
      .withColumn("chunk_id",
        explode(sequence(lit(0), expr(s"(n - 1) div $stride"))))
      // materialize the window once; chunk_text/n_tokens derive from it
      .withColumn("chunk",
        slice(col("ws"), (col("chunk_id") * stride + 1).cast("int"), lit(size)))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", col("chunk")).as("chunk_text"),
        org.apache.spark.sql.functions.size(col("chunk")).cast("long").as("n_tokens"))
  }

  // ---- One-pass multi-signal extractor (txt_signals) ----

  /** Quantized unigram LM: token → round(ln(count)·2²⁰), plus the corpus
    * token total. Trained once by [[trainUnigramLm]] (a bounded model-build
    * job), applied map-side by [[signals]]' scoring kernel. */
  final case class UnigramLm(ql: java.util.HashMap[String, java.lang.Long],
                             totalTokens: Long)

  /** round(ln(cnt)·2²⁰) with Spark's exact `round` semantics (HALF_UP over
    * the decimal rendering of the double — `BigDecimal.valueOf`), so the
    * pre-quantized LM entries equal the standalone query's per-token
    * `round(log(cnt)*1048576).cast(long)` bit-for-bit. */
  private[functions] def quantLogCount(cnt: Long): Long =
    java.math.BigDecimal.valueOf(math.log(cnt.toDouble) * 1048576d)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** Capped distinct-word frequency table: one corpus scan partial-aggregates
    * to (token, count), collected driver-side under a hard cap — the collect
    * can never fetch more than `maxVocab + 1` rows. Shared by the unigram-LM
    * and BPE trainers; the tokenizer column is the caller's so each model
    * stays consistent with its own scoring kernel. */
  private[graft] def wordFrequencyTable(docs: org.apache.spark.sql.DataFrame,
                                        tokenizer: Column => Column,
                                        maxVocab: Int,
                                        what: String): Array[org.apache.spark.sql.Row] = {
    val rows = docs.select(explode(tokenizer(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .limit(maxVocab + 1)
      .collect()
    require(rows.length <= maxVocab,
      s"$what vocabulary exceeds maxVocab=$maxVocab — train on a " +
        "sampled or reference corpus, or raise the cap")
    rows
  }

  /** Train the unigram LM: one token-aggregation job, vocabulary collected
    * to the driver (guard-limited — the collect can never fetch more than
    * `maxVocab + 1` rows) and quantized once. The memory bound is the
    * vocabulary, the same bound the broadcast-join formulation in
    * [[lmScore]] already carries; a corpus whose alphabetic vocabulary
    * exceeds the cap should train on a sample or a fixed reference corpus
    * (which is what a production pipeline does anyway — the LM is a model
    * artifact, not a per-query derivation). */
  def trainUnigramLm(docs: org.apache.spark.sql.DataFrame,
                     maxVocab: Int = 1 << 25): UnigramLm = {
    val rows = wordFrequencyTable(docs, words, maxVocab, "unigram LM")
    val ql = new java.util.HashMap[String, java.lang.Long](math.max(16, rows.length * 2))
    var total = 0L
    rows.foreach { r =>
      val cnt = r.getLong(1)
      total += cnt
      ql.put(r.getString(0), java.lang.Long.valueOf(quantLogCount(cnt)))
    }
    UnigramLm(ql, total)
  }

  private final case class LmMeta(totalTokens: Long) // v<N>/meta.json

  /** Persist a trained LM as a versioned model artifact
    * ([[graft.sources.Fs.writeVersioned]]): `v<N>/lm/` parquet (token, ql;
    * vocabulary-sized) plus `v<N>/meta.json`. A production pipeline trains
    * once per corpus refresh and scores many batches/streams against the
    * loaded artifact. */
  def saveUnigramLm(spark: org.apache.spark.sql.SparkSession, lm: UnigramLm,
                    path: String): Unit = {
    import spark.implicits._
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      // one flat array copy of the vocab, shipped through parallelize —
      // NOT Seq.toDF, whose LocalRelation would embed an encoded second
      // copy of an up-to-2^25-entry vocab inside the write plan on the
      // driver (a ~3x transient spike next to the live HashMap)
      val entries = new Array[(String, Long)](lm.ql.size)
      val it = lm.ql.entrySet.iterator
      var i = 0
      while (it.hasNext) {
        val e = it.next()
        entries(i) = (e.getKey, e.getValue.longValue)
        i += 1
      }
      val slices = math.min(32, 1 + entries.length / (1 << 20))
      spark.sparkContext
        .parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(entries), slices)
        .toDF("tok", "ql").write.mode("overwrite").parquet(s"$vdir/lm")
      graft.sources.Fs.writeMeta(spark, vdir, LmMeta(lm.totalTokens))
    }
  }

  /** Load the `_current` version of a persisted LM (guard-limited like
    * [[trainUnigramLm]]'s collect). */
  def loadUnigramLm(spark: org.apache.spark.sql.SparkSession, path: String,
                    maxVocab: Int = 1 << 25): UnigramLm = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no unigram LM at $path (missing _current pointer — " +
        "run saveUnigramLm first)")
    val rows = spark.read.parquet(s"$vdir/lm").limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"persisted LM vocabulary exceeds maxVocab=$maxVocab")
    val ql = new java.util.HashMap[String, java.lang.Long](math.max(16, rows.length * 2))
    rows.foreach(r => ql.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1))))
    UnigramLm(ql, graft.sources.Fs.readMeta[LmMeta](spark, vdir,
      "run saveUnigramLm").totalTokens)
  }

  /** (nTokens, Σ quantized-log-count) per row; null text → null struct (the
    * SQL formulation produces no row — downstream nulls match). */
  private def lmStatsCol(text: Column,
                         lm: org.apache.spark.broadcast.Broadcast[UnigramLm]): Column =
    udf((s: String) => if (s == null) None else Some(FastHash.lmStats(s, lm.value.ql)))
      .apply(text)

  /** ALL per-document quality/identity signals in ONE corpus pass — the
    * curation scan: quality features, whitespace/BPE token counts, language
    * ID, fingerprint, compression ratio, repetition stats, unigram-LM
    * score, and character entropy, each column bit-equal to its standalone
    * query (txt_quality, txt_tokens, txt_lang_id, txt_fingerprint,
    * txt_compress_ratio, txt_repetition, txt_lm_score, txt_entropy,
    * txt_blocklist — TxtSignalsSpec locks the equality; the blocklist
    * count is the 4th element of the same single marker-kernel pass).
    * At 100 TB the corpus scan IS the dominant cost of a curation decision;
    * eight single-signal queries read the corpus eight times, this
    * projection reads it once — the reference's own model runs ALL
    * per-record transforms as one chain over the wire, never a rescan
    * (`/root/reference/pkg/internal/wire/transform.go:93-119`).
    *
    * Row contract: rows are NOT filtered (txt_repetition drops 0-word docs,
    * txt_lm_score drops docs with no in-LM tokens; here those docs keep
    * zero counts and null fractions/score), and the repetition word count
    * is emitted as `n_alpha_words` (txt_quality's `n_words` keeps its
    * whitespace-token meaning).
    *
    * The LM rides an explicit executor broadcast into the scoring kernel —
    * a map-side lookup, where the broadcast-JOIN formulation would add a
    * second scan branch and an aggregation. Plan: scan → project (+
    * presentation sort), 0 joins, 0 aggregates — PlanAuditSpec locks it.
    * Being a stateless projection, it applies UNCHANGED to a streaming
    * DataFrame (score arriving docs against a loaded LM artifact —
    * [[saveUnigramLm]]/[[loadUnigramLm]]); TxtSignalsSpec runs the
    * batch/stream differential.
    *
    * Pass `bpe` (a trained [[Bpe.BpeModel]], typically the persisted
    * artifact) to fuse the TRUE subword count into the same pass as
    * `bpe_true` — bit-equal to the standalone txt_bpe column
    * (TxtSignalsSpec locks it; the driver oracle joins the committed
    * txt_bpe golden), without the second corpus scan the standalone
    * query costs. */
  def signals(docs: org.apache.spark.sql.DataFrame, lm: UnigramLm,
              bpe: Option[Bpe.BpeModel] = None): org.apache.spark.sql.DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(lm)
    val t = col("text")
    val bytes = encode(t, "UTF-8")
    val raw = docs.select(Seq(col("doc_id"),
      nChars(t).as("n_chars_m"),
      wsTokenCount(t).as("n_words"),
      punctCount(t).as("n_punct"),
      alphaRatio(t).as("alpha_ratio"),
      // one kernel pass counts the three language classes AND the
      // blocklist (4th element) — fusing txt_blocklist costs zero extra
      // tokenizations
      markerAndBlockHits(t).as("__hits"),
      alphaTokenCount(t).cast("int").as("__baw"),
      bpeTokenCount(t).as("bpe_tokens"),
      fingerprint(t).as("fp"),
      length(bytes).cast("long").as("n_bytes"),
      Codecs.deflateLenCol(bytes).cast("long").as("n_deflate"),
      FastHash.repetitionStatsCol(t).as("__r"),
      lmStatsCol(t, bc).as("__l"),
      entropyStatsCol(t).as("__e")) ++
      // the TRUE subword count under a trained model (txt_bpe's), fused
      // into the same pass — at 100 TB the real tokenizer count must not
      // cost a second corpus scan; stays a stateless map-side kernel, so
      // the plan lock (1 scan, 0 joins, 0 aggregates) and the streaming
      // twin hold unchanged
      bpe.map(m => Bpe.bpeCountCol(t, m).as("bpe_true")).toSeq: _*)
    // derivations reference the hoisted kernel structs, so every kernel
    // runs exactly once per row no matter how many columns consume it
    val stopword = element_at(col("__hits"), 1).cast("double") /
      nullif(col("n_words"), lit(0)).cast("double")
    val lenScore = least(col("n_chars_m").cast("double") / lit(500.0), lit(1.0))
    val nAlpha = col("__r._1").cast("long")
    raw.select(Seq(
      col("doc_id"), col("n_chars_m"), col("n_words"), col("n_punct"),
      col("alpha_ratio"),
      stopword.as("stopword_ratio"),
      (lenScore * lit(0.5) + col("alpha_ratio") * lit(0.25) + stopword * lit(0.25))
        .as("quality"),
      col("n_words").as("ws_tokens"),
      col("bpe_tokens"),
      element_at(col("__hits"), 1).as("en_hits"),
      element_at(col("__hits"), 2).as("data_hits"),
      element_at(col("__hits"), 3).as("compute_hits"),
      langPredict(element_at(col("__hits"), 1), element_at(col("__hits"), 2),
        element_at(col("__hits"), 3)).as("predicted"),
      col("fp"), col("n_bytes"), col("n_deflate"),
      when(col("n_bytes") === 0, lit(1000000L))
        .otherwise(expr("n_deflate * 1000000 div n_bytes")).as("ratio_ppm"),
      nAlpha.as("n_alpha_words"),
      col("__r._2").cast("long").as("n_distinct_words"),
      col("__r._3").cast("long").as("top_word_count"),
      col("__r._4").cast("long").as("top_bigram_count"),
      ((nAlpha - col("__r._2").cast("long")).cast("double") /
        nullif(nAlpha, lit(0L)).cast("double")).as("dup_word_frac"),
      // guarded: at n_alpha_words = 0 the unguarded form divides by
      // nullif(-1, 0) = -1 and emits -0.0 where the filtered standalone
      // query (and the SQL oracle's left join) have NULL
      when(nAlpha > 0,
        col("__r._4").cast("long").cast("double") /
          nullif(nAlpha - 1, lit(0L)).cast("double")).as("top_bigram_frac"),
      coalesce(col("__l._1"), lit(0L)).as("lm_n_tokens"),
      when(col("__l._1") > 0,
        (col("__l._2").cast("double") / lit(1048576.0)) / col("__l._1") -
          log(lit(lm.totalTokens).cast("double"))).as("avg_logprob"),
      coalesce(col("__e.nChars"), lit(0L)).as("n_chars_e"),
      coalesce(col("__e.sumClncFp"), lit(0L)).as("sum_clnc_fp"),
      when(col("__e.nChars") > 0,
        entropyNats(col("__e.nChars"), col("__e.sumClncFp"))).as("entropy_nats"),
      // blocklist columns bit-equal to txt_blocklist (same kernel element,
      // same alpha-run denominator and floor division)
      element_at(col("__hits"), 4).as("bad_hits"),
      when(col("__baw") === 0, lit(0L))
        .otherwise(expr("CAST(element_at(__hits, 4) AS BIGINT) * 1000000 div __baw"))
        .as("bad_ppm")) ++
      bpe.map(_ => col("bpe_true")).toSeq: _*)
  }

  // ---- Character-entropy quality signal ----

  /** Typed result of the entropy kernel (Spark 4 needs a case-class
    * encoder). `sumClncFp` = Σ_c cnt_c · round(ln(cnt_c)·2²⁰) over the
    * codepoint histogram — every term integral, so the sum is exact and
    * partition-order-free. */
  case class EntropyStats(nChars: Long, sumClncFp: Long)

  /** One-pass codepoint-histogram statistics for Shannon character
    * entropy: H_nats = ln(n) − (Σ cnt·ln cnt)/n. Low entropy flags
    * repeated-character boilerplate, high entropy flags random/encoded
    * junk (base64 blobs, mojibake) — the classic cheap gibberish gate.
    * ln() is taken over INTEGRAL counts only and quantized to 2⁻²⁰
    * fixed point (the [[lmScore]]/ds_importance trick), so the derived
    * double is bit-identical to the DuckDB oracle's. Counts are per
    * CODEPOINT (matching the oracle's `regexp_extract_all(text,
    * '[\s\S]')`); null/empty text returns None and the consumer keeps
    * or drops the row per its own contract. */
  private[graft] def charEntropyStats(text: String): Option[EntropyStats] = {
    if (text == null || text.isEmpty) return None
    val hist = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    var n = 0L
    while (i < text.length) {
      val cp = text.codePointAt(i)
      hist(cp.toLong) = hist.getOrElse(cp.toLong, 0L) + 1L
      n += 1
      i += Character.charCount(cp)
    }
    var s = 0L
    hist.foreachValue { cnt =>
      s += cnt * Math.round(Math.log(cnt.toDouble) * 1048576.0)
    }
    Some(EntropyStats(n, s))
  }

  /** Column form of [[charEntropyStats]]. asNondeterministic is the same
    * placement fence as scoreImportance's: the UDF is pure, but without
    * it a pushed isnotnull filter would run the kernel twice per row. */
  def entropyStatsCol(text: Column): Column =
    udf((s: String) => charEntropyStats(s)).asNondeterministic()(text)

  /** Derived nats-entropy from the exact integer stats — the one double
    * expression both engines evaluate over identical integers. */
  def entropyNats(nChars: Column, sumClncFp: Column): Column =
    (quantLn(nChars) * nChars - sumClncFp).cast("double") /
      (nChars.cast("double") * lit(1048576.0))

  /** `round(ln(n)·2²⁰)` as a Column over an integral input — matches
    * DuckDB `CAST(round(ln(CAST(n AS DOUBLE)) * 1048576) AS BIGINT)`. */
  private def quantLn(n: Column): Column =
    round(log(n.cast("double")) * lit(1048576.0)).cast("long")

  // ---- BM25 retrieval scoring (query-based data selection) ----

  /** BM25 relevance of every document against a fixed query-term set — the
    * retrieval step of targeted data selection (pull training docs similar
    * to a benchmark/query distribution). Okapi parameters k1 = 1.2,
    * b = 0.75 folded into exact integer rationals.
    *
    * All arithmetic is exact fixed point so the oracle hash-matches:
    * idf_fp(t) = round(ln(2N+2)·2²⁰) − round(ln(2df+1)·2²⁰)
    * (= ln((N+1)/(df+½)), the Lucene-style idf, with each ln over an exact
    * integer — the [[lmScore]] quantization trick; ln is monotone so the
    * quantized difference is never negative even for terms in every doc,
    * which keeps all operands non-negative and Spark's truncating `div`
    * exactly equal to DuckDB's flooring `//`), and the tf-saturation ratio
    * tf·(k1+1)/(tf + k1·(1−b+b·dl·N/S)) is carried as the integer rational
    * 44·tf·S / (20·tf·S + 6·S + 18·dl·N), floor-multiplied into idf_fp in
    * two exact steps (idf·(num div den) + idf·(num mod den) div den) so the
    * largest intermediate is idf_fp·(num mod den) < idf_fp·den ≈ 2.2·10⁷ ·
    * 44·S — headroom to corpora of ~10¹⁰ total tokens at the 2⁻²⁰ idf
    * scale; past that, drop the scale a few bits (each bit doubles S's
    * headroom at 2⁻²⁰-worth-of-idf precision cost).
    *
    * Scale shape: TWO corpus scans, both map-side kernel passes (per-term
    * tf counts in ONE tokenization via the FNV marker kernel — no explode):
    * scan 1 reduces to a single global stats row (N, S, df per term) that
    * rides a broadcast nested-loop join of ONE row; scan 2 computes scores
    * and short-circuits into TakeOrdered top-k. Nothing doc-scale shuffles. */
  def bm25(docs: org.apache.spark.sql.DataFrame, terms: Seq[String], k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms must be distinct")
    // the kernel case-folds tokens to [a-z] runs before hashing; a term
    // outside that alphabet can never match and would silently score 0
    require(terms.forall(t => t.nonEmpty && t.forall(c => c >= 'a' && c <= 'z')),
      s"terms must be lowercase a-z words, got: ${terms.mkString(", ")}")
    val termSets = terms.map(t => Array(FastHash.fnv1a64(t))).toArray
    val tfs = FastHash.markerHitsCol(col("text"), termSets)
    val proj = docs.select(
      Seq(col("doc_id"), alphaTokenCount(col("text")).cast("long").as("dl")) ++
        (0 until terms.length).map(i =>
          element_at(tfs, i + 1).cast("long").as(s"tf$i")): _*)
    val dfCols = (0 until terms.length).map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = proj.agg(count(lit(1)).as("n_docs"),
      (sum("dl").as("sum_dl") +: dfCols): _*)
    val contrib = (0 until terms.length).map { i =>
      val idf = s"(CAST(round(ln(CAST(2*n_docs + 2 AS DOUBLE)) * 1048576) AS BIGINT)" +
        s" - CAST(round(ln(CAST(2*df$i + 1 AS DOUBLE)) * 1048576) AS BIGINT))"
      val num = s"(44 * tf$i * sum_dl)"
      val den = s"(20 * tf$i * sum_dl + 6 * sum_dl + 18 * dl * n_docs)"
      s"(CASE WHEN tf$i = 0 THEN 0 ELSE " +
        s"$idf * ($num div $den) + ($idf * ($num % $den)) div $den END)"
    }
    proj.crossJoin(broadcast(stats))
      .withColumn("n_matched",
        (0 until terms.length).map(i => when(col(s"tf$i") > 0, 1).otherwise(0))
          .reduce(_ + _))
      .filter(col("n_matched") > 0)
      .withColumn("score_fp", expr(contrib.mkString(" + ")))
      .select("doc_id", "n_matched", "score_fp")
      .orderBy(desc("score_fp"), asc("doc_id"))
      .limit(k)
  }

  // ---- Unigram-LM quality scoring (CCNet-style perplexity filter) ----

  /** Per-document average token log-probability under a unigram LM trained
    * on the corpus itself: score(d) = (Σ_t∈d ln count(t)) / |d| − ln N.
    * Low scores flag rare-vocabulary / junk documents — the classic
    * LM-perplexity quality gate of web-corpus pipelines.
    *
    * Scale shape: TWO token passes — one to train the LM (distinct-token
    * counts), one to score against it — which is the irreducible minimum
    * without caching the tokenized corpus. The LM is vocabulary-sized and
    * rides a broadcast join (carrying the corpus total via a window over
    * the already-reduced LM, so no third corpus pass); the per-doc reduce
    * shuffles (doc_id, long) pairs only. On a real pipeline the LM comes
    * from a fixed reference corpus — still broadcast-sized.
    *
    * Determinism: ln(count) is quantized to 2⁻²⁰ fixed-point and summed as
    * LONGS (integer addition is associative, so the result is identical
    * under any partitioning/merge order — same trick as the IVF centroid
    * sums), then converted to the double score once per doc. ln() over
    * integral doubles is bit-identical between the JVM and DuckDB libm
    * (verified over the full count range), so the score is oracle-exact. */
  def lmScore(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    // corpus-total as a window over the vocab-sized LM frame (single tiny
    // partition — fine for a vocabulary, and it avoids re-deriving the
    // token lineage a third time for a separate total aggregate)
    val lm = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("nt", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    toks.join(broadcast(lm), Seq("tok"))
      .select(col("doc_id"), col("nt"),
        round(log(col("cnt").cast("double")) * 1048576).cast("long").as("ql"))
      .groupBy("doc_id")
      .agg(sum("ql").as("sq"), count(lit(1)).as("n_tokens"), max("nt").as("nt"))
      .select(col("doc_id"), col("n_tokens"),
        ((col("sq").cast("double") / 1048576.0) / col("n_tokens") -
          log(col("nt").cast("double"))).as("avg_logprob"))
  }

  /** Per-document average CONDITIONAL bigram log-probability under a
    * bigram MLE LM trained on the corpus itself:
    * score(d) = (Σ_i [ln c(w_{i−1} w_i) − ln ctx(w_{i−1})]) / (|d|−1),
    * where ctx(w) counts w in bigram-CONTEXT (non-final) positions, so
    * the conditional is exactly normalized (Σ_x p(x|w) = 1) and, because
    * the LM trains on the scored corpus, every count is ≥ 1 — no
    * smoothing term whose log would break cross-engine bit-equality.
    * One rung up CCNet's n-gram-LM quality ladder from [[lmScore]]: a
    * document of common words in an UNLIKELY ORDER scores low here but
    * unremarkably there.
    *
    * Determinism: same fixed-point trick as [[lmScore]] — both ln()
    * arguments are integral counts, each term quantized to 2⁻²⁰ and
    * summed as longs (associative under any partitioning).
    *
    * Scale shape: bigram pairing is the native transform-over-slice (no
    * UDF); the LM's two count tables fold into one per-bigram `qd`
    * table joined by KEY — a bigram vocabulary grows with the corpus,
    * so unlike the unigram LM it must NOT ride a broadcast (also why
    * this stays a standalone query rather than a fused `txt_signals`
    * column: the signal needs a vocabulary-sized join, not a map-side
    * kernel). The corpus pays one (doc_id, bg) key-join exchange and
    * one (doc_id, long) reduce — the same two-exchange floor as
    * [[lmScore]]. */
  def lmScoreBigram(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // One kernel, not a HOF chain (filter lambda + transform/slice/concat):
    // that chain is CodegenFallback — interpreted, boxed per token, and
    // its tokenization runs in both the size filter and the projection.
    // One kernel pass over the engine-lowered text emits the SAME bigram
    // strings (PropertySpec locks the equality; lower() stays the builtin
    // so Unicode case mapping is unchanged); docs with < 2 tokens leave
    // as explode-of-empty exactly as the size filter drops them.
    val bgs = docs
      .select(col("doc_id"),
        explode(FastHash.lowerBigramsCol(lower(col("text")))).as("bg"))
      // two consumers (the bigram count + the scoring join): materialize
      // the tokenized pairs once instead of re-running the text kernel.
      // EAGER — with the lazy form, AQE launches the three leaf
      // exchange-stage jobs concurrently and all of them race the
      // uncached tokenization behind per-partition block locks (three
      // ~5.7 s jobs at sf1, each mostly lock wait); one eager
      // materialization job in front lets every downstream exchange
      // stream from cache
      .localCheckpoint(true)
    // vocab-sized join: per-bigram quantized log-conditional. words()
    // tokens contain no spaces, so the context is recoverable from the
    // bigram key without touching the corpus again — and the context
    // count c1(w1) is exactly Σ c2 over bigrams with that prefix, so it
    // rolls up from the VOCAB-sized c2 table (a `bgs.groupBy("w1")` would
    // be a second full aggregation pass over the corpus-scale pair table
    // computing a sum c2 already contains). c2 is MATERIALIZED
    // (vocab-grain, cheap): unmaterialized, the c1 branch re-derives its
    // aggregation from the corpus-scale pair checkpoint (a second full
    // partial-agg pass whenever AQE's canonical exchange reuse does not
    // fire, which the sf1 profile shows as a third ~1.5 s exchange job);
    // both lm readers scan the reduced table
    val c2 = bgs.groupBy("bg").agg(count(lit(1)).as("c2")).localCheckpoint(true)
    val withW1 = c2.withColumn("w1", split(col("bg"), " ").getItem(0))
    val c1 = withW1.groupBy("w1").agg(sum("c2").as("c1"))
    val lm = withW1
      .join(c1, Seq("w1"))
      .select(col("bg"),
        (round(log(col("c2").cast("double")) * 1048576).cast("long") -
          round(log(col("c1").cast("double")) * 1048576).cast("long")).as("qd"))
    // Without the hint the planner BROADCASTS the corpus-scale pair
    // table (the checkpointed LogicalRDD's stats read small) and streams
    // the vocab-scale lm past it — a driver-side hash-relation build of
    // the CORPUS side, inverted at any scale and measured as the
    // dominant jobs at sf1. SHUFFLE_HASH on the lm side
    // restores the declared shape: both sides exchange by bg, the
    // vocab-grain lm is the per-partition build — the corpus pays exactly
    // the one (doc_id, bg) key-join exchange the scaladoc promises, and
    // the build stays bounded (vocab / partitions) at any corpus size.
    bgs.join(lm.hint("shuffle_hash"), Seq("bg"))
      .groupBy("doc_id")
      .agg(sum("qd").as("sq"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("sq").cast("double") / 1048576.0) / col("n_bigrams")).as("avg_logprob"))
  }
}
