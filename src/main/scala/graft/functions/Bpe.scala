package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer over the corpus tokenization every other
  * text operator uses — the real subword vocabulary build behind
  * `txt_tokens`' BPE-ish regex approximation (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units" — the
  * public algorithm, re-expressed Spark-first).
  *
  * Scale shape: training NEVER iterates over the corpus — one corpus
  * scan partial-aggregates to the distinct-word frequency table
  * (vocabulary-sized, capped collect shared with the unigram LM —
  * TextAnalytics.wordFrequencyTable), and the merge loop runs on that
  * table driver-side INCREMENTALLY: each merge re-counts only the words
  * containing the winning pair, so cost scales with the Zipf tail the
  * merge actually touches, not the vocabulary. Encoding is one kernel
  * call per document against the broadcast-sized merge ranks — map-only,
  * fusable into any curation scan, with a per-task word cache because
  * Zipf makes most tokens repeats.
  *
  * Determinism (golden eligibility): word counts are exact integers; the
  * merge argmax tie-breaks totally (count desc, then pair lexicographic),
  * so the merge sequence is unique under any partitioning; encoding is a
  * pure function of (word, ranks). Word-final symbols carry the classic
  * `</w>` marker so "est" mid-word and word-final "est</w>" learn
  * separately (the paper's formulation). ASCII-only tokenization like
  * every kernel here — the fixtures are pure ASCII. */
object Bpe {

  /** Learned merge table in rank order (rank = array index). */
  case class BpeModel(merges: Array[(String, String)])

  val MaxVocab = 1 << 22

  /** One corpus scan → capped word-frequency table → driver merge loop.
    *
    * Tokenization is [[TextAnalytics.asciiWords]] — the SAME word boundary
    * the encode kernel's `charAt` scanner uses, so train and encode can
    * never disagree on what a word is (Unicode `lower()` admits characters
    * like U+212A whose lowercase lands in `[a-z]` that an ASCII scanner
    * treats as separators; on the pure-ASCII fixtures the two tokenizers
    * are identical).
    *
    * The merge loop is the standard INCREMENTAL formulation: pair counts
    * and a pair → affected-word index are built once, and each merge
    * re-counts only the words that actually contain the winning pair —
    * not the whole table. At the vocabulary cap this is the difference
    * between touching a Zipf tail's handful of words per merge and
    * rebuilding 2²² symbol arrays 200 times. The argmax stays a full scan
    * of the live pair-count map (small next to the word table), with the
    * same total tie-break order as before — the merge sequence is
    * IDENTICAL to the rebuild-everything formulation. */
  def trainBpe(docs: DataFrame, nMerges: Int = 200,
               maxVocab: Int = MaxVocab): BpeModel = {
    require(nMerges > 0 && nMerges <= 65536, s"nMerges out of range: $nMerges")
    val rows = TextAnalytics.wordFrequencyTable(
      docs, TextAnalytics.asciiWords, maxVocab, "BPE word table")
    val words = rows.map(r => (symbolize(r.getString(0)), r.getLong(1)))
    // pair → weighted count over the word table, and pair → indices of
    // words that contained the pair when last counted (entries may go
    // stale after a word is rewritten; consumers re-check containment)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    def countWord(idx: Int, sign: Long): Unit = {
      val (syms, cnt) = words(idx)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * cnt
        if (c == 0L) counts.remove(p) else counts.update(p, c)
        if (sign > 0)
          where.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += idx
        i += 1
      }
    }
    var w = 0
    while (w < words.length) { countWord(w, 1L); w += 1 }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var step = 0
    while (step < nMerges && counts.nonEmpty) {
      // total order: count desc, then pair lexicographic — unique winner
      val best = counts.minBy { case ((a, b), c) => (-c, a, b) }._1
      merges += best
      // every occurrence of `best` merges, so its count drops to zero and
      // its index entry is fully consumed here (a merged word cannot
      // recreate the pair: both members were fused into one new symbol)
      where.remove(best).foreach(_.foreach { idx =>
        val (syms, cnt) = words(idx)
        var has = false
        var i = 0
        while (!has && i < syms.length - 1) {
          has = syms(i) == best._1 && syms(i + 1) == best._2
          i += 1
        }
        if (has) { // stale entries skip: the word was rewritten since
          countWord(idx, -1L)
          words(idx) = (mergePair(syms, best), cnt)
          countWord(idx, 1L)
        }
      })
      step += 1
    }
    BpeModel(merges.toArray)
  }

  /** Per-document BPE token count under the model: one kernel call per
    * doc, per-task word cache (bounded — Zipf means the cache covers
    * almost all occurrences long before the cap). */
  def bpeCountCol(text: Column, model: BpeModel): Column = {
    // the ranks table rides an EXECUTOR BROADCAST, not the task closure:
    // at the 65536-merge cap the map is ~MBs, and a closure capture would
    // serialize it with every task of the corpus scan (the same reason
    // signals() broadcasts the unigram LM). One deserialized instance per
    // executor also makes the identity-keyed word cache below maximally
    // effective.
    val bcRanks = org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(model.merges.zipWithIndex.map { case (p, r) => p -> r }.toMap)
    val enc = udf { (s: String) =>
      if (s == null) 0L
      else {
        val ranks = bcRanks.value
        // per-thread caches KEYED BY the ranks instance: a plain
        // ThreadLocal map would survive across queries with different
        // models on the same executor thread and serve stale counts, and
        // a single slot would thrash when one projection scores two
        // models (each row flips the identity, zero hits)
        var slots = bpeCache.get()
        if (slots == null) {
          slots = new java.util.IdentityHashMap[AnyRef, java.util.HashMap[String, java.lang.Long]]()
          bpeCache.set(slots)
        }
        var cache = slots.get(ranks)
        if (cache == null) {
          if (slots.size >= 4) slots.clear() // bound thread-local footprint
          cache = new java.util.HashMap[String, java.lang.Long]()
          slots.put(ranks, cache)
        }
        var total = 0L
        var i = 0
        val n = s.length
        while (i < n) {
          var c = s.charAt(i)
          if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
          if (c >= 'a' && c <= 'z') {
            val sb = new java.lang.StringBuilder
            while (i < n && {
              var cc = s.charAt(i)
              if (cc >= 'A' && cc <= 'Z') cc = (cc + 32).toChar
              if (cc >= 'a' && cc <= 'z') { sb.append(cc); true } else false
            }) i += 1
            val w = sb.toString
            val cached = cache.get(w)
            if (cached != null) total += cached.longValue
            else {
              val k = encodeWord(w, ranks).length.toLong
              if (cache.size < (1 << 17)) cache.put(w, java.lang.Long.valueOf(k))
              total += k
            }
            // the inner loop consumed >= 1 char (charAt(i) was a letter)
          } else i += 1
        }
        total
      }
    }
    enc(text)
  }

  // thread-confined model-ref → (word → token-count) caches; see bpeCountCol
  private val bpeCache =
    new ThreadLocal[java.util.IdentityHashMap[AnyRef, java.util.HashMap[String, java.lang.Long]]]

  private final case class MergesMeta(merges: Array[Array[String]]) // (lhs, rhs) by rank

  /** Persist a trained merge table as the `v<N>/meta.json` of a versioned
    * artifact ([[graft.sources.Fs.writeVersioned]]): train once per corpus
    * refresh, encode many batches/streams against the loaded vocabulary. */
  def saveBpe(spark: org.apache.spark.sql.SparkSession,
              model: BpeModel, path: String): Unit = {
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      graft.sources.Fs.writeMeta(spark, vdir,
        MergesMeta(model.merges.map { case (a, b) => Array(a, b) }))
    }
    ()
  }

  /** Load the `_current` version of a persisted merge table. */
  def loadBpe(spark: org.apache.spark.sql.SparkSession, path: String): BpeModel = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no BPE model at $path (missing _current pointer — run saveBpe first)")
    val merges = graft.sources.Fs.readMeta[MergesMeta](spark, vdir, "run saveBpe").merges
    require(merges.forall(_.length == 2), s"BPE model at $vdir has a merge that is not a pair")
    BpeModel(merges.map(p => (p(0), p(1))))
  }

  /** A word as its initial symbol sequence: chars, last one marked `</w>`. */
  private[functions] def symbolize(w: String): Array[String] = {
    val out = new Array[String](w.length)
    var i = 0
    while (i < w.length) {
      out(i) = if (i == w.length - 1) w.charAt(i).toString + "</w>"
               else w.charAt(i).toString
      i += 1
    }
    out
  }

  private[functions] def mergePair(syms: Array[String],
                                   p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Standard greedy BPE encode: repeatedly merge the lowest-rank
    * adjacent pair until none applies. */
  private[functions] def encodeWord(w: String,
                                    ranks: Map[(String, String), Int]): Array[String] = {
    var syms = symbolize(w)
    var done = syms.length <= 1
    while (!done) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestAt = i }
        }
        i += 1
      }
      if (bestAt < 0) done = true
      else {
        syms = mergePair(syms, (syms(bestAt), syms(bestAt + 1)))
        done = syms.length <= 1
      }
    }
    syms
  }
}
