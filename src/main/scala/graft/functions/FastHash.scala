package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Primitive-loop hash kernels for the dedup/similarity operators.
  *
  * The pure-Catalyst formulations (higher-order `aggregate`/`zip_with`
  * folds) are semantically ideal but those expressions are CodegenFallback —
  * interpreted, boxing every lambda step. At sf0.1 the minhash fold alone
  * costs ~19 s; these kernels do the same work in tight JVM loops inside a
  * UDF (~100 M primitive ops ≈ well under a second). The surrounding plan
  * (explode/band/join) stays declarative, so the operators keep their
  * shuffle shape. A Catalyst Expression with doGenCode could go further by
  * skipping UDF serialization overhead, but the kernel already reduces the
  * operator cost to scan-bound.
  *
  * All hashing is seed-stable (FNV-1a base + splitmix64-derived affine
  * permutations) so results are reproducible across runs, partitionings,
  * and cluster sizes.
  */
object FastHash {

  /** FNV-1a 64-bit over the lower-cased alphabetic tokens of `text`.
    * Tokenization contract matches TextAnalytics.words: runs of [a-z]
    * (after ASCII lower-casing), non-letters separate tokens. */
  def tokenHashes(text: String): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val out = new scala.collection.mutable.ArrayBuffer[Long](64)
    var h = -3750763034362895579L // FNV offset basis
    var inTok = false
    var i = 0
    val n = text.length
    while (i < n) {
      var c = text.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c >= 'a' && c <= 'z') {
        h = (h ^ c) * 1099511628211L // FNV prime
        inTok = true
      } else if (inTok) {
        out += h; h = -3750763034362895579L; inTok = false
      }
      i += 1
    }
    if (inTok) out += h
    out.toArray
  }

  /** Distinct hashes of the n-word spans of `text`, one tokenization pass
    * (same token contract as [[tokenHashes]]): span hash = order-sensitive
    * mix2 fold of the n token hashes. Feeds Dedup.spanCoverage — the
    * Catalyst `transform`+`slice` formulation re-tokenized the document
    * once per span position (O(words²) with an array allocation per
    * position; measured 8.7 s vs sub-second at sf0.1). Identity-by-hash
    * equals identity-by-span-string barring 2⁻⁶⁴ collisions, the same
    * contract as every other kernel here. */
  def spanHashes(text: String, n: Int): Array[Long] = {
    // ONE copy of the hashing fold ([[spanHashesPos]]): the per-position
    // and distinct variants must agree bit-for-bit or excision probes
    // would never match indexes built from the other path
    val out = spanHashesPos(text, n)
    val m = out.length
    if (m == 0) return out
    java.util.Arrays.sort(out)
    // in-place dedupe of the sorted spans (distinct within doc)
    var w = 0
    var r = 0
    while (r < m) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  /** Per-position hashes of the n-word spans of `text`, in span order —
    * [[spanHashes]] WITHOUT the sort+dedupe tail: excision
    * (Dedup.spanExcise) needs every occurrence with its word position,
    * including a span repeated inside one document. Same token and
    * hash-identity contract as [[spanHashes]] (which delegates here). */
  def spanHashesPos(text: String, n: Int): Array[Long] = {
    val toks = tokenHashes(text)
    if (toks.length < n) return Array.emptyLongArray
    val m = toks.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 1469598103934665603L
      var j = 0
      while (j < n) { h = mix2(h, toks(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** Excise the n-word spans starting at the 0-based word positions
    * `starts` (overlaps unioned) from the [a-z]+ tokenization of `text`
    * and reassemble the survivors — the removal step of span-level dedup
    * (Dedup.spanExcise). Returns (n_words, n_excised, text_kept). One
    * pass over the characters plus O(|starts| · n) covered-position
    * marking; tokenization is the [[tokenHashes]] contract (lower-cased
    * ASCII-letter runs), so the excised positions line up with the span
    * hashes computed from the same text. */
  def exciseSpans(text: String, starts: Array[Int], n: Int): (Long, Long, String) = {
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder(16)
    val len = if (text == null) 0 else text.length
    var i = 0
    while (i <= len) {
      var c = if (i < len) text.charAt(i) else ' '
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c >= 'a' && c <= 'z') sb.append(c)
      else if (sb.length > 0) { words += sb.toString; sb.setLength(0) }
      i += 1
    }
    val nw = words.length
    if (starts == null || starts.isEmpty) return (nw.toLong, 0L, words.mkString(" "))
    val covered = new Array[Boolean](nw)
    var s = 0
    while (s < starts.length) {
      var p = starts(s)
      val end = math.min(p.toLong + n, nw.toLong).toInt
      while (p < end) { covered(p) = true; p += 1 }
      s += 1
    }
    val out = new java.lang.StringBuilder(len)
    var exc = 0
    var w = 0
    while (w < nw) {
      if (covered(w)) exc += 1
      else { if (out.length > 0) out.append(' '); out.append(words(w)) }
      w += 1
    }
    (nw.toLong, exc.toLong, out.toString)
  }

  /** FNV-1a 64 of a (lower-case) string — the marker-word hash that
    * tokenHashes produces for an identical token. */
  def fnv1a64(s: String): Long = {
    var h = -3750763034362895579L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
    h
  }

  /** Count, per marker set, how many tokens of `text` are members — the
    * language-ID / stopword hit counts in ONE tokenization pass. `sets` are
    * FNV-1a hashes of the marker words (collision odds 2⁻⁶⁴ per pair);
    * each set is tiny (≤ ~10 entries) so membership is a linear scan of
    * primitive longs. Replaces the `filter(words, array_contains)`
    * higher-order-function formulation, which is CodegenFallback
    * (interpreted + boxed) and re-tokenizes once per marker class. */
  def markerHits(text: String, sets: Array[Array[Long]]): Array[Int] = {
    // null in → null out: the HOF formulation this kernel replaced (and the
    // SQL oracles) propagate NULL for null text; zeros would silently
    // reclassify null-text rows as the zero-count class
    if (text == null) return null
    val out = new Array[Int](sets.length)
    var h = -3750763034362895579L
    var inTok = false
    var i = 0
    val n = text.length
    while (i <= n) {
      var c = if (i < n) text.charAt(i) else ' '
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c >= 'a' && c <= 'z') {
        h = (h ^ c) * 1099511628211L
        inTok = true
      } else if (inTok) {
        var s = 0
        while (s < sets.length) {
          val set = sets(s)
          var j = 0
          while (j < set.length) {
            if (set(j) == h) { out(s) += 1; j = set.length } else j += 1
          }
          s += 1
        }
        h = -3750763034362895579L
        inTok = false
      }
      i += 1
    }
    out
  }

  def markerHitsCol(text: Column, sets: Array[Array[Long]]): Column =
    udf((s: String) => markerHits(s, sets)).apply(text)

  /** The five character-class counts every per-doc token/quality signal is
    * built from, in ONE code-point pass (per-task work: four separate
    * java.util.regex passes per row would be the dominant kernel cost of
    * txt_quality/txt_tokens and a third of the fused txt_signals scan):
    *
    *   1. punct  — chars in [.!?,;:]
    *      ≡ length(regexp_replace(text, "[^.!?,;:]", ""))
    *   2. alpha  — chars in [A-Za-z]
    *      ≡ length(regexp_replace(text, "[^A-Za-z]", ""))
    *   3. wsTokens — Java-split semantics over the SPACE-trimmed string:
    *      0 when the trimmed string is empty, else (number of maximal
    *      Java-\s runs) + 1
    *      ≡ when(length(trim(text)) = 0, 0)
    *        .otherwise(size(split(trim(text), "\\s+")))
    *      (split keeps leading/trailing empty tokens at limit −1, which
    *      is exactly runs + 1; trim strips ASCII spaces only)
    *   4. alphaRuns — maximal [A-Za-z]+ runs
    *      ≡ regexp_count(text, "[A-Za-z]+")
    *   5. bpe — alpha runs + digit runs + single non-alnum-non-ws code
    *      points ≡ regexp_count(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    *
    * Iteration is BY CODE POINT (java.util.regex matches classes per code
    * point, so an astral char is ONE "other" match, not two); Java's \s
    * is the six ASCII members [ \t\n\x0B\f\r]. Equality with the regex
    * formulations is property-locked (PropertySpec) including astral and
    * control characters; null in → null out (every replaced expression
    * null-propagates). */
  def textCounts(text: String): Array[Int] = {
    if (text == null) return null
    var punct = 0; var alpha = 0; var alphaRuns = 0; var bpe = 0
    var prevAlpha = false; var prevDigit = false
    var i = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      val isA = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
      val isD = cp >= '0' && cp <= '9'
      if (isA) {
        alpha += 1
        if (!prevAlpha) { alphaRuns += 1; bpe += 1 }
      } else if (isD) {
        if (!prevDigit) bpe += 1
      } else if (!(cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
          cp == '\f' || cp == '\r')) {
        bpe += 1
        if (cp == '.' || cp == '!' || cp == '?' || cp == ',' ||
            cp == ';' || cp == ':') punct += 1
      }
      prevAlpha = isA
      prevDigit = isD
      i += Character.charCount(cp)
    }
    // whitespace tokens over the SPACE-trimmed string (Spark's trim)
    var st = 0; var en = n
    while (st < en && text.charAt(st) == ' ') st += 1
    while (en > st && text.charAt(en - 1) == ' ') en -= 1
    var wsTokens = 0
    if (en > st) {
      var runs = 0
      var inWs = false
      var j = st
      while (j < en) {
        val c = text.charAt(j)
        val w = c == ' ' || c == '\t' || c == '\n' || c == 0x0B.toChar ||
          c == '\f' || c == '\r'
        if (w && !inWs) runs += 1
        inWs = w
        j += 1
      }
      wsTokens = runs + 1
    }
    Array(punct, alpha, wsTokens, alphaRuns, bpe)
  }

  /** Column form of [[textCounts]] — deterministic, so any number of
    * element_at readers inside one projection collapse to a single kernel
    * run per row (the [[markerHitsCol]] precedent). */
  def textCountsCol(text: Column): Column =
    udf((s: String) => textCounts(s)).apply(text)

  /** Adjacent word bigrams of an ALREADY-LOWERCASED string, one pass:
    * tokens are the maximal `[a-z]` runs (exactly the non-empty elements
    * of `split(lowered, "[^a-z]+")`), each bigram `w1 + " " + w2`. The
    * caller passes `lower(text)` so Unicode case mapping stays the
    * engine's (`lower()` builtin), and this kernel replaces only the
    * interpreted HOF chain (`filter(words, …)` + `transform(slice(…))`
    * are CodegenFallback — evaluated per element with boxing, and the
    * tokenization re-ran in both the size filter and the projection).
    * < 2 tokens → empty array (the `size >= 2` filter, expressed as
    * explode-of-empty); null → null (explode drops both identically).
    * Equality with the split/slice/transform formulation is
    * property-locked (PropertySpec). */
  def lowerBigrams(lowered: String): Array[String] = {
    if (lowered == null) return null
    val n = lowered.length
    // first pass: count tokens; second: emit bigrams by index — no
    // intermediate token array of Strings
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val c = lowered.charAt(i)
      val a = c >= 'a' && c <= 'z'
      if (a && !inTok) count += 1
      inTok = a
      i += 1
    }
    if (count < 2) return Array.empty
    val out = new Array[String](count - 1)
    val sb = new java.lang.StringBuilder(24)
    var prevStart = -1; var prevEnd = -1
    var k = 0
    var start = -1
    i = 0
    while (i <= n) {
      val a = i < n && { val c = lowered.charAt(i); c >= 'a' && c <= 'z' }
      if (a && start < 0) start = i
      else if (!a && start >= 0) {
        if (prevStart >= 0) {
          sb.setLength(0)
          sb.append(lowered, prevStart, prevEnd).append(' ')
            .append(lowered, start, i)
          out(k) = sb.toString
          k += 1
        }
        prevStart = start; prevEnd = i
        start = -1
      }
      i += 1
    }
    out
  }

  def lowerBigramsCol(lowered: Column): Column =
    udf((s: String) => lowerBigrams(s)).apply(lowered)

  /** Spark's `xxhash64(string)` — XXH64 with Spark's fixed seed 42 over
    * the UTF-8 bytes, via the engine's own implementation so the value
    * can never drift from the Column function (differential-locked in
    * DedupSimilaritySpec). */
  def sparkXxhash64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Whitespace-token segments (the segmentDedup kernel): tokens are
    * the non-empty elements of `split(text, "[ \t\n\f\r]+")`,
    * grouped into chunks of `segWords` joined by one space — exactly
    * `transform(sequence(0, ceil(size(ws)/segWords)-1),
    *   i -> concat_ws(' ', slice(ws, i*segWords+1, segWords)))`
    * over `ws = filter(split(...), length > 0)`, whose
    * filter/transform/slice lambdas are CodegenFallback (interpreted per
    * token — the dominant cost of both dd_segment_dedup jobs at sf1).
    * No words → empty array; null text → null (the HOF chain
    * null-propagates). DedupSimilaritySpec differential-locks kernel ≡
    * Catalyst on the fixture + edge rows. */
  def wsSegments(text: String, segWords: Int): Array[String] = {
    if (text == null) return null
    val n = text.length
    // token boundaries in one scan (class = ASCII space + \t\n\f\r)
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var tokStart = -1
    while (i <= n) {
      val ws = i == n || {
        val c = text.charAt(i)
        c == ' ' || (c >= '\t' && c <= '\r')
      }
      if (!ws && tokStart < 0) tokStart = i
      else if (ws && tokStart >= 0) {
        starts.add(tokStart); ends.add(i); tokStart = -1
      }
      i += 1
    }
    val nToks = starts.size
    if (nToks == 0) return new Array[String](0)
    val nSegs = (nToks + segWords - 1) / segWords
    val out = new Array[String](nSegs)
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s < nSegs) {
      sb.setLength(0)
      var t = s * segWords
      val end = math.min(t + segWords, nToks)
      while (t < end) {
        if (sb.length > 0) sb.append(' ')
        sb.append(text, starts.get(t), ends.get(t))
        t += 1
      }
      out(s) = sb.toString
      s += 1
    }
    out
  }

  def wsSegmentsCol(text: Column, segWords: Int): Column =
    udf((s: String) => wsSegments(s, segWords)).apply(text)

  /** First-seen-distinct [[sparkXxhash64]] of each segment —
    * ≡ `array_distinct(transform(segs, s -> xxhash64(s)))` (the distinct
    * is on HASHES, so two colliding segments still collapse exactly as
    * the Catalyst form collapses them). */
  def distinctXxh64(segs: Array[String]): Array[Long] = {
    if (segs == null) return null
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < segs.length) { seen.add(sparkXxhash64(segs(i))); i += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  def distinctXxh64Col(segs: Column): Column =
    udf((a: Array[String]) => distinctXxh64(a)).apply(segs)

  /** The excision tail of segmentDedup: drop segments whose hash is in
    * `dup` (null `dup` = no duplicated segments anywhere in the doc —
    * the left-join miss — keeps everything), return (n_dropped,
    * clean_text) — ≡ `filter(segs, s -> NOT coalesce(
    * array_contains(dup_sh, xxhash64(s)), false))` + size arithmetic +
    * `concat_ws(' ', kept)`. */
  def exciseSegs(segs: Array[String], dup: Array[Long]): (Int, String) = {
    if (segs == null) return null
    if (dup == null || dup.isEmpty) return (0, String.join(" ", segs: _*))
    val dupSet = new java.util.HashSet[java.lang.Long](dup.length * 2)
    dup.foreach(h => dupSet.add(h))
    val sb = new java.lang.StringBuilder
    var dropped = 0
    var i = 0
    while (i < segs.length) {
      if (dupSet.contains(sparkXxhash64(segs(i)))) dropped += 1
      else {
        if (sb.length > 0) sb.append(' ')
        sb.append(segs(i))
      }
      i += 1
    }
    (dropped, sb.toString)
  }

  def exciseSegsCol(segs: Column, dup: Column): Column =
    udf((a: Array[String], d: Array[Long]) => exciseSegs(a, d)).apply(segs, dup)

  /** Fraction of equal positions between two equal-length signatures —
    * the MinHash Jaccard estimate, as a primitive loop (the zip_with/filter
    * HOF twin is CodegenFallback). */
  def sigAgreement(a: Array[Long], b: Array[Long]): Double = {
    var m = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / a.length
  }

  def sigAgreementCol(a: Column, b: Column): Column =
    udf((x: Array[Long], y: Array[Long]) => sigAgreement(x, y)).apply(a, b)

  private def splitmix64(x0: Long): Long = {
    var x = x0 + -7046029254386353131L
    x = (x ^ (x >>> 30)) * -4658895280553007687L
    x = (x ^ (x >>> 27)) * -7723592293110705685L
    x ^ (x >>> 31)
  }

  /** mix two 64-bit hashes (for word n-gram shingles without string concat) */
  private def mix2(a: Long, b: Long): Long = splitmix64(a ^ (b * -6148914691236517205L))

  /** The k affine-permutation coefficients for [[minhash]], seed-stable.
    * Precomputed ONCE per operator (and captured in the UDF closure) —
    * rebuilding them per row costs 2 allocations + 2k splitmix calls on
    * every document. */
  def minhashPerms(k: Int): (Array[Long], Array[Long]) =
    (Array.tabulate(k)(i => splitmix64(2L * i) | 1L), // odd multipliers
      Array.tabulate(k)(i => splitmix64(2L * i + 1)))

  /** MinHash signature over word `n`-gram shingles: one base hash per
    * shingle, k affine permutations (a_i·h + b_i), running minima.
    * Shingle multiplicity is irrelevant under min, so no dedup pass. */
  def minhash(text: String, n: Int, k: Int): Array[Long] = {
    val (as, bs) = minhashPerms(k)
    minhash(text, n, as, bs)
  }

  def minhash(text: String, n: Int, as: Array[Long], bs: Array[Long]): Array[Long] = {
    val k = as.length
    val toks = tokenHashes(text)
    val sig = Array.fill(k)(Long.MaxValue)
    if (toks.length < n) return sig
    var i = 0
    val last = toks.length - n
    while (i <= last) {
      var h = toks(i)
      var j = 1
      while (j < n) { h = mix2(h, toks(i + j)); j += 1 }
      var p = 0
      while (p < k) {
        val v = as(p) * h + bs(p)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** Hashed bag-of-words bucket counts: one tokenization pass (the
    * [[tokenHashes]] contract — lower-cased alphabetic runs), each token
    * hashed to `floorMod(splitmix64(fnv), dim)` and counted. Returns the
    * NONZERO buckets as parallel sorted (idx, count) arrays — the sparse
    * feature vector the trained quality classifier ([[graft.operators
    * .Classifier]]) consumes. splitmix64 diffusion matters: raw FNV of
    * short tokens is low-entropy in the low bits, and a biased modulus
    * would alias common words into few buckets. null text → null (the
    * kernel-wide null contract). */
  def tokenBuckets(text: String, dim: Int): (Array[Int], Array[Int]) = {
    if (text == null) return null
    val toks = tokenHashes(text)
    val dense = new Array[Int](dim)
    var i = 0
    while (i < toks.length) {
      dense(java.lang.Math.floorMod(splitmix64(toks(i)), dim.toLong).toInt) += 1
      i += 1
    }
    var nnz = 0
    var d = 0
    while (d < dim) { if (dense(d) != 0) nnz += 1; d += 1 }
    val idx = new Array[Int](nnz)
    val cnt = new Array[Int](nnz)
    var o = 0
    d = 0
    while (d < dim) {
      if (dense(d) != 0) { idx(o) = d; cnt(o) = dense(d); o += 1 }
      d += 1
    }
    (idx, cnt)
  }

  /** 64-bit SimHash over word tokens: bit j = sign of Σ_tokens ±1 by bit j
    * of the token hash. */
  def simhash(text: String): Long = {
    val toks = tokenHashes(text)
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = splitmix64(toks(i)) // diffuse FNV output across all 64 bits
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Deterministic pseudo-gaussian hyperplane component for (plane i, dim j)
    * — seed-stable so LSH buckets are reproducible across cluster layouts. */
  def planeComponent(i: Int, j: Int): Double = {
    var x = (i.toLong * -7046029254386353131L) ^ (j.toLong * -4417276706812531889L) ^ 0xDEADBEEFL
    var s = 0.0
    var n = 0
    while (n < 12) { // sum of 12 uniforms - 6 ~ N(0,1)
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      s += (x >>> 11).toDouble / (1L << 53).toDouble
      n += 1
    }
    s - 6.0
  }

  /** Random-hyperplane sign signature packed into nPlanes/bandBits bucket
    * keys (band index in the high bits so distinct bands never collide). */
  def lshSignature(vec: Array[Float], planes: Array[Array[Double]], bandBits: Int): Array[Long] = {
    val nPlanes = planes.length
    val bands = new Array[Long](nPlanes / bandBits)
    var p = 0
    while (p < nPlanes) {
      val plane = planes(p)
      var dot = 0.0
      var j = 0
      val d = math.min(vec.length, plane.length)
      while (j < d) { dot += vec(j) * plane(j); j += 1 }
      if (dot >= 0) bands(p / bandBits) |= (1L << (p % bandBits))
      p += 1
    }
    bands
  }

  /** Distinct sorted token hashes — the set representation for exact
    * Jaccard. 64-bit hashes stand in for the words themselves (collision
    * odds ~1e-16 for document-sized vocabularies). */
  def tokenSet(text: String): Array[Long] = {
    val t = tokenHashes(text)
    java.util.Arrays.sort(t)
    if (t.isEmpty) return t
    var w = 1
    var i = 1
    while (i < t.length) {
      if (t(i) != t(w - 1)) { t(w) = t(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(t, w)
  }

  /** Distinct sorted FNV-1a hashes of the character `n`-grams of the
    * normalized text (ASCII lower-case, non-alphanumeric runs collapsed to
    * one space, trimmed) — the set representation for character-level
    * Jaccard, which catches near-dups that word tokenization misses
    * (typos, joined/split words). DuckDB transliteration of the
    * normalization: `trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
    * 'g'))`.
    *
    * Contract: ASCII-ONLY lower-casing (as in all kernels here). A
    * character whose UNICODE lowercase is ASCII (U+0130 İ, U+212A K)
    * normalizes differently from a Unicode `lower()` — on non-ASCII
    * corpora, pre-transliterate on both engines before comparing to an
    * oracle. The fixtures are pure ASCII. */
  def charNgramSet(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val sb = new java.lang.StringBuilder(text.length)
    var lastSpace = true
    var i = 0
    while (i < text.length) {
      var c = text.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        sb.append(c); lastSpace = false
      } else if (!lastSpace) {
        sb.append(' '); lastSpace = true
      }
      i += 1
    }
    while (sb.length > 0 && sb.charAt(sb.length - 1) == ' ') sb.setLength(sb.length - 1)
    if (sb.length < n) return Array.emptyLongArray
    val out = new Array[Long](sb.length - n + 1)
    var p = 0
    while (p <= sb.length - n) {
      var h = -3750763034362895579L
      var j = 0
      while (j < n) { h = (h ^ sb.charAt(p + j)) * 1099511628211L; j += 1 }
      out(p) = h
      p += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    var q = 1
    while (q < out.length) {
      if (out(q) != out(w - 1)) { out(w) = out(q); w += 1 }
      q += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  /** (intersection, union) sizes of two sorted distinct arrays via merge. */
  def interUnion(a: Array[Long], b: Array[Long]): (Int, Int) = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    (inter, a.length + b.length - inter)
  }

  /** Smallest intersection size x for which `x / (S − x) >= thr` holds in
    * DOUBLE arithmetic, where S = |A| + |B| — i.e. the minimum intersection
    * a pair needs to pass a `jaccard >= thr` filter, under the exact
    * comparison the filter itself performs (J(x) = x/(S−x) is monotone in x
    * over the reals, and correctly-rounded division preserves that order,
    * so the predicate is monotone in x and the boundary is well-defined).
    * Returns S + 1 when no x in [0, S] qualifies (thr > the x = S value,
    * which is +Infinity, cannot happen — but the form keeps callers total).
    * thr <= 0 returns 0 (every pair qualifies; no pruning possible). */
  def minInterFor(s: Int, thr: Double): Int = {
    if (thr <= 0.0) return 0
    // FP-safe bracket: start a couple below the real boundary estimate,
    // then settle with the filter's own double comparison in both
    // directions — correctness never rests on the closed form
    var x = math.max(0, math.min(s, math.ceil(thr * s / (1.0 + thr)).toInt - 2))
    while (x <= s && !(x.toDouble / (s - x).toDouble >= thr)) x += 1
    while (x > 0 && (x - 1).toDouble / (s - (x - 1)).toDouble >= thr) x -= 1
    x
  }

  /** [[interUnion]] with an exact early exit for thresholded callers: the
    * merge aborts (returns −1) as soon as the intersection can provably no
    * longer reach `need` — at any merge point, at most min(remaining A,
    * remaining B) further matches are possible, and a match never lowers
    * that bound, so the bound is checked only on mismatch steps. A pair
    * whose merge completes returns the same packed (inter << 32 | uni) the
    * plain kernel would; a pair that aborts is exactly a pair the plain
    * kernel + filter would reject (inter_final <= bound < need <= the
    * filter's minimum) — decisions are bit-identical, only the work for
    * rejected pairs shrinks (the quadratic verifier's dominant cost:
    * most candidate pairs are dissimilar and abort after ~(1−thr)·S/(1+thr)
    * mismatches instead of walking the full merge). */
  def interUnionBounded(a: Array[Long], b: Array[Long], need: Int): Long = {
    val la = a.length; val lb = b.length
    var i = 0; var j = 0; var inter = 0
    while (i < la && j < lb) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else {
        if (a(i) < b(j)) i += 1 else j += 1
        val rem = math.min(la - i, lb - j)
        if (inter + rem < need) return -1L
      }
    }
    (inter.toLong << 32) | (la + lb - inter).toLong
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): polynomial rolling hash over `k`-char grams of the
    * normalized text, keep the minimum hash of each `w`-gram window
    * (rightmost on ties). Guarantees: any shared substring of length
    * ≥ w + k - 1 between two documents yields at least one shared
    * fingerprint — the partial-overlap detector exact hashing can't be.
    * Returns sorted distinct fingerprints.
    */
  def winnow(text: String, k: Int = 8, w: Int = 4): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    // normalize: lower-case, collapse non-alphanumerics to one space
    val sb = new java.lang.StringBuilder(text.length)
    var prevSpace = true
    var i = 0
    while (i < text.length) {
      var c = text.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum) { sb.append(c); prevSpace = false }
      else if (!prevSpace) { sb.append(' '); prevSpace = true }
      i += 1
    }
    val s = sb.toString.trim
    if (s.length < k) return Array.emptyLongArray
    val n = s.length - k + 1
    val B = 1099511628211L
    var topPow = 1L
    i = 0
    while (i < k - 1) { topPow *= B; i += 1 }
    // rolling hashes of all k-grams
    val grams = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    grams(0) = splitmix64(h)
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * topPow) * B + s.charAt(i + k - 1)
      grams(i) = splitmix64(h)
      i += 1
    }
    // winnow: min per window of w grams, rightmost on ties
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    val windows = math.max(1, n - w + 1)
    var wi = 0
    var lastIdx = -1
    while (wi < windows) {
      var minIdx = wi
      var j = wi
      val end = math.min(wi + w, n)
      while (j < end) { if (grams(j) <= grams(minIdx)) minIdx = j; j += 1 }
      if (minIdx != lastIdx) { out += grams(minIdx); lastIdx = minIdx }
      wi += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    var wr = 1
    i = 1
    while (i < arr.length) {
      if (arr(i) != arr(wr - 1)) { arr(wr) = arr(i); wr += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(arr, math.min(wr, arr.length))
  }

  def winnowCol(text: Column, k: Int = 8, w: Int = 4): Column =
    udf((s: String) => winnow(s, k, w)).apply(text)

  /** Chained sha-256 kernel, the reference benchmark's per-record workload
    * (`/root/reference/example/benchmark_example/processing/main.go:83-103`):
    * round 0 hashes payload||seq, round i hashes payload||digest_{i-1} —
    * raw digest bytes between rounds (no hex round-trips), one reused
    * MessageDigest per thread. The expression-level twin
    * (Crypto.chainedHash) chains hex strings; this kernel is the
    * throughput path. */
  private val sha256Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  def chainedSha256(payload: Array[Byte], seq: Long, rounds: Int): Array[Byte] = {
    val md = sha256Local.get()
    md.reset()
    md.update(payload)
    var i = 56
    while (i >= 0) { md.update((seq >>> i).toByte); i -= 8 } // big-endian seq
    var digest = md.digest()
    var r = 1
    while (r < rounds) {
      md.reset()
      md.update(payload)
      md.update(digest)
      digest = md.digest()
      r += 1
    }
    digest
  }

  def chainedSha256Col(payload: Column, seq: Column, rounds: Int): Column =
    udf((p: Array[Byte], s: Long) => chainedSha256(p, s, rounds)).apply(payload, seq)

  /** The reference benchmark's deterministic payload bank: `n` payloads of
    * `size` bytes from an xorshift64* stream seeded 0x9E3779B97F4A7C15
    * (`/root/reference/example/benchmark_example/processing/main.go:28-39`).
    * Built lazily once per executor JVM (~17 MB at defaults) — payload
    * generation stays outside the per-record hot loop, as in the reference. */
  lazy val payloadBank: Array[Array[Byte]] = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(65536) {
      val p = new Array[Byte](256)
      var i = 0
      while (i < 256) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        val v = x * 0x2545F4914F6CDD1DL
        p(i) = (v >>> 32).toByte
        i += 1
      }
      p
    }
  }

  /** Bank-payload chained hash keyed by sequence id — the full reference
    * benchmark record workload as one kernel. */
  def bankChainedSha256Col(seq: Column, rounds: Int): Column =
    udf((s: Long) => chainedSha256(payloadBank((s % 65536).toInt), s, rounds)).apply(seq)

  /** Per-thread scratch maps for [[repetitionStats]] — the reference's
    * worker-local-scratch pattern (TransformerFactory,
    * `/root/reference/pkg/internal/wire/internal.go:19-30`): at corpus
    * scale, two fresh HashMaps per ROW is pure GC churn. Oversized scratch
    * (after a pathological document) is dropped rather than cleared, so one
    * huge row can't pin memory or inflate clear() cost for the thread's
    * lifetime. */
  private val repScratch = new ThreadLocal[(java.util.HashMap[String, Int], java.util.HashMap[String, Int])] {
    override def initialValue() = (new java.util.HashMap[String, Int](), new java.util.HashMap[String, Int]())
  }

  /** Scratch collections beyond this many entries are discarded after the
    * row instead of reused (bounds retained heap + clear() cost). */
  private val scratchEntryCap = 1 << 16

  /** One-pass word-repetition statistics (the Gopher/C4 repetition
    * filters, word-level): returns (nWords, nDistinctWords, topWordCount,
    * topBigramCount) over the lower-cased alphabetic tokens of `text`
    * (same tokenization contract as [[tokenHashes]]/TextAnalytics.words).
    * Duplicate-word fraction and top-bigram coverage derive from these
    * four integers; all derivation stays integer/`/`-exact so a SQL oracle
    * reproduces it bit-for-bit. Counting is by token STRING (not hash) so
    * the counts equal a SQL GROUP BY count even under hash collisions.
    * ASCII-ONLY lower-casing (the [[charNgramSet]] contract): a character
    * with a non-trivial Unicode case mapping tokenizes differently from a
    * full `lower()` — pre-transliterate non-ASCII corpora on both engine
    * and oracle sides. The fixtures are pure ASCII.
    * Pure map-side kernel: no shuffle, one tokenization pass per row. */
  def repetitionStats(text: String): (Int, Int, Int, Int) = {
    if (text == null) return (0, 0, 0, 0)
    val (wordCounts, bigramCounts) = repScratch.get()
    wordCounts.clear()
    bigramCounts.clear()
    var nWords = 0
    var topWord = 0
    var topBigram = 0
    var prev: String = null
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = text.length
    while (i <= n) {
      val c0 = if (i < n) text.charAt(i) else ' '
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if (c >= 'a' && c <= 'z') sb.append(c)
      else if (sb.length > 0) {
        val w = sb.toString
        sb.setLength(0)
        nWords += 1
        val wc = wordCounts.merge(w, 1, Integer.sum)
        if (wc > topWord) topWord = wc
        if (prev != null) {
          val bc = bigramCounts.merge(prev + " " + w, 1, Integer.sum)
          if (bc > topBigram) topBigram = bc
        }
        prev = w
      }
      i += 1
    }
    val result = (nWords, wordCounts.size, topWord, topBigram)
    if (wordCounts.size + bigramCounts.size > scratchEntryCap) repScratch.remove()
    result
  }

  /** One-pass unigram-LM scoring stats: (nTokens, sumQl) over the
    * lower-cased alphabetic tokens of `text` that are present in `ql`
    * (inner-join semantics — unknown tokens are skipped, matching the
    * `toks JOIN lm` of the standalone formulation). Tokenization contract:
    * exactly Spark's `split(lower(text), "[^a-z]+")` including the full
    * Unicode lowercase — NOT the ASCII-only shift of [[repetitionStats]]
    * (which documents its ASCII-input precondition like [[charNgramSet]]);
    * this kernel must match its TRAINING side, which is Catalyst `lower`.
    * `ql` maps token → round(ln(count)·2²⁰)
    * quantized ONCE at model build (TextAnalytics.trainUnigramLm), so the
    * per-row work is a lookup + integer add — and integer addition is
    * associative, so the sum is identical under any partitioning. */
  def lmStats(text: String, ql: java.util.HashMap[String, java.lang.Long]): (Long, Long) = {
    // FULL Unicode lowercase first, then scan [a-z] runs — exactly
    // split(lower(text), "[^a-z]+"). The TRAINING side tokenizes with
    // Spark's lower(), whose slow path is String.toLowerCase() with the
    // JVM DEFAULT locale (verified in spark-unsafe 4.1.2:
    // UTF8String.toLowerCaseSlow) and whose mappings are not ASCII-only
    // ('İ' → i + combining dot, Kelvin 'K' → k) — so the scorer uses the
    // same default-locale toLowerCase, or training and scoring would
    // tokenize differently (ASCII-only scanning, or ROOT under a Turkish
    // default locale, both break the bit-equality contract with
    // txt_lm_score). ASCII input takes the fast path, so the common case
    // stays cheap.
    val t = text.toLowerCase
    var n = 0L
    var sq = 0L
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val len = t.length
    while (i <= len) {
      val c = if (i < len) t.charAt(i) else ' '
      if (c >= 'a' && c <= 'z') sb.append(c)
      else if (sb.length > 0) {
        val q = ql.get(sb.toString)
        sb.setLength(0)
        if (q ne null) { n += 1; sq += q.longValue }
      }
      i += 1
    }
    (n, sq)
  }

  // ---- Column-level wrappers ----

  def tokenSetCol(text: Column): Column = udf((s: String) => tokenSet(s)).apply(text)

  def spanHashesCol(text: Column, n: Int): Column =
    udf((s: String) => spanHashes(s, n)).apply(text)

  def spanHashesPosCol(text: Column, n: Int): Column =
    udf((s: String) => spanHashesPos(s, n)).apply(text)

  def exciseSpansCol(text: Column, starts: Column, n: Int): Column =
    udf((s: String, st: Seq[Int]) =>
      exciseSpans(s, if (st == null) null else st.toArray, n)).apply(text, starts)

  def repetitionStatsCol(text: Column): Column =
    udf((s: String) => repetitionStats(s)).apply(text)

  def charNgramSetCol(text: Column, n: Int): Column =
    udf((s: String) => charNgramSet(s, n)).apply(text)

  def interUnionCol(a: Column, b: Column): Column =
    udf((x: Array[Long], y: Array[Long]) => interUnion(x, y)).apply(a, b)

  /** Deliberately a ScalaUDF, not a custom codegen'd Expression: a native
    * `UnaryExpression` with doGenCode calling this same kernel statically
    * (UnsafeArrayData.fromPrimitiveArray result wrap) was built and A/B
    * microbenched in round 5 — 2M docs × 12 tokens, noop sink: UDF 0.77 s
    * vs native 0.82-0.88 s warm. The kernel dominates and Spark 4's
    * ScalaUDF string/array conversion is not measurable here, so the
    * simpler formulation stays (unlike FloatVectorDot, where the fold
    * alternative was interpreted per element and the native expression
    * won big). */
  def minhashCol(text: Column, n: Int, k: Int): Column = {
    val (as, bs) = minhashPerms(k) // hoisted out of the per-row path
    udf((s: String) => minhash(s, n, as, bs)).apply(text)
  }

  def simhashCol(text: Column): Column =
    udf((s: String) => simhash(s)).apply(text)

  def lshSignatureCol(vec: Column, nPlanes: Int, dim: Int, bandBits: Int): Column = {
    val planes = Array.tabulate(nPlanes, dim)(planeComponent)
    udf((v: Array[Float]) => lshSignature(v, planes, bandBits)).apply(vec)
  }
}
