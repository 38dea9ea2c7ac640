package graft.functions

/** RFC 7932 (brotli) ENCODER, from scratch — the sealing twin of
  * [[Brotli]], closing the last codec asymmetry with the reference
  * relay: the reference SEALS outbound payloads with brotli
  * (`/root/reference/pkg/internal/forwardrelay/payload.go:127`,
  * `brotli.NewWriterLevel`), so a graft relay must be able to produce
  * what a reference receiver configured for enum 4 expects.
  *
  * This is a real compressed encoder, not just §9.2 stored blocks:
  *  - LAZY LZ77 over 8-way hash buckets with a distance-cost score
  *    (longer wins, ties to the closer candidate, ring-hit bonuses —
  *    the reference encoder's quality-5 shape), backward match
  *    extension, emitting §5 insert-and-copy commands;
  *  - computed canonical prefix codes for the literal / command /
  *    distance alphabets, serialized in both §3.4 forms (simple ≤4
  *    symbols; complex with the fixed code-length code and the 16/17
  *    repeat codes), with code lengths limited by count-boosted Huffman
  *    retries (≤15 main, ≤5 for the code-length code — the fixed CL
  *    prefix only has codewords for lengths 0..5);
  *  - §7 literal CONTEXT MODELING: per-context histograms clustered
  *    (greedy agglomerative, entropy-cost vs tree-description overhead)
  *    into up to 4 literal trees with a §7.3 context map, mode UTF8 —
  *    collapses to the single-tree form when one tree is optimal;
  *  - one block type per category, NPOSTFIX=0 / NDIRECT=0, the full §4
  *    distance ring short codes 0-15 (parse steers toward ring reuse:
  *    a last-distance copy costs ~zero distance bits), implicit-0
  *    command cells when the (insert,copy) code pair allows;
  *  - a stored fallback: if the compressed stream is not smaller than
  *    §9.2 uncompressed meta-blocks, the stored form ships instead, so
  *    incompressible payloads pay bytes of overhead, not blowup.
  *
  * Density vs the reference encoder on the committed golden corpus
  * (bytes, reference at its vector's quality): english 84 vs 130 (q9 —
  * we BEAT it) and 64 vs 54 (q11), utf8 32 vs 36 (q11 — beat), hello
  * 25 vs 28-40 (beat), repeat 31 vs 29 (q7), random 4101 vs 4100,
  * ndjson 573 vs 570 (q5 — 1.005x; an earlier parse gave 1010). The
  * static-dictionary matcher (identity transform, 4-byte-prefix index
  * over the 13.5k Appendix A words of length >= 6) closes the english
  * text gap (a word's FIRST occurrence rides the dictionary, later
  * ones the window); the ring-steered lazy parse closed the
  * row-structured NDJSON gap (repeated keys reuse ring distances as
  * one zero-extra-bit symbol).
  *
  * Seal-path throughput (BrotliEncPerfCheck, one thread, this box):
  * ~34 MB/s on incompressible payloads (barren-region stride + the
  * stored fallback), ~11-13 MB/s on matchy text/NDJSON — the price of
  * the 8-way candidate sweep that halves the sealed byte count vs the
  * earlier parse. Executors seal per partition, so the relay path scales
  * with cores; hash tables scale with input size (a few-KB frame pays
  * a 16 KiB table, not 4.5 MB).
  *
  * Correctness is locked differentially BOTH ways: every encoder output
  * must round-trip byte-exact through [[Brotli.decode]] (BrotliEncSpec:
  * goldens' .raw corpus, structured shapes, randomized fuzz), and
  * `tools/check_brotli_enc.py` replays encoder outputs through the
  * SYSTEM reference decoder (libbrotlidec via ctypes) — the committed
  * `golden/brotli_enc/` vectors were verified against libbrotlidec and
  * are byte-locked in the spec for determinism. */
object BrotliEnc {

  // ======================================================================
  // bit writer (LSB-first, §2 — the exact inverse of Brotli.Bits)
  // ======================================================================

  private final class BitWriter {
    private var buf = new Array[Byte](1 << 12)
    private var bytePos = 0
    private var bitBuf = 0L
    private var bitCnt = 0

    private def ensure(n: Int): Unit =
      if (bytePos + n > buf.length) {
        var cap = buf.length
        while (cap < bytePos + n) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }

    def write(v: Int, n: Int): Unit = {
      if (n == 0) return
      require(n <= 24, s"write of $n bits")
      bitBuf |= (v.toLong & ((1L << n) - 1)) << bitCnt
      bitCnt += n
      while (bitCnt >= 8) {
        ensure(1)
        buf(bytePos) = (bitBuf & 0xff).toByte
        bytePos += 1
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }

    /** Pad with zeros to the next byte boundary (§9.1 uncompressed). */
    def alignToByte(): Unit = { val r = bitCnt & 7; if (r != 0) write(0, 8 - r) }

    /** Raw byte copy; caller has aligned. */
    def writeBytes(bs: Array[Byte], off: Int, len: Int): Unit = {
      require(bitCnt == 0, "writeBytes on unaligned writer")
      ensure(len)
      System.arraycopy(bs, off, buf, bytePos, len)
      bytePos += len
    }

    def bitLength: Long = bytePos.toLong * 8 + bitCnt

    def toBytes: Array[Byte] = {
      alignToByte()
      java.util.Arrays.copyOf(buf, bytePos)
    }
  }

  // ======================================================================
  // §5 length-code tables (shared numerology with the decoder)
  // ======================================================================

  private val InsOffset = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34,
    50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsBits = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5,
    5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CopyOffset = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22,
    30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4,
    4, 5, 5, 6, 7, 8, 9, 10, 24)

  /** (insHi, copyHi) → the §5 command cell, split by whether the cell
    * implies distance-code 0. Cells 0..1 are the implicit-0 pair
    * (insHi=0 with copyHi 0..1); explicit cells are rangeIdx+2 for the
    * nine (insHi, copyHi) combinations. */
  private def commandCell(insCode: Int, copyCode: Int, dist0: Boolean): Int = {
    val insHi = insCode >> 3
    val copyHi = copyCode >> 3
    if (dist0) {
      require(insHi == 0 && copyHi <= 1, "implicit-0 cell out of range")
      copyHi
    } else {
      // inverse of (InsRangeLut, CopyRangeLut) — §5's fixed 3x3 grid
      val rangeIdx = (insHi, copyHi) match {
        case (0, 0) => 0
        case (0, 1) => 1
        case (1, 0) => 2
        case (1, 1) => 3
        case (0, 2) => 4
        case (2, 0) => 5
        case (1, 2) => 6
        case (2, 1) => 7
        case (2, 2) => 8
        case other => throw new IllegalStateException(s"cell $other")
      }
      rangeIdx + 2
    }
  }

  private def cmdSymbol(insCode: Int, copyCode: Int, dist0: Boolean): Int =
    (commandCell(insCode, copyCode, dist0) << 6) |
      ((insCode & 7) << 3) | (copyCode & 7)

  private def insLenCode(len: Int): Int = {
    var c = InsOffset.length - 1
    while (InsOffset(c) > len) c -= 1
    c
  }

  private def copyLenCode(len: Int): Int = {
    var c = CopyOffset.length - 1
    while (CopyOffset(c) > len) c -= 1
    c
  }

  // ======================================================================
  // canonical prefix codes (§3) — lengths, codes, serialization
  // ======================================================================

  /** Huffman code lengths limited to `maxLen`, by count-boosting retries
    * (the reference encoder's BuildHuffmanTree shape: if the optimal tree
    * is too deep, re-run with frequencies clamped up until it fits; the
    * fully-boosted tree is balanced, depth ceil(log2 n) ≤ maxLen). The
    * result is a COMPLETE code (Kraft sum exactly 1) for ≥2 symbols —
    * the decoder's space2==0 check demands it. */
  private def codeLengths(freqs: Array[Long], maxLen: Int): Array[Int] = {
    val n = freqs.length
    val lengths = new Array[Int](n)
    val used = (0 until n).filter(freqs(_) > 0)
    if (used.isEmpty) return lengths
    if (used.length == 1) { lengths(used.head) = 1; return lengths }
    var boost = 1L
    var ok = false
    while (!ok) {
      java.util.Arrays.fill(lengths, 0)
      // O(k log k) two-queue Huffman over the used symbols
      val leaves = used.map(s => (math.max(freqs(s), boost), s)).sortBy(_._1)
      // node: (weight, id); id < n → leaf, else internal
      val depth = new Array[Int](used.length * 2) // per node, filled top-down later
      val left = new Array[Int](used.length * 2)
      val right = new Array[Int](used.length * 2)
      val weight = new Array[Long](used.length * 2)
      val leafQ = scala.collection.mutable.Queue(leaves.indices.map { i =>
        weight(i) = leaves(i)._1; i
      }: _*)
      var nextNode = used.length
      val nodeQ = scala.collection.mutable.Queue.empty[Int]
      def popMin(): Int =
        if (leafQ.isEmpty) nodeQ.dequeue()
        else if (nodeQ.isEmpty) leafQ.dequeue()
        else if (weight(leafQ.head) <= weight(nodeQ.head)) leafQ.dequeue()
        else nodeQ.dequeue()
      while (leafQ.size + nodeQ.size > 1) {
        val a = popMin(); val b = popMin()
        weight(nextNode) = weight(a) + weight(b)
        left(nextNode) = a; right(nextNode) = b
        nodeQ.enqueue(nextNode)
        nextNode += 1
      }
      val root = popMin()
      // depths top-down, iteratively
      var maxDepth = 0
      val stack = scala.collection.mutable.ArrayDeque((root, 0))
      while (stack.nonEmpty) {
        val (node, d) = stack.removeLast()
        if (node < used.length) {
          depth(node) = d
          if (d > maxDepth) maxDepth = d
        } else {
          stack.append((left(node), d + 1))
          stack.append((right(node), d + 1))
        }
      }
      if (maxDepth <= maxLen) {
        var i = 0
        while (i < leaves.length) { lengths(leaves(i)._2) = depth(i); i += 1 }
        ok = true
      } else boost = boost * 2 + 1
    }
    lengths
  }

  /** Canonical codes from lengths, pre-bit-reversed for the LSB-first
    * stream (the exact inverse of Brotli.buildPrefix's table fill):
    * codes(s) holds the reversed codeword, write with lengths(s) bits. */
  private def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val codes = new Array[Int](lengths.length)
    val maxLen = lengths.max
    var code = 0
    var len = 1
    while (len <= maxLen) {
      var sym = 0
      while (sym < lengths.length) {
        if (lengths(sym) == len) {
          var rev = 0
          var i = 0
          while (i < len) { rev = (rev << 1) | ((code >> i) & 1); i += 1 }
          codes(sym) = rev
          code += 1
        }
        sym += 1
      }
      code <<= 1
      len += 1
    }
    codes
  }

  /** One writable prefix code: per-symbol (reversed code, length) plus
    * what the §3.4 description must say. `single >= 0` marks a one-symbol
    * code — zero bits per symbol on the wire (decoder: Prefix(null,0,s)). */
  private final class Code(val lengths: Array[Int], val codes: Array[Int],
                           val single: Int) {
    def writeSym(w: BitWriter, sym: Int): Unit =
      if (single < 0) w.write(codes(sym), lengths(sym))
  }

  /** Build a code for `freqs` (padding an empty histogram to symbol 0 —
    * the stream grammar requires a code even when no symbol is read). */
  private def buildCode(freqs: Array[Long], maxLen: Int = 15): Code = {
    val f = if (freqs.forall(_ == 0)) {
      val g = freqs.clone(); g(0) = 1; g
    } else freqs
    val lengths = codeLengths(f, maxLen)
    if (lengths.count(_ > 0) == 1)
      new Code(lengths, new Array[Int](lengths.length), lengths.indexWhere(_ > 0))
    else new Code(lengths, canonicalCodes(lengths), -1)
  }

  // ---- §3.5 fixed code-length code: value → (reversed bits, count) ----
  // from the decoder's 4-bit peek tables: 0→00, 4→01, 3→10, 2→110,
  // 1→0111, 5→1111 (LSB-first as written)
  private val ClcCodeBits = Array(0, 7, 3, 2, 1, 15)
  private val ClcCodeLen = Array(2, 4, 3, 2, 2, 4)
  private val ClcOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11,
    12, 13, 14, 15)

  /** Serialize one prefix-code description (§3.4), exactly mirroring
    * Brotli.readPrefixCode's consumption. */
  private def writeCodeDescription(w: BitWriter, code: Code,
                                   alphabetSize: Int): Unit = {
    val used: Array[Int] =
      code.lengths.indices.filter(code.lengths(_) > 0).toArray
    val abits = 32 - Integer.numberOfLeadingZeros(alphabetSize - 1)

    if (used.length <= 4) {
      // ---- simple form ----
      w.write(1, 2) // hskip = 1
      w.write(used.length - 1, 2)
      if (code.single >= 0) {
        w.write(code.single, abits)
        return
      }
      // transmission order: ascending code length, ties by symbol — the
      // decoder attaches the shortest code to the first symbol read
      val order = used.sortBy(s => (code.lengths(s), s))
      used.length match {
        case 2 =>
          require(order.forall(code.lengths(_) == 1), "2-sym lengths")
          order.foreach(w.write(_, abits))
        case 3 =>
          require(code.lengths(order(0)) == 1 &&
            code.lengths(order(1)) == 2 && code.lengths(order(2)) == 2,
            "3-sym lengths")
          order.foreach(w.write(_, abits))
        case 4 =>
          val flat = order.forall(code.lengths(_) == 2)
          order.foreach(w.write(_, abits))
          if (flat) w.write(0, 1)
          else {
            require(code.lengths(order(0)) == 1 &&
              code.lengths(order(1)) == 2 &&
              code.lengths(order(2)) == 3 && code.lengths(order(3)) == 3,
              "4-sym lengths")
            w.write(1, 1)
          }
        case _ => throw new IllegalStateException
      }
      return
    }

    // ---- complex form ----
    // 1. turn the length array into the CL symbol stream (with 16/17
    //    repeats), stopping at the last nonzero length — the decoder
    //    stops reading the moment the code is complete
    val lastNonzero = code.lengths.lastIndexWhere(_ > 0)
    val clStream = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    // (clSymbol, extraBits, extraCount)
    var i = 0
    var prevLen = 8 // decoder's initial previous-nonzero-length
    while (i <= lastNonzero) {
      val len = code.lengths(i)
      var run = 1
      while (i + run <= lastNonzero && code.lengths(i + run) == len) run += 1
      if (len == 0) {
        emitRepeats(clStream, 17, run, 3)
      } else if (len == prevLen && run >= 3) {
        emitRepeats(clStream, 16, run, 2)
      } else {
        clStream += ((len, 0, 0))
        prevLen = len
        if (run > 1) {
          if (run - 1 >= 3) emitRepeats(clStream, 16, run - 1, 2)
          else for (_ <- 1 until run) clStream += ((len, 0, 0))
        }
      }
      i += run
    }

    // 2. code over the CL alphabet (lengths limited to 5: the fixed CL
    //    code has codewords only for 0..5)
    val clFreq = new Array[Long](18)
    clStream.foreach { case (s, _, _) => clFreq(s) += 1 }
    val clCode = buildCode(clFreq, maxLen = 5)

    // 3. header: hskip=0, then CL code lengths in ClcOrder with the
    //    fixed code, mirroring the decoder's space-tracking early stop
    w.write(0, 2) // hskip = 0
    var space = 32
    var oi = 0
    while (oi < 18 && space > 0) {
      val sym = ClcOrder(oi)
      val l = clCode.lengths(sym)
      w.write(ClcCodeBits(l), ClcCodeLen(l))
      if (l != 0) space -= 32 >> l
      oi += 1
    }
    require(space == 0 || clCode.single >= 0, s"CL code incomplete: $space")

    // 4. the CL symbol stream itself
    clStream.foreach { case (sym, extra, extraBits) =>
      clCode.writeSym(w, sym)
      if (extraBits > 0) w.write(extra, extraBits)
    }
  }

  /** Decompose a run of `total` repeats into chained 16/17 codes — the
    * decoder's recurrence is v' = ((v-2) << eb) + 3 + e, total = v_final,
    * so digits fall out of a base-2^eb expansion of (total-3). Runs
    * shorter than 3 emit literal lengths instead (16/17 minimum is 3). */
  private def emitRepeats(out: scala.collection.mutable.ArrayBuffer[(Int, Int, Int)],
                          clSym: Int, total: Int, extraBits: Int): Unit = {
    val lit = if (clSym == 17) 0 else -1 // 16-repeats never reach here <3
    if (total < 3) {
      require(clSym == 17, "short 16-run must be emitted literally")
      for (_ <- 0 until total) out += ((lit, 0, 0))
      return
    }
    val base = 1 << extraBits
    def rec(v: Int): Unit = {
      if (v <= 2 + base) { // single digit: v = 3 + e, e in [0, base)
        out += ((clSym, v - 3, extraBits))
      } else {
        val e = (v - 3) % base
        rec((v - 3) / base + 2)
        out += ((clSym, e, extraBits))
      }
    }
    rec(total)
  }

  // ======================================================================
  // static dictionary matcher (Appendix A, identity transform only)
  // ======================================================================

  /** Words shorter than this cost more as a dictionary reference (a
    * near-window-size distance is ~25-37 bits) than as literals. */
  private final val DictMinLen = 6

  /** 4-byte-prefix index over the Appendix A dictionary (lengths
    * [[DictMinLen]]–24, identity transform only — shorter buckets never
    * pass the matcher's cost floor, so they are not indexed): prefix →
    * packed (len << 16 | wordIdx) candidates, longest first. ~11.5k
    * words, built once per JVM. */
  private lazy val dictIndex: java.util.HashMap[Integer, Array[Int]] = {
    val d = Brotli.dictionary
    val tmp = new java.util.HashMap[Integer, java.util.ArrayList[Integer]]()
    var len = DictMinLen // shorter words never pass the matcher's floor
    while (len <= 24) {
      val off = Brotli.DictOffsets(len)
      var idx = 0
      while (idx < (1 << Brotli.DictSizeBits(len))) {
        val base = off + idx * len
        val p = ((d(base) & 0xff) << 24) | ((d(base + 1) & 0xff) << 16) |
          ((d(base + 2) & 0xff) << 8) | (d(base + 3) & 0xff)
        tmp.computeIfAbsent(p, _ => new java.util.ArrayList[Integer]())
          .add((len << 16) | idx)
        idx += 1
      }
      len += 1
    }
    val out = new java.util.HashMap[Integer, Array[Int]](tmp.size * 2)
    tmp.forEach { (k, v) =>
      val arr = new Array[Int](v.size)
      var i = 0
      while (i < arr.length) { arr(i) = v.get(i); i += 1 }
      // longest first: the first verified candidate wins
      out.put(k, arr.sortBy(e => -(e >> 16)))
    }
    out
  }

  /** Longest dictionary word matching `data[i..)`, as packed
    * (len << 16 | wordIdx), or 0. IDENTITY transform only: a measured
    * ferment-first (capitalized-word) arm was tried and removed — its
    * address rides 9 buckets above identity (~5-8 more distance bits
    * per reference), which cost more than the literals it replaced on
    * every corpus fixture. */
  private def dictMatch(data: Array[Byte], i: Int, until: Int): Int = {
    if (i + 4 > until) return 0
    val p = ((data(i) & 0xff) << 24) | ((data(i + 1) & 0xff) << 16) |
      ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
    val cands = dictIndex.get(p)
    if (cands == null) return 0
    val d = Brotli.dictionary
    var c = 0
    while (c < cands.length) {
      val len = cands(c) >> 16
      if (len >= DictMinLen && i + len <= until) {
        val idx = cands(c) & 0xffff
        val base = Brotli.DictOffsets(len) + idx * len
        var j = 4
        while (j < len && d(base + j) == data(i + j)) j += 1
        if (j == len) return cands(c)
      }
      c += 1
    }
    0
  }

  // ======================================================================
  // LZ77 (greedy, single-entry-per-bucket hash chains)
  // ======================================================================

  private final val HashBits = 17
  private final val MinMatch = 4
  private final val BucketBits = 3 // 8 candidates per bucket (q5-ish sweep)
  private final val BucketSize = 1 << BucketBits

  /** Multi-candidate hash table: each bucket keeps the last
    * [[BucketSize]] positions round-robin, so the matcher can choose the
    * longest/closest candidate instead of whatever was inserted last —
    * the single biggest parse-quality lever on structured input, where
    * the previous row is a far better reference than a same-prefix
    * collision three rows back. `hashBits` scales with the input so a
    * few-KB relay frame doesn't pay a 4.5 MB table fill per seal. */
  private final class HashChains(val hashBits: Int) {
    private val counts = new Array[Int](1 << hashBits)
    private val slots = Array.fill((1 << hashBits) << BucketBits)(-1)
    def hash4(data: Array[Byte], i: Int): Int = {
      val v = ((data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24))
      (v * 0x9e3779b1) >>> (32 - hashBits)
    }
    def insert(h: Int, pos: Int): Unit = {
      slots((h << BucketBits) | (counts(h) & (BucketSize - 1))) = pos
      counts(h) += 1
    }
    /** Visit each stored candidate for bucket `h`. */
    def foreachCandidate(h: Int)(f: Int => Unit): Unit = {
      val base = h << BucketBits
      var s = 0
      while (s < BucketSize) {
        val c = slots(base | s)
        if (c >= 0) f(c)
        s += 1
      }
    }
  }

  private object HashChains {
    /** ~2 slots per input byte, clamped to [12, HashBits] bits. */
    def forInput(n: Int): HashChains = {
      val bits = math.max(12, math.min(HashBits,
        33 - Integer.numberOfLeadingZeros(math.max(1, n)) - BucketBits))
      new HashChains(bits)
    }
  }

  /** One parsed command: `insert` literals from `litFrom`, then copy
    * `copyLen` from `distance` back (copyLen 0 = trailing insert).
    * `isDict` marks a STATIC-DICTIONARY reference (§8): its distance
    * points past maxDistance and must never enter the distance ring —
    * the decoder's dictionary branch doesn't push it either. */
  private final case class Cmd(litFrom: Int, insert: Int, copyLen: Int,
                               distance: Int, isDict: Boolean = false)

  /** One found match: length, distance, dictionary flag, and the score
    * the parse compares (lazy deferral included). */
  private final case class Found(len: Int, dist: Int, isDict: Boolean, score: Long)
  private val NoMatch = Found(0, 0, isDict = false, 0L)

  /** Best match at `i`. Candidates are scored `len·128 − bitlength(
    * distance)` — longer wins, ties go to the CLOSER candidate — with a
    * two-length-unit bonus for `dist == lastDist`: a last-distance reuse
    * encodes as short code 0 (or an implicit-0 command cell), costing
    * ~zero distance bits, which on row-structured input beats a match a
    * byte or two longer at a fresh distance. `insert` controls whether
    * this probe registers `i` in the hash table — the lazy peek must
    * NOT, or the deferred position would find only itself on its real
    * probe. */
  private def findMatch(data: Array[Byte], i: Int, until: Int,
                        maxBackward: Long, table: HashChains,
                        insert: Boolean, lastDist: Int,
                        ring: Array[Int]): Found = {
    var best = NoMatch
    if (i + MinMatch <= until) {
      val h = table.hash4(data, i)
      table.foreachCandidate(h) { cand =>
        if (cand < i && (i - cand).toLong <= maxBackward && {
          // hopeless-candidate prefilter: one byte-compare skips the full
          // extension on candidates that cannot win. The probe sits 3
          // bytes UNDER the best length because the ring bonuses let a
          // candidate up to 2 bytes shorter still win on score.
          val probe = best.len - 3
          probe < 0 || (i + probe < until &&
            data(cand + probe) == data(i + probe))
        }) {
          var l = 0
          val maxL = until - i
          while (l < maxL && data(cand + l) == data(i + l)) l += 1
          if (l >= MinMatch) {
            val dist = i - cand
            var score = (l.toLong << 7) - (32 - Integer.numberOfLeadingZeros(dist))
            if (dist == lastDist) score += 2L << 7
            else if (ring != null &&
              (dist == ring(0) || dist == ring(1) ||
                dist == ring(2) || dist == ring(3))) score += 1L << 7
            if (score > best.score) best = Found(l, dist, isDict = false, score)
          }
        }
      }
      if (insert) table.insert(h, i)
      // static dictionary (§8): only when it beats the window match —
      // ON SCORE, not raw length: a ring-reuse window copy at ~zero
      // distance bits beats a one-byte-longer dictionary reference
      if (best.len < 24) {
        val dm = dictMatch(data, i, until)
        if (dm != 0) {
          val len = dm >> 16
          val score = (len.toLong << 7) - 18 // §8 addresses are far: ~18 bits
          if (score > best.score) {
            // address with transform id 0: maxDistance + 1 + wordIdx
            val maxDistance = math.min(i.toLong, maxBackward)
            best = Found(len, (maxDistance + 1 + (dm & 0xffff)).toInt,
              isDict = true, score)
          }
        }
      }
    }
    best
  }

  /** Lazy parse of `data[from, until)` against the whole window
    * `data[0, until)` (copies may reach into previous meta-blocks):
    * greedy hash-chain matching with ONE-STEP deferral — if the next
    * position starts a strictly longer match, this position ships as a
    * literal instead (the reference encoder's quality-5 lazy shape;
    * worth ~10% on row-structured text where field boundaries misalign
    * the greedy first match). */
  private def parse(data: Array[Byte], from: Int, until: Int,
                    maxBackward: Long, table: HashChains,
                    initLastDist: Int, initRing: Array[Int],
                    initRingIdx: Int): Vector[Cmd] = {
    val cmds = Vector.newBuilder[Cmd]
    var nCmds = 0
    var litFrom = from
    var i = from
    // the previous WINDOW copy's distance — after any copy at distance d
    // the ring's "last distance" is d (code 0 leaves it, pushes set it),
    // so the parse can steer toward code-0 reuse without the full ring
    var lastDist = initLastDist
    // shadow of the decoder's 4-entry distance ring (§4): ring hits
    // other than the last distance still encode as one short-code
    // symbol, worth a one-length-unit score bonus
    val ring = initRing.clone()
    // the shadow ring INDEX must carry across meta-blocks like the real
    // one (rbIdxRef), or the 2nd+ block's pushes land in the wrong slots
    // and the ring bonuses steer toward distances that won't short-code
    var ringIdx = initRingIdx
    // barren-region stride: on incompressible stretches (sealed/encrypted
    // payloads) the no-match walk accelerates instead of probing all 8
    // bucket slots at every byte — the stored fallback ships those
    // blocks anyway, so exhaustive search there is pure waste
    var misses = 0
    while (i < until) {
      var found = findMatch(data, i, until, maxBackward, table,
        insert = true, lastDist, ring)
      if (found.len > 0) {
        // defer while the NEXT position scores higher (repeats so a run
        // of improving starts converges on the best one)
        var deferring = true
        while (deferring && i + 1 + MinMatch <= until) {
          val next = findMatch(data, i + 1, until, maxBackward, table,
            insert = false, lastDist, ring)
          // the deferred byte ships as a literal (~6 bits ≈ half a
          // length unit): demand a real improvement, not a tie
          if (next.score > found.score + (1L << 6)) {
            i += 1 // data[i-1] rides as a literal; litFrom unchanged
            table.insert(table.hash4(data, i), i) // the peek didn't register it
            found = next
          } else deferring = false
        }
        var matched = found.len
        // extend a WINDOW match backward over pending literals: every
        // byte absorbed is a literal that now rides the copy for free
        // (distance unchanged; dictionary addresses can't extend)
        if (!found.isDict) {
          while (i > litFrom && i - found.dist > 0 &&
            data(i - 1) == data(i - found.dist - 1)) {
            i -= 1; matched += 1
          }
        }
        cmds += Cmd(litFrom, i - litFrom, matched, found.dist, found.isDict)
        nCmds += 1
        if (!found.isDict) {
          if (found.dist != lastDist) { ring(ringIdx & 3) = found.dist; ringIdx += 1 }
          lastDist = found.dist
        }
        // index positions inside the match (sparsely: every other one,
        // the quality-1 shape) so later matches can land here
        var j = i + 1
        val end = math.min(i + matched, until - MinMatch)
        while (j < end) { table.insert(table.hash4(data, j), j); j += 2 }
        i += matched
        litFrom = i
        misses = 0
      } else { misses += 1; i += 1 + (misses >> 6) }
    }
    // builder contract: result() must be called once, at the end
    if (litFrom < until || nCmds == 0)
      cmds += Cmd(litFrom, until - litFrom, 0, 0)
    cmds.result()
  }

  // ======================================================================
  // distance codes (NPOSTFIX=0, NDIRECT=0 → alphabet 64)
  // ======================================================================

  // §4 short codes 0..15: ring slot (as the +offset the decoder reads)
  // and value delta — mirrors Brotli.ShortIdxOffset/ShortValueDelta
  // exactly. One symbol, ZERO extra bits: on row-structured input
  // (NDJSON's repeated-key shape) distances recur with ±small jitter,
  // and a short code replaces a 16+ bit explicit distance.
  private val ShortIdx = Array(3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2)
  private val ShortDelta = Array(0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2, -3, 3)

  /** Short code 0..15 reproducing `distance` from the current ring, or
    * -1. Never for dictionary references: their "distance" is a §8
    * address the decoder resolves via the ring-value-vs-maxDistance
    * comparison, not a window distance. */
  private def shortDistCode(distance: Int, rb: Array[Int], rbIdx: Int): Int = {
    var k = 0
    while (k < 16) {
      val v = rb((rbIdx + ShortIdx(k)) & 3) + ShortDelta(k)
      if (v == distance && v > 0) return k // decoder rejects non-positive
      k += 1
    }
    -1
  }

  /** (dcode, extra, extraBits) for an explicit window distance ≥ 1. */
  private def distCode(distance: Int): (Int, Int, Int) = {
    val d = distance + 3 // = (2+b)*2^n + e with e < 2^n
    val n = 31 - Integer.numberOfLeadingZeros(d) - 1
    val b = (d >>> n) - 2
    val e = d & ((1 << n) - 1)
    (16 + ((n - 1) << 1) + b, e, n)
  }

  // ======================================================================
  // literal context modeling (§7.1-7.3): NTREESL > 1 with one block type
  // ======================================================================

  /** §7.1 context id, mode UTF8 (the reference encoder's text mode):
    * p1/p2 are the previous two OUTPUT bytes, which for this encoder are
    * just the previous two input bytes — output ≡ input. */
  private def ctxOf(data: Array[Byte], pos: Int): Int = {
    val p1 = if (pos > 0) data(pos - 1) & 0xff else 0
    val p2 = if (pos > 1) data(pos - 2) & 0xff else 0
    (Brotli.contextLut((2 << 9) + p1) | Brotli.contextLut((2 << 9) + 256 + p2)) & 0xff
  }

  /** Shannon cost in bits of coding a histogram with its own code. */
  private def histCost(h: Array[Long]): Double = {
    var tot = 0L
    var i = 0
    while (i < h.length) { tot += h(i); i += 1 }
    if (tot == 0) return 0.0
    var bits = 0.0
    i = 0
    while (i < h.length) {
      val f = h(i)
      if (f > 0) bits += f * (math.log(tot.toDouble / f) / math.log(2.0))
      i += 1
    }
    bits
  }

  /** Greedy agglomerative clustering of the 64 context histograms into
    * literal trees: merge the pair whose combined code costs least extra,
    * until ≤ `maxTrees` clusters remain AND the cheapest further merge
    * would waste more entropy than one tree description saves. Returns
    * (context → cluster map of length 64, per-cluster histograms). */
  private[functions] def clusterContexts(freqs: Array[Array[Long]],
                              maxTrees: Int): (Array[Int], Array[Array[Long]]) = {
    // one extra literal tree costs roughly its complex-form description
    val TreeOverheadBits = 50.0 * 8
    val hists = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    val members = scala.collection.mutable.ArrayBuffer.empty[List[Int]]
    var c = 0
    while (c < 64) {
      if (freqs(c).exists(_ > 0)) { hists += freqs(c).clone(); members += List(c) }
      c += 1
    }
    if (hists.isEmpty)
      return (new Array[Int](64), Array(new Array[Long](256)))
    val costs = hists.map(histCost)
    def mergedCost(i: Int, j: Int): Double = {
      val m = new Array[Long](256)
      var k = 0
      while (k < 256) { m(k) = hists(i)(k) + hists(j)(k); k += 1 }
      histCost(m)
    }
    // cached pair deltas: only pairs touching the merged cluster change,
    // so each merge recomputes one row instead of the full O(n²) matrix
    // (the full-rescan form spent ~30% of encode wall time here)
    val delta = Array.ofDim[Double](hists.length, hists.length)
    for (i <- hists.indices; j <- (i + 1) until hists.length)
      delta(i)(j) = mergedCost(i, j) - costs(i) - costs(j)
    var continueMerging = true
    while (continueMerging && hists.length > 1) {
      var bi = -1; var bj = -1; var bd = Double.MaxValue
      var i = 0
      while (i < hists.length) {
        var j = i + 1
        while (j < hists.length) {
          if (delta(i)(j) < bd) { bd = delta(i)(j); bi = i; bj = j }
          j += 1
        }
        i += 1
      }
      if (hists.length > maxTrees || bd < TreeOverheadBits) {
        var k = 0
        while (k < 256) { hists(bi)(k) += hists(bj)(k); k += 1 }
        costs(bi) = histCost(hists(bi))
        members(bi) = members(bi) ++ members(bj)
        hists.remove(bj); costs.remove(bj); members.remove(bj)
        // compact the delta matrix past bj, then refresh row/col bi
        var a = 0
        while (a < hists.length) {
          var b = a + 1
          while (b < hists.length) {
            val (oa, ob) = (if (a >= bj) a + 1 else a, if (b >= bj) b + 1 else b)
            delta(a)(b) = delta(oa)(ob)
            b += 1
          }
          a += 1
        }
        a = 0
        while (a < hists.length) {
          if (a != bi) {
            val (lo, hi) = (math.min(a, bi), math.max(a, bi))
            delta(lo)(hi) = mergedCost(lo, hi) - costs(lo) - costs(hi)
          }
          a += 1
        }
      } else continueMerging = false
    }
    val cmap = new Array[Int](64)
    members.indices.foreach(t => members(t).foreach(cmap(_) = t))
    (cmap, hists.toArray)
  }

  /** §9.2 variable-length 256-value count — the exact inverse of the
    * decoder's readVarLenUint8. */
  private def writeVarLenUint8(w: BitWriter, v: Int): Unit = {
    require(v >= 0 && v <= 255, s"varlen-uint8 out of range: $v")
    if (v == 0) w.write(0, 1)
    else {
      w.write(1, 1)
      val n = 31 - Integer.numberOfLeadingZeros(v)
      w.write(n, 3)
      if (n > 0) w.write(v - (1 << n), n)
    }
  }

  /** §7.3 context map, plainest legal form: RLEMAX=0 (no zero-RLE), a
    * prefix code over the cluster ids, no inverse-MTF. 64 entries at ≤2
    * bits each — the simplicity is worth more than the ~10 bytes RLE
    * could save at these map sizes. */
  private def writeContextMap(w: BitWriter, cmap: Array[Int], nTrees: Int): Unit = {
    w.write(0, 1) // no RLEMAX
    val freq = new Array[Long](nTrees)
    cmap.foreach(v => freq(v) += 1)
    val code = buildCode(freq)
    writeCodeDescription(w, code, nTrees)
    cmap.foreach(code.writeSym(w, _))
    w.write(0, 1) // no inverse MTF
  }

  // ======================================================================
  // meta-block emission
  // ======================================================================

  /** Fully-resolved symbol stream for one meta-block, built in the stats
    * pass and replayed in the write pass. */
  private final case class Resolved(cmdSym: Int, insExtra: Int, insExtraBits: Int,
                                    copyExtra: Int, copyExtraBits: Int,
                                    litFrom: Int, insert: Int,
                                    dSym: Int, dExtra: Int, dExtraBits: Int)

  private def writeCompressedMetaBlock(w: BitWriter, data: Array[Byte],
                                       from: Int, until: Int, isLast: Boolean,
                                       maxBackward: Long, table: HashChains,
                                       distRb: Array[Int],
                                       rbIdxRef: Array[Int]): Unit = {
    val mlen = until - from
    val cmds = parse(data, from, until, maxBackward, table,
      initLastDist = distRb((rbIdxRef(0) + 3) & 3), initRing = distRb,
      initRingIdx = rbIdxRef(0))

    // ---- resolve every command to symbols + collect histograms ----
    // literals histogram PER §7.1 CONTEXT: clustered below into NTREESL
    // literal trees — on structured text (NDJSON keys vs values vs
    // digits) the per-context codes are the big density lever
    val litFreqCtx = Array.ofDim[Long](64, 256)
    val cmdFreq = new Array[Long](704)
    val distFreq = new Array[Long](64)
    var rbIdx = rbIdxRef(0)
    val rb = distRb.clone()
    val resolved = cmds.map { c =>
      var j = 0
      while (j < c.insert) {
        val pos = c.litFrom + j
        litFreqCtx(ctxOf(data, pos))(data(pos) & 0xff) += 1
        j += 1
      }
      if (c.copyLen == 0) {
        // trailing insert-only: the decoder reads the copy-extra bits
        // BEFORE the literals, then returns at produced==mlen — encode a
        // zero-extra copy code (code 0, copyLen 2) it will never apply
        val insC = insLenCode(c.insert)
        val sym = cmdSymbol(insC, 0, dist0 = false)
        cmdFreq(sym) += 1
        Resolved(sym, c.insert - InsOffset(insC), InsBits(insC),
          0, 0, c.litFrom, c.insert, -1, 0, 0)
      } else {
        val insC = insLenCode(c.insert)
        val copyC = copyLenCode(c.copyLen)
        val lastDist = rb((rbIdx + 3) & 3)
        if (c.distance == lastDist && (insC >> 3) == 0 && (copyC >> 3) <= 1) {
          // implicit distance-0 cell: no distance symbol at all
          val sym = cmdSymbol(insC, copyC, dist0 = true)
          cmdFreq(sym) += 1
          Resolved(sym, c.insert - InsOffset(insC), InsBits(insC),
            c.copyLen - CopyOffset(copyC), CopyBits(copyC),
            c.litFrom, c.insert, -1, 0, 0)
        } else {
          val sym = cmdSymbol(insC, copyC, dist0 = false)
          cmdFreq(sym) += 1
          val short = if (c.isDict) -1 else shortDistCode(c.distance, rb, rbIdx)
          val (dSym, dExtra, dExtraBits) =
            if (short >= 0) (short, 0, 0) // ring hit: one symbol, no extra
            else distCode(c.distance)
          distFreq(dSym) += 1
          // ring discipline mirrors the decoder exactly: dictionary
          // references never enter the ring (§4 — the decoder's dict
          // branch skips the push), window copies push on dcode != 0
          // (short codes 1..15 included)
          if (dSym != 0 && !c.isDict) { rb(rbIdx & 3) = c.distance; rbIdx += 1 }
          Resolved(sym, c.insert - InsOffset(insC), InsBits(insC),
            c.copyLen - CopyOffset(copyC), CopyBits(copyC),
            c.litFrom, c.insert, dSym, dExtra, dExtraBits)
        }
      }
    }
    System.arraycopy(rb, 0, distRb, 0, 4)
    rbIdxRef(0) = rbIdx

    // cluster the 64 context histograms into the literal trees (≤4:
    // keeps every context-map code in the cheap simple form)
    val (cmap, clusterHists) = clusterContexts(litFreqCtx, maxTrees = 4)
    val litCodes = clusterHists.map(buildCode(_))
    val cmdCode = buildCode(cmdFreq)
    val dstCode = buildCode(distFreq)

    // ---- meta-block header (§9.2/§9.3) ----
    w.write(if (isLast) 1 else 0, 1)
    if (isLast) w.write(0, 1) // ISLASTEMPTY = 0
    val m = mlen - 1
    if (m < (1 << 16)) { w.write(0, 2); w.write(m, 16) }
    else if (m < (1 << 20)) { w.write(1, 2); w.write(m, 20) }
    else { w.write(2, 2); w.write(m & 0xffffff, 24) }
    if (!isLast) w.write(0, 1) // ISUNCOMPRESSED = 0
    w.write(0, 1) // NBLTYPESL = 1 (varlen-uint8 of 0)
    w.write(0, 1) // NBLTYPESI = 1
    w.write(0, 1) // NBLTYPESD = 1
    w.write(0, 2) // NPOSTFIX = 0
    w.write(0, 4) // NDIRECT = 0
    w.write(2, 2) // literal context mode UTF8 (§7.1 — matches ctxOf)
    writeVarLenUint8(w, litCodes.length - 1) // NTREESL
    if (litCodes.length > 1) writeContextMap(w, cmap, litCodes.length)
    w.write(0, 1) // NTREESD = 1
    litCodes.foreach(writeCodeDescription(w, _, 256))
    writeCodeDescription(w, cmdCode, 704)
    writeCodeDescription(w, dstCode, 64)

    // ---- data loop (§10) ----
    resolved.foreach { r =>
      cmdCode.writeSym(w, r.cmdSym)
      if (r.insExtraBits > 0) w.write(r.insExtra, r.insExtraBits)
      if (r.copyExtraBits > 0) w.write(r.copyExtra, r.copyExtraBits)
      var j = 0
      while (j < r.insert) {
        val pos = r.litFrom + j
        litCodes(cmap(ctxOf(data, pos))).writeSym(w, data(pos) & 0xff)
        j += 1
      }
      if (r.dSym >= 0) {
        dstCode.writeSym(w, r.dSym)
        if (r.dExtraBits > 0) w.write(r.dExtra, r.dExtraBits)
      }
    }
  }

  // ======================================================================
  // stream assembly
  // ======================================================================

  private def writeWindowBits(w: BitWriter, wbits: Int): Unit = wbits match {
    case 16 => w.write(0, 1)
    case n if n >= 18 && n <= 24 => w.write(1, 1); w.write(n - 17, 3)
    case 17 => w.write(1, 1); w.write(0, 3); w.write(0, 3)
    case n if n >= 10 && n <= 15 => w.write(1, 1); w.write(0, 3); w.write(n - 8, 3)
    case other => throw new IllegalArgumentException(s"WBITS $other")
  }

  private def chooseWbits(n: Int): Int = {
    var w = 10
    while (w < 22 && (1L << w) - 16 < n) w += 1
    w
  }

  /** §9.2 stored stream: uncompressed meta-blocks (ISLAST=0 only) + a
    * final ISLASTEMPTY block. */
  private def encodeStored(data: Array[Byte], wbits: Int): Array[Byte] = {
    val w = new BitWriter
    writeWindowBits(w, wbits)
    var at = 0
    while (at < data.length) {
      val len = math.min(1 << 24, data.length - at)
      w.write(0, 1) // ISLAST = 0
      val m = len - 1
      if (m < (1 << 16)) { w.write(0, 2); w.write(m, 16) }
      else if (m < (1 << 20)) { w.write(1, 2); w.write(m, 20) }
      else { w.write(2, 2); w.write(m & 0xffffff, 24) }
      w.write(1, 1) // ISUNCOMPRESSED
      w.alignToByte()
      w.writeBytes(data, at, len)
      at += len
    }
    w.write(1, 1); w.write(1, 1) // ISLAST + ISLASTEMPTY
    w.toBytes
  }

  /** Encode `data` as a complete RFC 7932 stream. The output always
    * round-trips through [[Brotli.decode]]; incompressible inputs fall
    * back to stored meta-blocks (a few bytes of framing overhead). */
  def encode(data: Array[Byte]): Array[Byte] = {
    if (data.isEmpty) {
      val w = new BitWriter
      writeWindowBits(w, 10)
      w.write(1, 1); w.write(1, 1) // ISLAST + ISLASTEMPTY
      return w.toBytes
    }
    val wbits = chooseWbits(data.length)
    val maxBackward = (1L << wbits) - 16
    val w = new BitWriter
    writeWindowBits(w, wbits)
    val table = HashChains.forInput(data.length)
    val distRb = Array(16, 15, 11, 4)
    val rbIdx = Array(0)
    var at = 0
    val blockMax = 1 << 22 // 4 MiB per meta-block (MLEN cap is 1 << 24)
    while (at < data.length) {
      val len = math.min(blockMax, data.length - at)
      val isLast = at + len == data.length
      writeCompressedMetaBlock(w, data, at, at + len, isLast, maxBackward,
        table, distRb, rbIdx)
      at += len
    }
    val out = w.toBytes
    // the stored stream is always >= data + framing, so when the
    // compressed form already beat the input there is nothing to compare
    // — skip materializing a second input-sized copy on every seal
    if (out.length <= data.length) return out
    val stored = encodeStored(data, wbits)
    if (stored.length < out.length) stored else out
  }
}
