package graft.functions

import java.io.IOException

/** RFC 7932 (brotli) DECODER, from scratch — the last compression arm
  * of the reference relay's codec set
  * (`/root/reference/pkg/internal/forwardrelay/payload.go:111-141`,
  * wire enum 4 in `electrician_relay.proto`). Everything here is the
  * public specification: the bit-stream grammar (prefix codes with the
  * simple/complex forms, meta-block headers, block switching, context
  * modeling, the distance ring buffer and short codes, static
  * dictionary references with the 121 word transforms) is implemented
  * from RFC 7932 §2–§10, and the spec's DATA appendices ride as
  * committed resources extracted from the BSD-licensed reference
  * implementation by `tools/gen_brotli_data.py` (they are the same
  * bytes printed in the RFC):
  *
  *  - `dictionary.bin` — Appendix A, 122,784 bytes
  *    (md5 96cecd2ee7a666d5aa3627d74735b32a)
  *  - `transforms.bin` — Appendix B, the 121 (prefix, op, suffix) rows
  *  - `context.bin` — the §7.1 literal context lookup (4 modes × 512)
  *
  * Correctness is locked two ways: committed golden vectors produced by
  * the reference encoder (BrotliSpec — qualities 0–11, window sizes
  * 10–24, dictionary-transform-heavy english, UTF-8, incompressible
  * random, wrap-around windows), and a bulk fuzz harness
  * (`tools/fuzz_brotli.py` + `graft.tools.BrotliFuzz`) that replays
  * thousands of reference-encoder outputs through this decoder.
  *
  * The sealing twin is [[BrotliEnc]]: `Codecs.compress(brotli)`
  * emits real RFC 7932 streams that this decoder AND the reference
  * decoder (libbrotlidec, via tools/check_brotli_enc.py) open
  * byte-exact, so both directions of the reference's enum-4 arm
  * interoperate. */
object Brotli {

  // ======================================================================
  // spec data (resources; see tools/gen_brotli_data.py)
  // ======================================================================

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/brotli/$name")
    require(in != null, s"missing brotli resource $name")
    try in.readAllBytes() finally in.close()
  }

  /** Appendix A dictionary bytes, shared with the encoder's
    * static-dictionary matcher ([[BrotliEnc]]). */
  private[functions] lazy val dictionary: Array[Byte] = {
    val d = resource("dictionary.bin")
    require(d.length == 122784, s"dictionary.bin length ${d.length}")
    d
  }

  /** Appendix A word-bucket geometry: bits of word index and data
    * offset per word length 0..24 (lengths 0-3 have no words). */
  private[functions] val DictSizeBits = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7, 8, 7,
    7, 6, 6, 5, 5)
  private[functions] val DictOffsets = Array(
    0, 0, 0, 0, 0, 4096, 9216, 21504, 35840, 44032, 53248, 63488, 74752,
    87040, 93696, 100864, 104704, 106752, 108928, 113536, 115968, 118528,
    119872, 121280, 122016)

  /** One Appendix B transform: output = prefix + op(word) + suffix.
    * op: 0 identity, 1 ferment-first, 2 ferment-all, 10+k omit-first-k,
    * 20+k omit-last-k. */
  private final case class Transform(prefix: Array[Byte], op: Int,
                                     suffix: Array[Byte])
  private lazy val transforms: Array[Transform] = {
    val b = resource("transforms.bin")
    val out = Array.newBuilder[Transform]
    var i = 0
    while (i < b.length) {
      val pl = b(i) & 0xff
      val prefix = java.util.Arrays.copyOfRange(b, i + 1, i + 1 + pl)
      val op = b(i + 1 + pl) & 0xff
      val sl = b(i + 2 + pl) & 0xff
      val suffix = java.util.Arrays.copyOfRange(b, i + 3 + pl, i + 3 + pl + sl)
      out += Transform(prefix, op, suffix)
      i += 3 + pl + sl
    }
    val t = out.result()
    require(t.length == 121, s"expected 121 transforms, got ${t.length}")
    t
  }

  /** §7.1 literal context lookup: mode (LSB6=0, MSB6=1, UTF8=2,
    * SIGNED=3) → ctx = t[mode*512 + p1] | t[mode*512 + 256 + p2]. */
  private[functions] lazy val contextLut: Array[Byte] = {
    val t = resource("context.bin")
    require(t.length == 2048, s"context.bin length ${t.length}")
    t
  }

  // ---- §5 insert-and-copy length codes ----
  private val InsOffset = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34,
    50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsBits = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5,
    5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CopyOffset = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22,
    30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4,
    4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val InsRangeLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CopyRangeLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  // ---- §6 block-count code (26 symbols) ----
  private val BlockLenOffset = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65,
    81, 97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289, 4337,
    8433, 16625)
  private val BlockLenBits = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5,
    5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  // ---- §3.5 code-length-code fixed prefix (4-bit peek tables) ----
  private val ClcOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11,
    12, 13, 14, 15)
  private val ClcPrefixLen = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2,
    2, 4)
  private val ClcPrefixVal = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4,
    3, 5)

  // ---- §4 distance short codes ----
  private val ShortIdxOffset = Array(3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2,
    2, 2, 2)
  private val ShortValueDelta = Array(0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1,
    1, -2, 2, -3, 3)

  // ======================================================================
  // bit reader (LSB-first, §2)
  // ======================================================================

  private final class Bits(data: Array[Byte]) {
    private var bytePos = 0
    private var bitBuf = 0L
    private var bitCnt = 0

    private def fill(): Unit =
      while (bitCnt <= 56 && bytePos < data.length) {
        bitBuf |= (data(bytePos) & 0xffL) << bitCnt
        bitCnt += 8
        bytePos += 1
      }

    def read(n: Int): Int = {
      if (n == 0) return 0
      fill()
      if (bitCnt < n) throw new IOException("brotli: truncated stream")
      val v = (bitBuf & ((1L << n) - 1)).toInt
      bitBuf >>>= n
      bitCnt -= n
      v
    }

    def peek(n: Int): Int = { // may return fewer live bits near the end
      fill()
      (bitBuf & ((1L << n) - 1)).toInt
    }

    def skip(n: Int): Unit = {
      if (bitCnt < n) throw new IOException("brotli: truncated stream")
      bitBuf >>>= n
      bitCnt -= n
    }

    /** Discard to the next byte boundary (uncompressed blocks, §9.1). */
    def alignToByte(): Unit = { val r = bitCnt & 7; if (r != 0) skip(r) }

    /** Return `n` raw stream bytes (caller has aligned). */
    def rawBytes(n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var at = 0
      while (at < n && bitCnt > 0) { // drain whole buffered bytes first
        out(at) = (bitBuf & 0xff).toByte
        bitBuf >>>= 8; bitCnt -= 8; at += 1
      }
      val left = n - at
      if (left > 0) {
        if (bytePos + left > data.length)
          throw new IOException("brotli: truncated uncompressed block")
        System.arraycopy(data, bytePos, out, at, left)
        bytePos += left
      }
      out
    }

    /** Skip `n` raw stream bytes without buffering them (metadata
      * meta-blocks may declare up to 2^24 discarded bytes — a throwaway
      * allocation that size is the wrong shape). */
    def skipBytes(n: Int): Unit = {
      var left = n
      while (left > 0 && bitCnt > 0) { bitBuf >>>= 8; bitCnt -= 8; left -= 1 }
      if (bytePos + left > data.length)
        throw new IOException("brotli: truncated metadata block")
      bytePos += left
    }
  }

  // ======================================================================
  // canonical prefix codes (§3)
  // ======================================================================

  /** One decodable prefix code: a flat LSB-first lookup table. A
    * zero-bit code (single symbol) decodes without consuming input. */
  private final class Prefix(val table: Array[Int], val tableBits: Int,
                             val single: Int) {
    def read(bits: Bits): Int = {
      if (single >= 0) return single
      val peeked = bits.peek(tableBits)
      val e = table(peeked)
      val len = e & 0x1f
      if (len == 0) throw new IOException("brotli: invalid prefix code word")
      bits.skip(len)
      e >>> 5
    }
  }

  /** Build the LSB-first decode table from canonical code lengths
    * (§3.2: codes assigned by increasing (length, symbol)). */
  private def buildPrefix(lengths: Array[Int]): Prefix = {
    val present = lengths.zipWithIndex.filter(_._1 > 0)
    if (present.isEmpty) throw new IOException("brotli: empty prefix code")
    if (present.length == 1) return new Prefix(null, 0, present.head._2)
    val maxLen = present.map(_._1).max
    require(maxLen <= 15, s"code length $maxLen")
    val table = new Array[Int](1 << maxLen)
    var code = 0
    var len = 1
    while (len <= maxLen) {
      present.filter(_._1 == len).sortBy(_._2).foreach { case (_, sym) =>
        // bit-reverse the canonical (MSB-first) code for LSB-first reads
        var rev = 0
        var i = 0
        while (i < len) { rev = (rev << 1) | ((code >> i) & 1); i += 1 }
        var j = rev
        val entry = (sym << 5) | len
        while (j < table.length) { table(j) = entry; j += 1 << len }
        code += 1
      }
      code <<= 1
      len += 1
    }
    new Prefix(table, maxLen, -1)
  }

  /** §3.4/§3.5: read one prefix-code description for `alphabetSize`. */
  private def readPrefixCode(bits: Bits, alphabetSize: Int): Prefix = {
    val hskip = bits.read(2)
    if (hskip == 1) {
      // simple form: 1-4 explicit symbols
      val nsym = bits.read(2) + 1
      val abits = 32 - Integer.numberOfLeadingZeros(alphabetSize - 1)
      val syms = Array.fill(nsym)(bits.read(abits))
      syms.foreach(s => if (s >= alphabetSize)
        throw new IOException(s"brotli: symbol $s out of alphabet $alphabetSize"))
      if (syms.distinct.length != nsym)
        throw new IOException("brotli: duplicate simple-code symbol")
      // lengths attach in TRANSMISSION order — the first symbol read gets
      // the shortest code (§3.4); within one length, canonical assignment
      // (buildPrefix) orders by symbol value, the reference's group sort
      val lengths = new Array[Int](alphabetSize)
      nsym match {
        case 1 =>
          return new Prefix(null, 0, syms(0)) // zero-bit code
        case 2 =>
          lengths(syms(0)) = 1; lengths(syms(1)) = 1
        case 3 =>
          lengths(syms(0)) = 1; lengths(syms(1)) = 2; lengths(syms(2)) = 2
        case 4 =>
          if (bits.read(1) == 0) syms.foreach(lengths(_) = 2)
          else { lengths(syms(0)) = 1; lengths(syms(1)) = 2
                 lengths(syms(2)) = 3; lengths(syms(3)) = 3 }
      }
      buildPrefix(lengths)
    } else {
      // complex form: code lengths are themselves prefix-coded
      val clcl = new Array[Int](18)
      var space = 32
      var numCodes = 0
      var i = hskip
      while (i < 18 && space > 0) {
        val p = bits.peek(4) & 15
        bits.skip(ClcPrefixLen(p))
        val v = ClcPrefixVal(p)
        clcl(ClcOrder(i)) = v
        if (v != 0) { space -= 32 >> v; numCodes += 1 }
        i += 1
      }
      if (space < 0) throw new IOException("brotli: over-subscribed CL code")
      if (numCodes != 1 && space != 0)
        throw new IOException("brotli: under-subscribed CL code")
      val clTree = buildPrefix(clcl)
      // symbol code lengths with 16/17 repeat logic (§3.5)
      val lengths = new Array[Int](alphabetSize)
      var sym = 0
      var space2 = 32768
      var prevLen = 8
      var repeat = 0
      var repeatLen = 0
      while (sym < alphabetSize && space2 > 0) {
        val cl = clTree.read(bits)
        if (cl < 16) {
          lengths(sym) = cl; sym += 1
          if (cl != 0) { prevLen = cl; space2 -= 32768 >> cl }
          repeat = 0
        } else {
          val extra = if (cl == 16) 2 else 3
          val newLen = if (cl == 16) prevLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val old = repeat
          if (repeat > 0) { repeat -= 2; repeat <<= extra }
          repeat += bits.read(extra) + 3
          val delta = repeat - old
          if (sym + delta > alphabetSize)
            throw new IOException("brotli: repeat past alphabet")
          var k = 0
          while (k < delta) { lengths(sym) = repeatLen; sym += 1; k += 1 }
          if (repeatLen != 0) space2 -= delta << (15 - repeatLen)
        }
      }
      if (space2 < 0) throw new IOException("brotli: over-subscribed code")
      if (space2 > 0 && lengths.count(_ > 0) != 1)
        throw new IOException("brotli: under-subscribed code")
      buildPrefix(lengths)
    }
  }

  // ======================================================================
  // header pieces
  // ======================================================================

  /** §9.1 stream window size. */
  private def readWindowBits(bits: Bits): Int = {
    if (bits.read(1) == 0) return 16
    val n = bits.read(3)
    if (n != 0) return 17 + n
    val m = bits.read(3)
    if (m == 0) return 17
    if (m == 1) throw new IOException("brotli: reserved WBITS")
    8 + m
  }

  /** §9.2 variable-length 256-value count (NBLTYPES/NTREES). */
  private def readVarLenUint8(bits: Bits): Int = {
    if (bits.read(1) == 0) 0
    else {
      val n = bits.read(3)
      if (n == 0) 1 else bits.read(n) + (1 << n)
    }
  }

  /** §7.3 context map: RLE of zeros + inverse MTF. */
  private def readContextMap(bits: Bits, size: Int, nTrees: Int): Array[Int] = {
    val map = new Array[Int](size)
    if (nTrees == 1) return map
    val rleMax = if (bits.read(1) == 1) bits.read(4) + 1 else 0
    val tree = readPrefixCode(bits, nTrees + rleMax)
    var i = 0
    while (i < size) {
      val s = tree.read(bits)
      if (s == 0) { map(i) = 0; i += 1 }
      else if (s <= rleMax) {
        var reps = (1 << s) + bits.read(s)
        if (i + reps > size) throw new IOException("brotli: context-map RLE overflow")
        while (reps > 0) { map(i) = 0; i += 1; reps -= 1 }
      } else { map(i) = s - rleMax; i += 1 }
    }
    if (bits.read(1) == 1) { // inverse move-to-front
      val mtf = Array.tabulate(256)(identity)
      var j = 0
      while (j < size) {
        val idx = map(j)
        val v = mtf(idx)
        var k = idx
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = v
        map(j) = v
        j += 1
      }
    }
    map
  }

  /** One block-category state (§6): type/length trees + counters. */
  private final class BlockCat(val nTypes: Int, val typeTree: Prefix,
                               val lenTree: Prefix, bits: Bits) {
    var btype = 0
    var prevType = 1
    var remaining: Long =
      if (nTypes < 2) Long.MaxValue else readLen()
    private def readLen(): Long = {
      val s = lenTree.read(bits)
      BlockLenOffset(s).toLong + bits.read(BlockLenBits(s))
    }
    def switchBlock(): Unit = {
      val code = typeTree.read(bits)
      val next = code match {
        case 0 => prevType
        case 1 => (btype + 1) % nTypes
        case k => k - 2
      }
      prevType = btype
      btype = next
      remaining = readLen()
    }
  }

  private def readBlockCat(bits: Bits, nTypes: Int): BlockCat =
    if (nTypes < 2) new BlockCat(nTypes, null, null, bits)
    else new BlockCat(nTypes, readPrefixCode(bits, nTypes + 2),
      readPrefixCode(bits, 26), bits)

  // ======================================================================
  // dictionary word transforms (§8 / Appendix B)
  // ======================================================================

  /** §8's "ferment" (context-free uppercase) of one UTF-8 unit. */
  private def ferment(w: Array[Byte], at: Int): Int = {
    val c = w(at) & 0xff
    if (c < 192) { if (c >= 97 && c <= 122) w(at) = (c ^ 32).toByte; 1 }
    else if (c < 224) { if (at + 1 < w.length) w(at + 1) = (w(at + 1) ^ 32).toByte; 2 }
    else { if (at + 2 < w.length) w(at + 2) = (w(at + 2) ^ 5).toByte; 3 }
  }

  private def transformWord(word: Array[Byte], tid: Int): Array[Byte] = {
    val t = transforms(tid)
    val cut = t.op match {
      case 0 | 1 | 2 => word.clone()
      case k if k >= 10 && k < 20 => // omit first (k-10)
        word.drop(math.min(k - 10, word.length))
      case k if k >= 21 && k <= 29 => // omit last (k-20)
        word.take(math.max(0, word.length - (k - 20)))
      case other => throw new IOException(s"brotli: transform op $other")
    }
    t.op match {
      case 1 => if (cut.nonEmpty) ferment(cut, 0)
      case 2 =>
        var i = 0
        while (i < cut.length) i += ferment(cut, i)
      case _ => ()
    }
    t.prefix ++ cut ++ t.suffix
  }

  // ======================================================================
  // the decoder
  // ======================================================================

  /** Decode a complete brotli stream. `maxOut` bounds the inflated size
    * (hostile-input discipline, like [[Codecs.gunzipBounded]]). */
  def decode(data: Array[Byte], maxOut: Int = Int.MaxValue): Array[Byte] = {
    // the growth clamp and the cap checks must agree on ONE bound: a
    // maxOut above the max array size would pass the cap check at an
    // offset the clamped buffer cannot hold (AIOOBE instead of the cap
    // IOException)
    val bound = math.min(maxOut, Int.MaxValue - 8)
    val bits = new Bits(data)
    val wbits = readWindowBits(bits)
    val maxBackward = (1L << wbits) - 16
    // the output IS the copy window: brotli references up to maxBackward
    // bytes back, which at wbits<=24 fits in memory whole
    var outBuf = new Array[Byte](1 << 16)
    var outLen = 0
    // ALL size arithmetic in longs: past 2^30 bytes of output an int
    // `cap <<= 1` overflows negative-then-zero and the growth loop spins
    // forever instead of raising the cap error
    def ensure(n: Int): Unit =
      if (outLen.toLong + n > outBuf.length) {
        var cap = outBuf.length.toLong
        while (cap < outLen.toLong + n) cap <<= 1
        outBuf = java.util.Arrays.copyOf(outBuf,
          math.min(cap, (Int.MaxValue - 8).toLong).toInt)
      }
    def emit(b: Int): Unit = {
      if (outLen >= bound) throw new IOException(s"brotli: output exceeds $bound")
      ensure(1); outBuf(outLen) = b.toByte; outLen += 1
    }
    def emitAll(bs: Array[Byte]): Unit = {
      if (outLen.toLong + bs.length > bound)
        throw new IOException(s"brotli: output exceeds $bound")
      ensure(bs.length)
      System.arraycopy(bs, 0, outBuf, outLen, bs.length)
      outLen += bs.length
    }

    val distRb = Array(16, 15, 11, 4)
    var distRbIdx = 0

    var isLast = false
    while (!isLast) {
      isLast = bits.read(1) == 1
      if (isLast && bits.read(1) == 1) {
        // ISLASTEMPTY
      } else {
        val mnibbles = bits.read(2) match {
          case 3 => 0
          case n => n + 4
        }
        if (mnibbles == 0) {
          // metadata meta-block (§9.2): skip
          if (bits.read(1) != 0) throw new IOException("brotli: reserved bit set")
          val mskipBytes = bits.read(2)
          var mskip = 0
          var i = 0
          var lastByte = 0
          while (i < mskipBytes) { lastByte = bits.read(8)
            mskip |= lastByte << (8 * i); i += 1 }
          if (mskipBytes > 1 && lastByte == 0)
            throw new IOException("brotli: zero-padded MSKIPLEN")
          if (mskipBytes > 0) mskip += 1
          bits.alignToByte()
          bits.skipBytes(mskip)
        } else {
          var mlen = 0
          var lastNibble = 0
          var i = 0
          while (i < mnibbles) { lastNibble = bits.read(4)
            mlen |= lastNibble << (4 * i); i += 1 }
          if (mnibbles > 4 && lastNibble == 0)
            throw new IOException("brotli: zero-padded MLEN")
          mlen += 1
          val uncompressed = !isLast && bits.read(1) == 1
          if (uncompressed) {
            bits.alignToByte()
            if (outLen.toLong + mlen > bound)
              throw new IOException(s"brotli: output exceeds $bound")
            emitAll(bits.rawBytes(mlen))
          } else {
            decodeCompressedBlock(bits, mlen, maxBackward, distRb,
              () => distRbIdx, v => distRbIdx = v,
              () => outLen, emit, emitAll,
              (dist, len) => { // in-window copy (may overlap)
                // cap BEFORE growing/filling: the bound is enforced
                // DURING inflation, so a hostile 16 MiB copy command at
                // the cap edge never provokes the allocation it names
                if (outLen.toLong + len > bound)
                  throw new IOException(s"brotli: output exceeds $bound")
                ensure(len)
                var k = 0
                while (k < len) {
                  outBuf(outLen) = outBuf(outLen - dist)
                  outLen += 1; k += 1
                }
              },
              i => outBuf(i))
          }
        }
      }
    }
    java.util.Arrays.copyOf(outBuf, outLen)
  }

  /** One compressed meta-block (§9.3 header + §10 data loop). */
  private def decodeCompressedBlock(bits: Bits, mlen: Int, maxBackward: Long,
                                    distRb: Array[Int],
                                    getRbIdx: () => Int, setRbIdx: Int => Unit,
                                    outPos: () => Int,
                                    emit: Int => Unit,
                                    emitAll: Array[Byte] => Unit,
                                    copy: (Int, Int) => Unit,
                                    byteAt: Int => Byte): Unit = {
    val catL = readBlockCat(bits, readVarLenUint8(bits) + 1)
    val catI = readBlockCat(bits, readVarLenUint8(bits) + 1)
    val catD = readBlockCat(bits, readVarLenUint8(bits) + 1)
    val npostfix = bits.read(2)
    val ndirect = bits.read(4) << npostfix
    val postfixMask = (1 << npostfix) - 1
    val distAlphabet = 16 + ndirect + (48 << npostfix)
    val contextModes = Array.fill(catL.nTypes)(bits.read(2))
    val nTreesL = readVarLenUint8(bits) + 1
    val cmapL = readContextMap(bits, catL.nTypes * 64, nTreesL)
    val nTreesD = readVarLenUint8(bits) + 1
    val cmapD = readContextMap(bits, catD.nTypes * 4, nTreesD)
    val litTrees = Array.fill(nTreesL)(readPrefixCode(bits, 256))
    val cmdTrees = Array.fill(catI.nTypes)(readPrefixCode(bits, 704))
    val distTrees = Array.fill(nTreesD)(readPrefixCode(bits, distAlphabet))

    var produced = 0
    var p1 = if (outPos() > 0) byteAt(outPos() - 1) & 0xff else 0
    var p2 = if (outPos() > 1) byteAt(outPos() - 2) & 0xff else 0

    while (produced < mlen) {
      if (catI.remaining == 0) catI.switchBlock()
      catI.remaining -= 1
      val cmd = cmdTrees(catI.btype).read(bits)
      var rangeIdx = cmd >> 6
      var distanceCode = -1
      if (rangeIdx >= 2) rangeIdx -= 2 else distanceCode = 0
      val insCode = InsRangeLut(rangeIdx) + ((cmd >> 3) & 7)
      val copyCode = CopyRangeLut(rangeIdx) + (cmd & 7)
      val insertLen = InsOffset(insCode) + bits.read(InsBits(insCode))
      var copyLen = CopyOffset(copyCode) + bits.read(CopyBits(copyCode))

      // literals
      var j = 0
      while (j < insertLen) {
        if (catL.remaining == 0) catL.switchBlock()
        catL.remaining -= 1
        val mode = contextModes(catL.btype)
        val ctx = (contextLut((mode << 9) + p1) |
          contextLut((mode << 9) + 256 + p2)) & 0xff
        val lit = litTrees(cmapL((catL.btype << 6) + ctx)).read(bits)
        emit(lit)
        p2 = p1; p1 = lit
        produced += 1
        j += 1
      }
      if (produced > mlen) throw new IOException("brotli: insert past MLEN")
      if (produced == mlen) return // trailing insert-only command

      // distance
      var distance = 0L
      var pushRing = false // set for explicit non-code-0 WINDOW distances
      if (distanceCode == 0) {
        distance = distRb((getRbIdx() + 3) & 3).toLong
      } else {
        if (catD.remaining == 0) catD.switchBlock()
        catD.remaining -= 1
        val distctx = if (copyLen > 4) 3 else copyLen - 2
        val dcode = distTrees(cmapD((catD.btype << 2) + distctx)).read(bits)
        if (dcode < 16) {
          if (dcode < 4) {
            distance = distRb((getRbIdx() + ShortIdxOffset(dcode)) & 3).toLong
          } else {
            distance = distRb((getRbIdx() + ShortIdxOffset(dcode)) & 3).toLong +
              ShortValueDelta(dcode)
            if (distance <= 0)
              throw new IOException("brotli: non-positive short distance")
          }
        } else if (dcode < 16 + ndirect) {
          distance = (dcode - 16 + 1).toLong
        } else {
          val d = dcode - 16 - ndirect
          val postfix = d & postfixMask
          val hcode = d >> npostfix
          val nbits = 1 + (hcode >> 1)
          val offset = ((2L + (hcode & 1)) << nbits) - 4
          distance = ((offset + bits.read(nbits)) << npostfix) +
            postfix + ndirect + 1
        }
        pushRing = dcode != 0
      }

      val maxDistance = math.min(outPos().toLong, maxBackward)
      if (distance > maxDistance) {
        // §8 static dictionary reference
        if (copyLen < 4 || copyLen > 24)
          throw new IOException(s"brotli: dictionary copy length $copyLen")
        val addr = distance - maxDistance - 1
        val ndbits = DictSizeBits(copyLen)
        val wordIdx = (addr & ((1L << ndbits) - 1)).toInt
        val tid = (addr >> ndbits).toInt
        if (tid >= 121)
          throw new IOException(s"brotli: transform id $tid")
        val base = DictOffsets(copyLen) + wordIdx * copyLen
        val word = java.util.Arrays.copyOfRange(dictionary, base, base + copyLen)
        val expanded = transformWord(word, tid)
        if (produced + expanded.length > mlen)
          throw new IOException("brotli: dictionary word past MLEN")
        emitAll(expanded)
        produced += expanded.length
        if (expanded.length >= 2) {
          p1 = expanded(expanded.length - 1) & 0xff
          p2 = expanded(expanded.length - 2) & 0xff
        } else if (expanded.length == 1) {
          p2 = p1; p1 = expanded(0) & 0xff
        }
      } else {
        // only WINDOW copies from an explicit non-code-0 code enter the
        // ring (§4): dictionary references and reused distances do not
        if (pushRing) {
          distRb(getRbIdx() & 3) = distance.toInt
          setRbIdx(getRbIdx() + 1)
        }
        // a copy overshooting MLEN is a FORMAT error (the reference's
        // BLOCK_LENGTH check) — silently truncating would pass corrupt
        // streams as shorter valid ones, and brotli has no checksum to
        // catch the divergence downstream
        if (produced + copyLen > mlen)
          throw new IOException("brotli: copy past MLEN")
        if (copyLen > 0) {
          copy(distance.toInt, copyLen)
          produced += copyLen
          p1 = byteAt(outPos() - 1) & 0xff
          p2 = if (outPos() > 1) byteAt(outPos() - 2) & 0xff else 0
        }
      }
    }
  }
}
