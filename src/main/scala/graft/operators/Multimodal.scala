package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: opaque `binary` payloads + typed metadata, with
  * decode/feature-extract/resize/frame-sample as per-partition batch
  * kernels.
  *
  * The IMAGE decode path is real: `ImageIoCodec` decodes PNG/JPEG/BMP/GIF
  * through the JDK's own `javax.imageio` (no external jars) to luma pixels
  * with true nearest-neighbor resize. The AUDIO decode path is real for
  * WAV/PCM: `WavCodec` decodes through the JDK's `javax.sound.sampled`
  * to mono double samples feeding the Wave pack's spectral kernels
  * (`audioSpectralFeatures` — dominant frequency, energy, RMS).
  * Compressed audio (MP3/OGG) and video codecs are not in this
  * container, so their decode kernel is a clearly-marked deterministic
  * STUB (`StubCodec`) — the Spark-side contract (schema, partitioning,
  * batch iteration shape, error routing) is identical, and a production
  * deployment swaps `MediaCodec` for an FFmpeg-style FFI implementation
  * without touching the plan. `StubCodec` also remains the codec of the
  * declared `mm_features` query, whose synthetic fixture payloads are
  * text bytes, not encoded images.
  *
  * Scale notes: media blobs are the classic "wide row" hazard — all
  * kernels run via `mapPartitions` (one codec instance per partition, the
  * Scala analogue of `mapInPandas` batch processing), rows never pass
  * through the driver, and feature extraction projects blobs away as early
  * as possible so shuffles move features, not media.
  */
object Multimodal {

  /** Typed media record: opaque payload + metadata (mirrors the reference's
    * WrappedPayload envelope of bytes + typed metadata,
    * `/root/reference/proto/electrician_relay.proto:16-92`). */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte],
                         width: Int, height: Int, sampleRateHz: Int, nFrames: Int)

  case class MediaFeatures(media_id: Long, kind: String, byteLen: Int,
                           meanByte: Double, entropy: Double,
                           thumbnail: Array[Byte], ok: Boolean, error: String)

  /** Per-partition codec contract — the swap point for a real decoder. */
  trait MediaCodec extends Serializable {
    def decode(kind: String, payload: Array[Byte]): Array[Byte]
    def resize(pixels: Array[Byte], w: Int, h: Int, toW: Int, toH: Int): Array[Byte]
    /** Decoded pixels plus the TRUE dimensions when the container knows
      * them; the default trusts declared metadata (all a stub can do).
      * Hash-type consumers must use this, not `decode` + metadata: a
      * transposed width/height pair has the same product, so the
      * resize length guard cannot catch it and a wrong row stride
      * yields a well-formed but meaningless hash. */
    def decodeImage(payload: Array[Byte], declaredW: Int,
                    declaredH: Int): (Array[Byte], Int, Int) =
      (decode("image", payload), declaredW, declaredH)
  }

  /** STUB codec: deterministic stand-in (identity "decode", stride
    * "resize"). Real image/audio libs are unavailable in this environment —
    * see object scaladoc. */
  object StubCodec extends MediaCodec {
    override def decode(kind: String, payload: Array[Byte]): Array[Byte] = payload
    override def resize(pixels: Array[Byte], w: Int, h: Int, toW: Int, toH: Int): Array[Byte] = {
      if (pixels.isEmpty || toW * toH == 0) return Array.emptyByteArray
      val out = new Array[Byte](math.min(toW * toH, pixels.length))
      val stride = math.max(1, pixels.length / math.max(1, out.length))
      var i = 0
      while (i < out.length) { out(i) = pixels(math.min(i * stride, pixels.length - 1)); i += 1 }
      out
    }
  }

  /** Real image codec backed by `javax.imageio` — ships with the JDK, so
    * no external jars: decodes any ImageIO-registered container (PNG, JPEG,
    * BMP, GIF) to 8-bit luma pixels (ITU-R BT.601 integer weights; for
    * grayscale sources the luma equals the sample value exactly) and
    * resizes with real nearest-neighbor sampling. Non-image kinds pass
    * through untouched (audio/video codecs stay stubbed — see object
    * scaladoc). An undecodable or dimension-mismatched payload throws, so
    * `extractFeatures` routes it to an (ok=false, error) row — the T4
    * error-channel semantic — instead of poisoning the partition. */
  object ImageIoCodec extends MediaCodec {
    override def decode(kind: String, payload: Array[Byte]): Array[Byte] = {
      if (kind != "image") return payload
      decodeImage(payload, 0, 0)._1
    }
    /** The container KNOWS its dimensions — return them with the pixels
      * (declared metadata ignored). */
    override def decodeImage(payload: Array[Byte], declaredW: Int,
                             declaredH: Int): (Array[Byte], Int, Int) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null)
        throw new IllegalArgumentException("payload is not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      val out = new Array[Byte](w * h)
      // single-band gray sources: read raster samples raw — getRGB would
      // round-trip them through the gray→sRGB color-space curve
      val gray = img.getColorModel.getNumComponents == 1
      val raster = img.getRaster
      var y = 0
      var i = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val lum =
            if (gray) raster.getSample(x, y, 0)
            else {
              val rgb = img.getRGB(x, y)
              ((rgb >> 16 & 0xFF) * 299 + (rgb >> 8 & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
            }
          out(i) = lum.toByte
          i += 1
          x += 1
        }
        y += 1
      }
      (out, w, h)
    }
    override def resize(pixels: Array[Byte], w: Int, h: Int, toW: Int, toH: Int): Array[Byte] = {
      if (toW <= 0 || toH <= 0) return Array.emptyByteArray
      if (pixels.length != w * h)
        throw new IllegalArgumentException(
          s"pixel buffer ${pixels.length} does not match declared ${w}x$h")
      val out = new Array[Byte](toW * toH)
      var y = 0
      while (y < toH) {
        val sy = y * h / toH
        var x = 0
        while (x < toW) {
          out(y * toW + x) = pixels(sy * w + x * w / toW)
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Real AUDIO decode backed by `javax.sound.sampled` — like ImageIO it
    * ships with the JDK, so WAV/PCM needs no external jars (compressed
    * containers like MP3/OGG stay with the FFI swap point). Decodes to
    * mono double samples in [-1, 1] (channels averaged; 8-bit unsigned
    * per the WAV spec, 16/24/32-bit signed; byte order per the container
    * header, so big-endian AIFF/AU decode correctly too) plus the sample
    * rate, feeding the Wave pack's spectral kernels. */
  object WavCodec {
    def decodePcm(payload: Array[Byte]): (Array[Double], Double) = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val enc = fmt.getEncoding
        // 8-bit WAV is PCM_UNSIGNED per the spec; wider widths are signed
        val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        require(unsigned ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"only PCM is JDK-decodable, got $enc")
        val bits = fmt.getSampleSizeInBits
        require(bits % 8 == 0 && bits >= 8 && bits <= 32,
          s"unsupported sample width $bits")
        val bytesPerSample = bits / 8
        val raw = in.readAllBytes()
        val ch = fmt.getChannels
        val frameBytes = bytesPerSample * ch
        val nFrames = raw.length / frameBytes
        val out = new Array[Double](nFrames)
        val full = (1L << (bits - 1)).toDouble
        val bigEndian = fmt.isBigEndian // AIFF/AU containers decode big-endian
        var f = 0
        while (f < nFrames) {
          var acc = 0.0
          var c = 0
          while (c < ch) {
            val base = f * frameBytes + c * bytesPerSample
            var v = 0L
            if (bigEndian) {
              var b = 0
              while (b < bytesPerSample) { v = (v << 8) | (raw(base + b) & 0xFF); b += 1 }
            } else {
              var b = bytesPerSample - 1
              while (b >= 0) { v = (v << 8) | (raw(base + b) & 0xFF); b -= 1 }
            }
            val sample =
              if (unsigned) v - full // center 0..2^bits-1 on zero
              else { val shift = 64 - bits; (v << shift >> shift).toDouble }
            acc += sample / full
            c += 1
          }
          out(f) = acc / ch
          f += 1
        }
        (out, fmt.getSampleRate.toDouble)
      } finally in.close()
    }
  }

  case class AudioFeatures(media_id: Long, n_samples: Int, sample_rate_hz: Double,
                           dominant_freq_hz: Double, energy: Double, rms: Double,
                           ok: Boolean, error: String)

  /** Spectral features for audio-kind rows: WAV → mono PCM → the Wave
    * pack's FFT kernels (dominant frequency, total energy, RMS). Same
    * per-partition batch shape and (ok=false, error) routing as
    * [[extractFeatures]]; blobs are projected away before anything
    * shuffles. */
  def audioSpectralFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { iter =>
      iter.map { m =>
        try {
          val (pcm, rate) = WavCodec.decodePcm(m.payload)
          require(pcm.nonEmpty, "empty audio payload")
          // the radix-2 FFT needs a power-of-2 length and real clips are
          // never one: truncate to the largest power of 2 that fits
          // (spectral resolution stays honest — zero-padding would smear
          // the true bins); energy/RMS use the FULL signal
          val fftLen = java.lang.Integer.highestOneBit(pcm.length)
          val head = if (fftLen == pcm.length) pcm
                     else java.util.Arrays.copyOf(pcm, fftLen)
          val dom = graft.functions.Wave.dominantFreq(head, rate)
          val energy = graft.functions.Wave.totalEnergy(pcm)
          val rms = math.sqrt(energy / pcm.length)
          AudioFeatures(m.media_id, pcm.length, rate, dom, energy, rms,
            ok = true, error = null)
        } catch {
          case e: Throwable =>
            AudioFeatures(m.media_id, 0, 0.0, 0.0, 0.0, 0.0,
              ok = false, error = Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    }
  }

  /** Wrap the documents fixture as fake media rows (payload = utf-8 bytes)
    * so the plumbing is exercised on real partitioned data. */
  def syntheticMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
        col("text").cast("binary").as("payload"),
        (col("doc_id") % 64 + 1).cast("int").as("width"),
        (col("doc_id") % 48 + 1).cast("int").as("height"),
        lit(16000).as("sampleRateHz"),
        (col("doc_id") % 30 + 1).cast("int").as("nFrames"))
      .as[MediaRecord]
  }

  /** Decode + feature-extract, one codec instance per partition; failures
    * route to (ok=false, error) rows instead of failing the job — the T4
    * error-channel semantic at the media layer. */
  def extractFeatures(media: Dataset[MediaRecord],
                      codec: MediaCodec = StubCodec,
                      thumbW: Int = 8, thumbH: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { iter =>
      iter.map { m =>
        try {
          val decoded = codec.decode(m.kind, m.payload)
          var sum = 0L
          val hist = new Array[Long](256)
          var i = 0
          while (i < decoded.length) {
            val b = decoded(i) & 0xFF
            sum += b; hist(b) += 1; i += 1
          }
          val n = decoded.length.toDouble
          var ent = 0.0
          if (n > 0) {
            var j = 0
            while (j < 256) {
              if (hist(j) > 0) { val p = hist(j) / n; ent -= p * math.log(p) / math.log(2.0) }
              j += 1
            }
          }
          val thumb = codec.resize(decoded, m.width, m.height, thumbW, thumbH)
          MediaFeatures(m.media_id, m.kind, decoded.length,
            if (n > 0) sum / n else 0.0, ent, thumb, ok = true, error = null)
        } catch {
          case e: Throwable =>
            MediaFeatures(m.media_id, m.kind, 0, 0.0, 0.0, Array.emptyByteArray,
              ok = false, error = Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    }
  }

  /** Frame sampling for video-kind rows: every `stride`-th frame index —
    * the plan-side shape of frame extraction (frame bytes would come from
    * the codec in production). */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): DataFrame =
    media.toDF()
      .filter(col("kind") === "video")
      .select(col("media_id"), explode(sequence(lit(0), col("nFrames") - 1)).as("frame_idx"))
      .filter(col("frame_idx") % stride === 0)

  // ---- Perceptual image hashing (dHash) + near-duplicate pairing ----

  case class ImageHash(media_id: Long, dhash: Long, ok: Boolean, error: String)

  /** 64-bit difference hash over a 9×8 luma thumbnail: bit (y·8 + x) is
    * set iff pixel (x, y) < pixel (x+1, y) — the sign of the horizontal
    * luma gradient. The classic web-scale image-dedup fingerprint
    * (LAION-style pipelines): invariant to uniform brightness shifts and
    * to any monotone tone curve (only gradient SIGNS matter), robust to
    * recompression, and two images within a few flipped bits are
    * near-duplicates. */
  private[operators] def dHash64(thumb9x8: Array[Byte]): Long = {
    require(thumb9x8.length == 72, s"dHash needs 9x8=72 luma bytes, got ${thumb9x8.length}")
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if ((thumb9x8(y * 9 + x) & 0xFF) < (thumb9x8(y * 9 + x + 1) & 0xFF))
          h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Per-image dHash: decode → 9×8 luma thumbnail → 64-bit gradient hash,
    * one codec instance per partition, failures routed to (ok=false,
    * error) rows — the same batch shape and error-channel contract as
    * [[extractFeatures]]. The payload is projected away here; everything
    * downstream (bucketing, pairing, clustering) moves 8-byte hashes. */
  def imageDHashes(media: Dataset[MediaRecord],
                   codec: MediaCodec = ImageIoCodec): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { iter =>
      iter.map { m =>
        try {
          // decodeImage, not decode + declared metadata: the container's
          // true dimensions drive the resize stride (see MediaCodec doc)
          val (pixels, w, h) = codec.decodeImage(m.payload, m.width, m.height)
          val thumb = codec.resize(pixels, w, h, 9, 8)
          ImageHash(m.media_id, dHash64(thumb), ok = true, error = null)
        } catch {
          case e: Throwable =>
            ImageHash(m.media_id, 0L, ok = false,
              error = Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    }
  }

  /** Image near-duplicate pairs: dHash within `maxHamming` bits, via the
    * SAME banded-pigeonhole machinery as text SimHash
    * ([[Dedup.hammingPairs64]]) — candidate recall is complete for the
    * requested distance, hot buckets are size-windowed, and only the
    * 8-byte hash ever rides an exchange (the decoded image never leaves
    * its scan task). Failed decodes drop (they carry no visual identity),
    * and so do zero hashes — the same guard as [[Dedup.simhashPairs]] and
    * [[audioNearDups]]: every FLAT image (any solid color — dHash has no
    * gradients to sign) hashes to exactly 0, so a placeholder-heavy
    * corpus would otherwise pair all its blanks quadratically AND declare
    * a black and a white frame duplicates. Flat images have no gradient
    * identity to match on; dedup them exactly (byte hash) instead. */
  def imageNearDups(media: Dataset[MediaRecord],
                    codec: MediaCodec = ImageIoCodec,
                    maxHamming: Int = 6, maxBucket: Int = 5000): DataFrame =
    imageNearDupsFromHashes(imageDHashes(media, codec).toDF(),
      maxHamming, maxBucket)

  /** [[imageNearDups]] over an ALREADY-COMPUTED hash frame — the variant
    * [[dedupKeep]] callers use so one decode+hash scan (checkpointed)
    * serves both the pairing and the cluster-node set. Applies the
    * eligibility guards (failed decodes and flat zero-hashes never
    * pair) in ONE place for both entry points. */
  def imageNearDupsFromHashes(hashes: DataFrame, maxHamming: Int = 6,
                              maxBucket: Int = 5000): DataFrame = {
    val eligible = hashes
      .filter(col("ok") && col("dhash") =!= 0L)
      .select(col("media_id").as("doc_id"), col("dhash"))
    Dedup.hammingPairs64(eligible, "dhash", maxHamming, maxBucket)
      .withColumnRenamed("a_id", "a_media").withColumnRenamed("b_id", "b_media")
  }

  // ---- Perceptual audio fingerprinting (spectral constellation) ----

  case class AudioFingerprint(media_id: Long, fp: Long, ok: Boolean, error: String)

  /** 64-bit spectral-constellation fingerprint: decode to mono PCM, take
    * the power spectrum of the largest power-of-2 prefix (the Wave pack's
    * honesty rule — zero-padding would smear true bins), keep the top
    * `nPeaks` LOCAL MAXIMA at least 1/1000 of the strongest peak (the
    * relative floor rejects quantization-noise maxima, which would
    * otherwise contribute corpus-random bits), and set one bit per peak
    * in a 64-coarse-bin map of the spectrum. The Shazam-style idea
    * reduced to one word: same dominant tones ⇒ same bits, so the hash
    * is invariant to GAIN (scaling multiplies every power equally and
    * ranking/threshold are relative) and an added weak tone moves
    * exactly one bit. Silence (no peaks) maps to 0 — indistinguishable
    * like flat images under dHash, by design. */
  private[operators] def audioFingerprint64(pcm: Array[Double], nPeaks: Int = 8): Long = {
    if (pcm.length < 4) return 0L
    val fftLen = java.lang.Integer.highestOneBit(pcm.length)
    val head = if (fftLen == pcm.length) pcm
               else java.util.Arrays.copyOf(pcm, fftLen)
    val spec = graft.functions.Wave.powerSpectrum(head)
    var maxP = 0.0
    var k = 1
    while (k < spec.length - 1) { if (spec(k) > maxP) maxP = spec(k); k += 1 }
    if (maxP <= 0.0) return 0L
    val floor = maxP / 1000.0
    val peaks = (1 until spec.length - 1).collect {
      case i if spec(i) > spec(i - 1) && spec(i) >= spec(i + 1) &&
        spec(i) >= floor => (i, spec(i))
    }
    var h = 0L
    peaks.sortBy { case (i, p) => (-p, i) }.take(nPeaks).foreach { case (i, _) =>
      h |= 1L << (i.toLong * 64 / spec.length)
    }
    h
  }

  /** Per-clip fingerprints through the REAL JDK WAV decode, same batch
    * shape and error routing as [[imageDHashes]]. */
  def audioFingerprints(media: Dataset[MediaRecord]): Dataset[AudioFingerprint] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { iter =>
      iter.map { m =>
        try {
          val (pcm, _) = WavCodec.decodePcm(m.payload)
          AudioFingerprint(m.media_id, audioFingerprint64(pcm), ok = true, error = null)
        } catch {
          case e: Throwable =>
            AudioFingerprint(m.media_id, 0L, ok = false,
              error = Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    }
  }

  /** Audio near-duplicate pairs within `maxHamming` constellation bits —
    * the third consumer of [[Dedup.hammingPairs64]] (text SimHash, image
    * dHash, audio constellation: one pairing implementation, three
    * perceptual hashes). Only 8-byte fingerprints ride exchanges. */
  def audioNearDups(media: Dataset[MediaRecord],
                    maxHamming: Int = 2, maxBucket: Int = 5000): DataFrame = {
    val fps = audioFingerprints(media).toDF()
      .filter(col("ok") && col("fp") =!= 0L)
      .select(col("media_id").as("doc_id"), col("fp"))
    Dedup.hammingPairs64(fps, "fp", maxHamming, maxBucket)
      .withColumnRenamed("a_id", "a_media").withColumnRenamed("b_id", "b_media")
  }

  /** End-to-end multimodal dedup resolution: near-dup pairs (image dHash
    * or audio constellation) → connected components → keep the
    * lowest-id member per cluster. The media analogue of the text
    * funnel's exact/keep-best resolution — what a 100 TB media pipeline
    * actually ships: the deduplicated corpus plus, per kept item, how
    * many near-duplicates it absorbed. Lowest-id (not quality-ranked
    * like [[Curation.keepBest]]): perceptual hashes carry no quality
    * signal, and lowest-id is the stable, engine-free canonical choice.
    *
    * COVERAGE contract: `hashes` should be the FULL hash frame
    * (including failed decodes and flat zero-hashes) — those rows have
    * no perceptual identity to merge on, so they come through as their
    * own singleton clusters rather than silently vanishing from the
    * kept corpus: Σ cluster_size always equals the input media count.
    * Only the PAIRS must come from the eligibility-guarded path
    * ([[imageNearDupsFromHashes]]/[[audioNearDups]]).
    *
    * Scale: pairs and components move (id, id) longs only, and the keep
    * decision is free — connectedComponents labels every cluster with
    * its min member id, so the canonical IS the cluster label and the
    * only aggregate is a partial-agged per-label count. Checkpoint the
    * hash frame before deriving pairs from it (the queries do) so the
    * decode+hash scan runs once for both consumers. */
  def dedupKeep(hashes: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = Dedup.connectedComponents(
      hashes.select(col("media_id").as("doc_id")),
      pairs.select(col("a_media").as("a_id"), col("b_media").as("b_id")))
    cc.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("cluster_id").as("media_id"), col("cluster_size"),
        (col("cluster_size") - 1).as("n_absorbed"))
  }

  // ---- Persisted perceptual-hash index (incremental media dedup) ----

  private final case class HashIndexParams(maxHamming: Int, maxBucket: Int) // v<N>/meta.json

  /** Persist a banded 64-bit perceptual-hash index — the corpus side of
    * INCREMENTAL media dedup: build once per corpus refresh, then probe
    * every arriving batch/stream against it (the media analogue of the
    * text MinHash index, same versioned `v<N>/_current` contract:
    * rename-published, previous version retained for in-flight probes).
    * Generic over the hash: image dHash and audio constellations index
    * identically.
    *
    * @param hashes eligible (media_id, `hashCol`) rows — callers apply
    *               the ok/zero guards ([[imageNearDupsFromHashes]]'s);
    *               flat/failed media have no perceptual identity to index
    * @param maxHamming the distance the index guarantees recall for:
    *                   bands = maxHamming + 1 (pigeonhole) */
  def buildHashIndex(hashes: DataFrame, path: String, hashCol: String,
                     maxHamming: Int = 6, maxBucket: Int = 5000): Unit = {
    val spark = hashes.sparkSession
    val nBands = maxHamming + 1
    // full range check BEFORE any write: a bad bound failing inside the
    // version closure would waste the corpus write and orphan a v<N> dir
    require(nBands >= 1 && nBands <= 64,
      s"maxHamming must be in [0, 63]: $maxHamming")
    require(maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket")
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      hashes.select(col("media_id"), col(hashCol).cast("long").as("hash"))
        .write.mode("overwrite").parquet(s"$vdir/hashes")
      // band table from the WRITTEN hashes (one scan feeds both files,
      // and the band table can never drift from the hash table). Hot
      // buckets TRUNCATE to their first maxBucket members in media_id
      // order — the same bounded-truncation contract as hammingPairs64
      // (a 100k-copy placeholder family would otherwise make every
      // probe touching its bucket quadratic); partial recall into a
      // truncated bucket still surfaces the family
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bucket").orderBy("media_id")
      spark.read.parquet(s"$vdir/hashes")
        .select(col("media_id"), col("hash"),
          explode(Dedup.bands64(col("hash"), nBands)).as("bb"))
        .select(col("media_id"), col("hash"), col("bb.band"), col("bb.bucket"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxBucket).drop("__rn")
        .write.mode("overwrite").partitionBy("band").parquet(s"$vdir/bands")
      graft.sources.Fs.writeMeta(spark, vdir, HashIndexParams(maxHamming, maxBucket))
    }
    ()
  }

  /** Probe the `_current` index version with new media hashes: returns
    * (new_id, idx_id, hamming) for every index item within `maxHamming`
    * of an arriving item. Recall is complete up to the distance the
    * index was BUILT for (band layout and bound come from the persisted
    * params, so probe and index can never disagree); requesting a larger
    * distance fails fast instead of silently losing pairs. Partition
    * pruning on `band` applies when few bands match — the band join
    * carries (id, hash) longs only. Stateless, so it applies unchanged
    * inside a streaming foreachBatch — the online half of media dedup. */
  def probeHashIndex(spark: SparkSession, path: String, newHashes: DataFrame,
                     hashCol: String, maxHamming: Int = 6): DataFrame = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no hash index at $path (missing _current pointer — run buildHashIndex first)")
    val built = graft.sources.Fs.readMeta[HashIndexParams](spark, vdir,
      "run buildHashIndex").maxHamming
    require(maxHamming <= built,
      s"index guarantees recall to hamming $built, requested $maxHamming — rebuild deeper")
    val nBands = built + 1
    // probing at d < built needs only d+1 of the index's bands: a pair
    // within hamming d mismatches at most d bands TOTAL, so among any
    // chosen d+1 bands at least one matches — restricting both sides to
    // the first d+1 bands preserves pigeonhole recall while cutting the
    // join volume (and the band-partition scan) by (built−d)/(built+1)
    val probed = maxHamming + 1
    val probeBands = newHashes
      .select(col("media_id").as("new_id"), col(hashCol).cast("long").as("new_hash"))
      .select(col("new_id"), col("new_hash"),
        explode(Dedup.bands64(col("new_hash"), nBands)).as("bb"))
      .select(col("new_id"), col("new_hash"), col("bb.band"), col("bb.bucket"))
      .filter(col("band") < probed)
    val idxBands = spark.read.parquet(s"$vdir/bands")
      .filter(col("band") < probed)
      .select(col("band"), col("bucket"), col("media_id").as("idx_id"),
        col("hash").as("idx_hash"))
    probeBands.join(idxBands, Seq("band", "bucket"))
      .withColumn("hamming", bit_count(col("new_hash").bitwiseXOR(col("idx_hash"))))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "idx_id", "hamming").distinct()
  }

  /** Deterministic REAL-audio corpus from the documents fixture: each doc
    * becomes a 16-bit PCM WAV (RIFF bytes built directly — no encoder
    * dependency; decoded by the real `javax.sound` stack) of three
    * bin-aligned tones whose FFT bins are a pure function of
    * `doc_id % families`. Coarse-bin spacing is chosen so distinct
    * families differ by ≥ 4 constellation bits while the weak extra tone
    * every 5th doc carries moves exactly 1 (so family identity survives
    * maxHamming = 2 pairing with margin); a per-doc gain exercises the
    * fingerprint's amplitude invariance. */
  def syntheticAudio(docs: DataFrame, families: Int = 12): Dataset[MediaRecord] = {
    require(families >= 1 && families <= 12,
      s"coarse-bin layout guarantees separation for 1..12 families: $families")
    import docs.sparkSession.implicits._
    val fams = families
    docs.select(col("doc_id")).as[Long].mapPartitions { iter =>
      iter.map { id =>
        val fam = (id % fams).toInt
        val n = 2048
        // FFT bins = 16 × coarse bins {1, 9, 22} + 2·fam (and 35 + 2·fam
        // for the perturbing tone): {8, 13, 21} pairwise differences and
        // the 13/17 family offsets of the perturb bin make any cross-
        // family overlap ≤ 1 shared coarse bin
        val bins = Array(16 + 32 * fam, 144 + 32 * fam, 352 + 32 * fam)
        val amps = Array(1.0, 0.8, 0.6)
        val gain = 0.15 + 0.01 * ((id / fams) % 8)
        val perturbed = id % 5 == 0
        val samples = new Array[Double](n)
        var t = 0
        while (t < n) {
          var s = 0.0
          var j = 0
          while (j < 3) {
            s += amps(j) * math.sin(2 * math.Pi * bins(j) * t / n); j += 1
          }
          if (perturbed) s += 0.3 * math.sin(2 * math.Pi * (560 + 32 * fam) * t / n)
          samples(t) = s * gain
          t += 1
        }
        MediaRecord(id, "audio", pcm16Wav(samples, 8000), 0, 0, 8000, n)
      }
    }
  }

  /** Minimal RIFF/WAVE container around 16-bit little-endian mono PCM —
    * byte-deterministic by construction. */
  private[operators] def pcm16Wav(samples: Array[Double], rateHz: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rateHz).putInt(rateHz * 2)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      val v = math.max(-1.0, math.min(1.0, s))
      bb.putShort(math.round(v * 32767).toShort)
    }
    bb.array()
  }

  /** Deterministic REAL-image corpus derived from the documents fixture:
    * each doc becomes a 32×24 grayscale PNG (encoded with the JDK's own
    * ImageIO writer, decoded back by the same stack — the full real
    * codec path, no stubs). Luma is a family-parameterized gradient
    * field: docs sharing `doc_id % families` have IDENTICAL gradient
    * signs (their dHashes collide exactly), a per-doc brightness shift
    * exercises dHash's tone invariance, and docs with doc_id % 5 == 0
    * get one inverted row segment (a few flipped bits — the
    * near-but-not-exact case). */
  def syntheticImages(docs: DataFrame, families: Int = 24): Dataset[MediaRecord] = {
    require(families >= 1, s"families must be >= 1: $families")
    import docs.sparkSession.implicits._
    val fams = families
    docs.select(col("doc_id")).as[Long].mapPartitions { iter =>
      iter.map { id =>
        val fam = (id % fams).toInt
        val bright = ((id / fams) % 32).toInt // dHash-invariant shift
        val w = 32; val h = 24
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var lum = ((x * (3 + fam) + y * (5 + 2 * fam)) % 97) * 2 + bright
            // one inverted segment for every 5th doc: flips a handful of
            // gradient signs, not the whole identity. Row 12 and columns
            // 10..21 are chosen because the 9×8 nearest-neighbor resize
            // SAMPLES them (rows y'·3, columns x'·32/9) — a perturbation
            // on unsampled pixels would be invisible to the hash
            if (id % 5 == 0 && y == 12 && x >= 10 && x < 22) lum = 255 - lum
            raster.setSample(x, y, 0, math.min(255, math.max(0, lum)))
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        MediaRecord(id, "image", out.toByteArray, w, h, 0, 0)
      }
    }
  }
}
