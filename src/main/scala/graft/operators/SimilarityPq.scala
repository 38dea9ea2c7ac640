package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the COMPRESSION tier of the similarity
  * stack, complementing the coarse-pruning tier ([[SimilarityIvf]]) and
  * the 4× int8 tier ([[graft.functions.VectorQuant]]): split each vector
  * into `m` subvectors, learn a `ksub`-entry codebook per subspace, and
  * store each vector as `m` small codes. At 64 float dims with m=16,
  * ksub=16 (the shipped config) that is 256 bytes → 16 nibble-packed
  * codes = 8 bytes (32×), and the winnowing scan of a PERSISTED index
  * ([[buildIndex]]/[[probeIndex]]) reads only that code column —
  * distance is approximated from the codes alone via an ADC (asymmetric
  * distance computation) lookup table, so a 100 TB embedding corpus
  * winnows as a ~3 TB code table with the float tier touched only for
  * the shortlist re-rank.
  *
  * Generalizes the reference's quantize-at-rest idea (thresholded wavelet
  * compression, `/root/reference/pkg/wave/wave.go:131-166`) to the
  * similarity stack: lossy-compress the stored form, compute on the
  * compressed form, keep the exact form for the final verify.
  *
  * Scale + determinism design:
  *  - Training runs the m per-subspace k-means on the driver over ONE
  *    hash-ranked corpus sample, through the IVF sample and trainer
  *    ([[SimilarityIvf.lloyd]]): one Spark job, 2^-20 fixed-point LONG
  *    sums, codebooks bit-stable under any partition layout — that is
  *    what makes `sim_pq` golden-eligible.
  *  - Encoding is a map-side projection (broadcast codebooks, primitive
  *    argmin loop). No shuffle. A null or wrong-dimension vector encodes
  *    to null codes and is excluded from scoring (visible, not a crash —
  *    the sim_assign null-contract).
  *  - An ADC query builds its m×ksub table ONCE on the driver (fixed
  *    iteration order ⇒ bit-stable doubles), broadcasts it, and the scan
  *    is projection + `TakeOrderedAndProject` top-k.
  */
object SimilarityPq {

  /** Codebooks: m subspaces × ksub centroids × (dim/m) components. */
  type Codebooks = Array[Array[Array[Double]]]

  /** Train per-subspace codebooks: one corpus job collects the
    * hash-ranked top-`sampleN` sample (~1 MB at 64 dims), then each
    * subspace slice trains on the driver through [[SimilarityIvf.lloyd]].
    * `dim` must divide evenly into `m` subspaces (asserted). */
  def trainCodebooks(embeddings: DataFrame, m: Int = 16, ksub: Int = 16,
                     iters: Int = 3, sampleN: Int = 4096): Codebooks = {
    require(m >= 1 && ksub >= 2, s"need m >= 1 (got $m), ksub >= 2 (got $ksub)")
    val sample = SimilarityIvf.trainingSample(embeddings, sampleN)
    require(sample.nonEmpty, "empty embeddings table — nothing to train on")
    val dim = Option(sample(0)._2).fold(0)(_.length)
    sample.foreach { case (id, v) => SimilarityIvf.checkVector(id, v, dim) }
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      SimilarityIvf.lloyd(sample.map { case (id, v) =>
        (id, v.slice(j * sub, (j + 1) * sub)) }, ksub, iters)
    }.toArray
  }

  /** Encode every vector as its `m` per-subspace nearest-centroid codes —
    * a map-side projection against the broadcast codebooks. A null or
    * wrong-dimension vector yields NULL codes (visible; scoring skips
    * it) instead of crashing the task. */
  def encode(embeddings: DataFrame, books: Codebooks): DataFrame = {
    val sub = books(0)(0).length
    val m = books.length
    val enc = udf((v: Array[Float]) => {
      if (v == null || v.length != m * sub) null
      else {
        val d = new Array[Double](sub)
        val codes = new Array[Int](m)
        var j = 0
        while (j < m) {
          var i = 0
          while (i < sub) { d(i) = v(j * sub + i).toDouble; i += 1 }
          codes(j) = SimilarityIvf.nearestCell(d, books(j))
          j += 1
        }
        codes
      }
    })
    embeddings.select(col("vec_id"), enc(col("embedding")).as("codes"))
  }

  /** Pack an m-code row into ⌈m/2⌉ bytes (two 4-bit codes per byte;
    * requires ksub ≤ 16 — asserted at [[buildIndex]]). */
  private[operators] def pack4(codes: Array[Int]): Array[Byte] = {
    val out = new Array[Byte]((codes.length + 1) / 2)
    var j = 0
    while (j < codes.length) {
      val shifted = codes(j) << (if (j % 2 == 0) 4 else 0)
      out(j / 2) = (out(j / 2) | shifted).toByte
      j += 1
    }
    out
  }

  /** Unpack ⌈m/2⌉ bytes back to m 4-bit codes. */
  private[operators] def unpack4(bytes: Array[Byte], m: Int): Array[Int] = {
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val b = bytes(j / 2) & 0xff
      out(j) = if (j % 2 == 0) b >>> 4 else b & 0x0f
      j += 1
    }
    out
  }

  /** The ADC distance table for `queryVec`: table(j)(c) =
    * ‖q_j − centroid_{j,c}‖², driver-built in fixed order. */
  private def adcTable(books: Codebooks, queryVec: Array[Float]): Array[Array[Double]] = {
    val sub = books(0)(0).length
    val q = queryVec.map(_.toDouble)
    books.indices.map { j =>
      books(j).map { ctr =>
        var d = 0.0; var i = 0
        while (i < sub) { val t = q(j * sub + i) - ctr(i); d += t * t; i += 1 }
        d
      }
    }.toArray
  }

  /** Approximate top-k nearest to `queryVec` by ADC over unpacked codes:
    * dist²(q, x) ≈ Σ_j table(j)(code_j(x)). Null code rows (ragged
    * vectors) are excluded. Ties break on vec_id for a total order. */
  def adcTopK(codes: DataFrame, books: Codebooks, queryVec: Array[Float],
              k: Int, excludeIds: Seq[Long] = Nil): DataFrame = {
    val table = adcTable(books, queryVec)
    val score = udf((cs: Seq[Int]) => {
      var s = 0.0; var j = 0
      while (j < cs.length) { s += table(j)(cs(j)); j += 1 }
      s
    })
    val base = if (excludeIds.isEmpty) codes
               else codes.filter(!col("vec_id").isin(excludeIds: _*))
    base.filter(col("codes").isNotNull)
      .select(col("vec_id"), score(col("codes")).as("adc_dist2"))
      .orderBy(asc("adc_dist2"), asc("vec_id"))
      .limit(k)
  }

  /** Exact re-rank of an ADC `shortlist` against the float vectors:
    * broadcast the shortlist ids, one column-pruned float scan fetches
    * only matching rows' pages, exact row-local distances order the
    * final k. Emits (vec_id, adc_dist2, d2) ordered by exact d2. */
  private def rerank(embeddings: DataFrame, short: DataFrame,
                     queryVec: Array[Float], k: Int): DataFrame = {
    val q = queryVec.map(_.toDouble)
    val d2 = udf((v: Array[Float]) => {
      var s = 0.0; var i = 0
      val n = math.min(v.length, q.length)
      while (i < n) { val t = v(i) - q(i); s += t * t; i += 1 }
      s
    })
    embeddings.join(broadcast(short), "vec_id")
      .select(col("vec_id"), col("adc_dist2"), d2(col("embedding")).as("d2"))
      .orderBy(asc("d2"), asc("vec_id"))
      .limit(k)
  }

  /** Self-contained PQ query (train/encode inline): ADC shortlist, then
    * exact re-rank. NOTE this variant re-reads the float column for the
    * winnow too — it is the small-scale / test surface. The scale path
    * is [[buildIndex]] once + [[probeIndex]] per query, where the winnow
    * scan reads only the persisted 8-byte code rows. */
  def adcRerankTopK(embeddings: DataFrame, books: Codebooks,
                    queryVec: Array[Float], k: Int, shortlist: Int,
                    excludeIds: Seq[Long] = Nil): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = adcTopK(encode(embeddings, books), books, queryVec,
      shortlist, excludeIds)
    rerank(embeddings, short, queryVec, k)
  }

  private final case class IndexMeta(codebooks: Codebooks) // v<N>/meta.json

  /** Persist a PQ index VERSION: nibble-packed codes as parquet plus the
    * codebooks in `meta.json`, into a fresh `v<N>/` published by the
    * rename-based `_current` pointer swap — the same layout and
    * concurrency contract as the LSH and IVF indexes (a probe that
    * resolved the pointer before a rebuild keeps reading its previous
    * COMPLETE version). Build once per corpus version, probe many. */
  def buildIndex(embeddings: DataFrame, path: String, m: Int = 16,
                 ksub: Int = 16, iters: Int = 3): Unit = {
    require(ksub <= 16, s"codes are nibble-packed: ksub must be <= 16 (got $ksub)")
    val spark = embeddings.sparkSession
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      val books = trainCodebooks(embeddings, m, ksub, iters)
      val packUdf = udf((cs: Seq[Int]) =>
        if (cs == null) null else pack4(cs.toArray))
      encode(embeddings, books)
        .select(col("vec_id"), packUdf(col("codes")).as("code"))
        .write.mode("overwrite").parquet(s"$vdir/codes")
      graft.sources.Fs.writeMeta(spark, vdir, IndexMeta(books))
    }
    ()
  }

  /** Load a persisted version's codebooks (driver-side, m×ksub×sub). */
  private def loadCodebooks(spark: SparkSession, vdir: String): Codebooks = {
    val books = graft.sources.Fs.readMeta[IndexMeta](spark, vdir,
      "run buildIndex").codebooks
    val (ksub, sub) = (books.headOption.fold(0)(_.length),
      books.headOption.flatMap(_.headOption).fold(0)(_.length))
    require(sub > 0 && books.forall(b => b.length == ksub && b.forall(_.length == sub)),
      s"PQ index at $vdir has empty or ragged codebooks")
    require(ksub <= 16, s"PQ index at $vdir has ksub $ksub > 16 (codes are nibble-packed)")
    books
  }

  /** Probe a persisted index: resolve `_current` once, winnow by ADC
    * over the PACKED code scan (the float table is not read until the
    * re-rank fetch of `shortlist` rows). `embeddings` supplies the
    * exact tier — in a real pipeline, the primary vector store. */
  def probeIndex(spark: SparkSession, path: String, embeddings: DataFrame,
                 queryVec: Array[Float], k: Int, shortlist: Int,
                 excludeIds: Seq[Long] = Nil): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no PQ index at $path (missing _current pointer — " +
        "run buildIndex first)")
    val books = loadCodebooks(spark, vdir)
    val m = books.length
    val table = adcTable(books, queryVec)
    val score = udf((bytes: Array[Byte]) => {
      if (bytes == null) null.asInstanceOf[java.lang.Double]
      else {
        val cs = unpack4(bytes, m)
        var s = 0.0; var j = 0
        while (j < m) { s += table(j)(cs(j)); j += 1 }
        java.lang.Double.valueOf(s)
      }
    })
    val codes = graft.sources.Fs.readParquet(spark, s"$vdir/codes")
    val base = if (excludeIds.isEmpty) codes
               else codes.filter(!col("vec_id").isin(excludeIds: _*))
    val short = base.filter(col("code").isNotNull)
      .select(col("vec_id"), score(col("code")).as("adc_dist2"))
      .orderBy(asc("adc_dist2"), asc("vec_id"))
      .limit(shortlist)
    rerank(embeddings, short, queryVec, k)
  }

  /** Reconstruct the (lossy) decoded vector — test/debug surface for the
    * quantization-error invariants, not a query path. */
  def decode(codes: Array[Int], books: Codebooks): Array[Double] = {
    val sub = books(0)(0).length
    val out = new Array[Double](codes.length * sub)
    var j = 0
    while (j < codes.length) {
      System.arraycopy(books(j)(codes(j)), 0, out, j * sub, sub)
      j += 1
    }
    out
  }
}
