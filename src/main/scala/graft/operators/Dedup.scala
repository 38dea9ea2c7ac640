package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Generalizes the reference's sha-256 element
  * identity dedupe (`/root/reference/pkg/internal/types/element.go:28-37`,
  * requeue-collapse `/root/reference/pkg/internal/resister/queue.go:65-83`)
  * to corpus-scale near-duplicate detection.
  *
  * Scale design:
  *  - Exact dedupe is one shuffle on a 128-bit content hash (never on the
  *    raw text) — shuffle payload is (hash, doc_id), constant width.
  *  - MinHash signatures are computed map-side by a primitive-loop kernel
  *    (one base hash per shingle + k affine permutations, FastHash.minhash);
  *    candidate generation shuffles (band_hash, doc_id) pairs only —
  *    O(docs × bands) narrow rows, never text × text. The verify step joins
  *    signatures, not documents, and only for bucket-colliding pairs.
  *  - SimHash is a 64-bit projection; near-dup candidates come from banding
  *    the 64 bits into maxHamming+1 keys (Hamming ≤ maxHamming ⇒ at least
  *    one band equal, by pigeonhole).
  *  - All-pairs Jaccard is provided only as a *sampled* verifier (its O(n²)
  *    is the thing MinHash exists to avoid at 100 TB).
  */
object Dedup {

  /** Exact dedupe: keep the lowest doc_id per content fingerprint.
    * One hash-shuffle; at 100 TB this is the canonical "hash-groupBy" pass. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalytics.fingerprint(col("text")).as("text_hash"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("copies"))
      .select("doc_id", "text_hash", "copies")

  /** Incremental exact dedup against an existing corpus, Bloom-prefiltered:
    * return the `incoming` rows whose `text` does NOT appear verbatim in
    * `corpus` — the per-batch half of corpus-growth dedup (new crawl slice
    * vs what's already ingested).
    *
    * Scale shape (incoming ≪ corpus — the incremental contract):
    *  1. One corpus pass builds a Bloom filter over md5(text) (a
    *     distributed aggregate; bit-OR merges are order-independent, so
    *     the bitmap is deterministic). ~1.2 GB of bits covers 10⁹ corpus
    *     docs at fpp 0.01 — past `maxItemsPerShard` (default 2²⁷ items ≈
    *     160 MB of bits per shard) the build SHARDS by md5 prefix: one
    *     corpus pass shuffles (shard, md5) pairs — 32-byte hashes, never
    *     text — to one task per shard, each building one right-sized
    *     filter, so no single bitmap outgrows a JVM array, a task-result
    *     transfer (spark.driver.maxResultSize, 1 GB default), or a
    *     broadcast block. Probes pick their shard by the same prefix
    *     arithmetic; hit/miss behavior is bit-identical in distribution
    *     to the single filter (locked by a differential spec). The
    *     AGGREGATE bitmap still grows linearly — ~12 GB at 10¹⁰ docs —
    *     so the driver and each executor must hold it regardless of
    *     sharding; past what broadcast comfortably carries, fall back to
    *     the bucketed join of [[exact]].
    *  2. The incoming scan probes the broadcast filter map-side. Misses
    *     are DEFINITELY new (Bloom has no false negatives) and keep no
    *     further cost; hits (true overlap + fpp·|incoming| false
    *     positives) become the candidate set.
    *  3. One verify pass semi-joins corpus against the BROADCAST candidate
    *     md5 set — the corpus never shuffles; matched md5s come back
    *     small, and a broadcast anti-join removes the confirmed-old rows.
    * Net: zero shuffles of either table; the only exchanges are the two
    * small broadcasts, both bounded by |incoming|.
    *
    * Identity is verbatim md5(text) (128-bit; collision-free in practice —
    * the same contract as [[exact]]'s content hash). A null text is
    * DEFINITELY new (SQL equality never matches null — the oracle
    * semantics) and bypasses the probe. The Bloom filter is rebuilt per
    * call here — two eager corpus passes (count when `expectedItems` is
    * defaulted, then the filter aggregation) AT CONSTRUCTION TIME, plus
    * the verify pass on execution; a production incremental loop passes
    * `expectedItems` and builds the filter once per corpus version,
    * amortizing across batches. */
  def bloomPrefilterNew(incoming: DataFrame, corpus: DataFrame,
                        expectedItems: Long = 0L, fpp: Double = 0.01,
                        maxItemsPerShard: Long = 1L << 27): DataFrame = {
    require(!incoming.columns.contains("__md5"),
      "incoming already carries the reserved column __md5")
    require(maxItemsPerShard >= 1, s"maxItemsPerShard must be positive: $maxItemsPerShard")
    val withMd5 = incoming.withColumn("__md5", md5(col("text")))
    val corpusMd5 = corpus.select(md5(col("text")).as("__md5"))
    val n = if (expectedItems > 0) expectedItems else math.max(corpusMd5.count(), 1L)
    val shards = (((n + maxItemsPerShard - 1) / maxItemsPerShard) min Int.MaxValue.toLong).toInt
    val mightContain =
      if (shards <= 1) {
        val bf = corpusMd5.stat.bloomFilter("__md5", n, fpp)
        val bfBc = incoming.sparkSession.sparkContext.broadcast(bf)
        // null-safe: mightContainString(null) NPEs, and a null md5 (null
        // text) must read as a miss anyway
        udf((m: String) => m != null && bfBc.value.mightContainString(m))
      } else {
        val filters = buildShardedBloom(corpusMd5, shards, (n + shards - 1) / shards, fpp)
        val fBc = incoming.sparkSession.sparkContext.broadcast(filters)
        udf((m: String) =>
          m != null && fBc.value(bloomShardIndex(m, fBc.value.length)).mightContainString(m))
      }
    val candidates = withMd5.filter(mightContain(col("__md5")))
      .select("__md5").distinct()
    val confirmedOld = corpusMd5
      .join(broadcast(candidates), Seq("__md5"), "left_semi").distinct()
    withMd5.join(broadcast(confirmedOld), Seq("__md5"), "left_anti")
      .drop("__md5")
  }

  /** Shard index from the first 60 bits of the md5 hex — pure arithmetic,
    * identical on the build (executor) and probe (executor) sides. */
  private[operators] def bloomShardIndex(md5Hex: String, shards: Int): Int =
    (java.lang.Long.parseUnsignedLong(md5Hex.substring(0, 15), 16) % shards).toInt

  /** All shard filters in ONE corpus pass: (shard, md5) pairs are
    * partitioned so each of the `shards` tasks builds exactly ONE
    * right-sized filter — per-task memory is one shard's bitmap, not the
    * whole corpus' (a treeAggregate of a filter ARRAY would hold every
    * shard's bits in every task). The exchange carries 32-byte hex
    * hashes, never text. Bit-setting commutes, so each bitmap is
    * deterministic at any row order. */
  private def buildShardedBloom(corpusMd5: DataFrame, shards: Int,
                                perShardItems: Long,
                                fpp: Double): Array[org.apache.spark.util.sketch.BloomFilter] = {
    val pairs = corpusMd5.rdd
      .map(_.getString(0)).filter(_ != null)
      .map(m => (bloomShardIndex(m, shards), m))
    val byShard = pairs.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = shards
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })
    val built = byShard.mapPartitionsWithIndex { (idx, it) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(math.max(perShardItems, 1L), fpp)
      it.foreach { case (_, m) => bf.putString(m) }
      Iterator((idx, bf))
    }.collect()
    val out = new Array[org.apache.spark.util.sketch.BloomFilter](shards)
    built.foreach { case (i, bf) => out(i) = bf }
    out
  }

  /** Per-document duplicated-span coverage: the fraction of a document's
    * distinct n-word spans that also occur in ≥ `minDocs` documents — the
    * decision input for span-level dedup (C4-style "drop documents whose
    * content is mostly seen elsewhere"), complementing
    * [[winnowPairs]]'s pair listing with a per-doc scalar.
    *
    * Scale shape: distinct span hashes come from a ONE-PASS kernel
    * ([[graft.functions.FastHash.spanHashes]] — the Catalyst
    * `transform`+`slice` shingle expression re-tokenized the document per
    * span position, O(words²), 8.7 s→0.6 s at sf0.1), explode map-side,
    * then the per-span document count is a partition-count WINDOW over
    * the span hash (one (gh) exchange; a groupBy+join-back formulation
    * scanned and exploded the corpus twice — the same lesson as
    * [[simhashPairs]]'s size window), then one (doc_id) exchange folds
    * the coverage. Span TEXT never materializes at all — the identity is
    * the span-hash, the same hash-identity contract as [[exact]].
    * Integer ppm output keeps the oracle float-free. */
  def spanCoverage(docs: DataFrame, n: Int = 10, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"need n >= 1 (got $n), minDocs >= 2 (got $minDocs)")
    val grams = docs
      .select(col("doc_id"),
        explode(graft.functions.FastHash.spanHashesCol(col("text"), n)).as("gh"))
    // spans are distinct within a doc, so the partition count = doc count
    grams
      .withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("n_dup_spans"))
      // div, not `/`: Column./ on longs is DOUBLE division in Spark
      .withColumn("dup_frac_ppm", expr("n_dup_spans * 1000000 div n_spans"))
  }

  /** Corpus-wide boilerplate-segment REMOVAL (the line/paragraph-dedup
    * pass of an LLM curation pipeline, CCNet/RefinedWeb-style, adapted to
    * single-line whitespace corpora): split each document into
    * non-overlapping `segWords`-word segments, drop every segment whose
    * content occurs in ≥ `minDocs` DISTINCT documents, and reassemble the
    * surviving text. Complements [[spanCoverage]] — that op *measures*
    * duplication at sliding-window granularity; this one *removes* it at
    * reassembly-safe (non-overlapping) granularity. Same sub-document
    * generalization of the reference's hash-identity collapse
    * (`/root/reference/pkg/internal/types/element.go:28-37`) as
    * [[spanCoverage]].
    *
    * Scale shape (text NEVER rides an exchange; 2 column-pruned scans):
    *  1. Segmentation + xxhash64 per segment are map-side projections;
    *     segments are distinct'd within a doc before exploding, so a
    *     plain count == count of distinct docs. The exploded
    *     (doc_id, sh) rows — 16 bytes each, never text — are
    *     localCheckpoint'ed so both consumers below read the
    *     materialization instead of re-scanning the corpus. NOTE: like
    *     [[graft.operators.Curation.packSequences]], that checkpoint is
    *     an EAGER job at plan-construction time.
    *  2. The per-segment document count is a partial-aggregated
    *     groupBy(sh) — hot boilerplate hashes (the very thing this op
    *     hunts: a footer in 10⁸ docs) combine MAP-SIDE before the
    *     exchange. A count-over-window formulation has no partial
    *     aggregation, so the hottest hash would funnel its every
    *     occurrence into one straggling window task — [[spanCoverage]]'s
    *     window shape is fine for its sliding-span DISTRIBUTION but
    *     would be the skew hotspot here.
    *  3. The duplicated hashes broadcast back onto the checkpointed rows
    *     (the dup set is bounded by the boilerplate population, not the
    *     corpus — drop the broadcast hint if a degenerate corpus breaks
    *     that bound) and one (doc_id) exchange folds them into a per-doc
    *     set.
    *  4. Reassembly joins that narrow per-doc hash set back to the
    *     document row and drops segments with a higher-order `filter`
    *     (re-hashing map-side rather than shuffling positions). The
    *     narrow side is broadcastable in the common case (AQE picks it
    *     up); under a sort-merge fallback it is the only join where the
    *     doc row moves — at cluster scale bucket `docs` by doc_id to
    *     keep that exchange off the text too.
    * Tokenization is an explicit whitespace class (identical byte-for-
    * byte on the Spark and DuckDB sides — Java `\s` matches U+000B,
    * RE2's does not, so the shorthand is NOT cross-engine-stable).
    * Segment identity is the hash (the [[exact]] contract); a corpus
    * where 8-byte collisions matter should raise `segWords` — a collision
    * needs two distinct segments hashing equal AND co-resident docs.
    * Docs with no words are dropped (no segments to judge — keeps the
    * guard off `sequence(0, -1)`, which Spark generates DESCENDING). */
  def segmentDedup(docs: DataFrame, segWords: Int = 8, minDocs: Int = 2): DataFrame = {
    require(segWords >= 1 && minDocs >= 2,
      s"need segWords >= 1 (got $segWords), minDocs >= 2 (got $minDocs)")
    // Kernels, not a split-filter/transform-slice/lambda-hash chain: that
    // chain is CodegenFallback — interpreted per token in BOTH heavy jobs
    // (the segHashes checkpoint and the final excision projection, ~2.1 s
    // each of dd_segment_dedup's 5.4 s at sf1). The three kernels
    // (FastHash.wsSegments / distinctXxh64 / exciseSegs) compute the
    // identical values — same whitespace class, same chunking, Spark's
    // own XXH64 — locked by a DedupSimilaritySpec differential against
    // that Catalyst formulation.
    val base = docs
      .select(col("doc_id"),
        graft.functions.FastHash.wsSegmentsCol(col("text"), segWords).as("segs"))
      .filter(size(col("segs")) > 0)
    val segHashes = base.select(col("doc_id"),
      explode(graft.functions.FastHash.distinctXxh64Col(col("segs"))).as("sh"))
      .localCheckpoint()
    val dup = segHashes.groupBy("sh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("sh")
    val docDup = segHashes.join(broadcast(dup), "sh")
      .groupBy("doc_id").agg(collect_set(col("sh")).as("dup_sh"))
    base.join(docDup, Seq("doc_id"), "left")
      .withColumn("__k",
        graft.functions.FastHash.exciseSegsCol(col("segs"), col("dup_sh")))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segs"),
        col("__k._1").cast("long").as("n_dropped"),
        col("__k._2").as("clean_text"))
  }

  /** Duplicated-span EXCISION: drop every occurrence of a duplicated
    * n-word span except the globally first, and reassemble each
    * document's surviving words — the removal counterpart of
    * [[spanCoverage]] (exact-substring dedup at word-span granularity;
    * the public algorithm of Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", re-expressed over word n-grams
    * instead of token suffix arrays). "Duplicated" here counts
    * OCCURRENCES — a span repeated inside one document is excised too —
    * not [[spanCoverage]]'s distinct-document count; the canonical
    * occurrence is min (doc_id, pos), so the output is a pure function
    * of the corpus under any partitioning. Sub-document generalization
    * of the reference's hash-identity collapse
    * (`/root/reference/pkg/internal/types/element.go:28-37`), like
    * [[segmentDedup]] — that op removes at non-overlapping segment
    * granularity with a distinct-doc threshold; this one removes at
    * sliding-span granularity keeping one canonical copy.
    *
    * Scale shape (text never rides an exchange; 2 column-pruned scans):
    *  1. One corpus scan emits (doc_id, pos, gh) via the one-pass
    *     position-keeping span kernel
    *     ([[graft.functions.FastHash.spanHashesPos]]); the 20-byte rows
    *     are localCheckpoint'ed for the two consumers below (the decimal
    *     canonical key is derived AFTER the checkpoint — it is pure
    *     arithmetic and would otherwise inflate the materialization).
    *     NOTE: the checkpoint is an EAGER job at call time, like
    *     [[segmentDedup]].
    *  2. One partial-agged groupBy(gh) finds duplicated spans and their
    *     canonical occurrence — hot spans (the boilerplate this op
    *     hunts) combine MAP-SIDE before the exchange, and the result is
    *     bounded by the duplicated population, not the corpus. The
    *     canonical (doc_id, pos) min is taken over a base-2³² DECIMAL
    *     key (doc_id · 2³² + pos — order-preserving for any long doc_id
    *     since 0 ≤ pos < 2³², and 2⁶³·2³² fits Decimal(38) exactly):
    *     min over a fixed-width decimal stays a HashAggregate, where the
    *     direct min(struct(doc_id, pos)) formulation forces a
    *     SortAggregate — a per-partition SORT of the whole span table,
    *     the dominant cost at corpus scale (measured: the struct plan
    *     sorts occ twice at step 2; the key plan hash-aggregates both).
    *  3. Occurrences re-join that table by gh (longs only; AQE
    *     broadcasts it when it fits), the canonical row is dropped, and
    *     one (doc_id) exchange folds the excise starts into a per-doc
    *     array bounded by the doc's own span count.
    *  4. The narrow per-doc array joins back to the document row (AQE
    *     broadcasts the narrow side in the common case; at cluster scale
    *     bucket `docs` by doc_id so the text side never shuffles even
    *     under the sort-merge fallback) and a one-pass kernel
    *     re-tokenizes, unions overlapping spans, drops covered words,
    *     and reassembles ([[graft.functions.FastHash.exciseSpans]]).
    * Span identity is the 64-bit hash (the [[exact]] contract): a
    * collision needs two distinct spans hashing equal to cause an extra
    * excision; raise `n` if that matters for a given corpus. */
  def spanExcise(docs: DataFrame, n: Int = 10): DataFrame = {
    require(n >= 1, s"need n >= 1 (got $n)")
    // the decimal key is DERIVED after the checkpoint (pure arithmetic
    // over checkpointed columns) — materializing it would inflate the
    // 20 B/row span table, the scale-critical artifact, by ~the key width
    val occ = docs
      .select(col("doc_id"),
        posexplode(graft.functions.FastHash.spanHashesPosCol(col("text"), n))
          .as(Seq("pos", "gh")))
      .localCheckpoint()
      .withColumn("k",
        col("doc_id").cast("decimal(38,0)") * lit(4294967296L) + col("pos"))
    val canon = occ.groupBy("gh")
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("ck"))
      .filter(col("cnt") >= 2)
      .select("gh", "ck")
    val excStarts = occ.join(canon, "gh")
      .filter(col("k") =!= col("ck"))
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("starts"))
    docs.join(excStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.FastHash.exciseSpansCol(col("text"), col("starts"), n).as("r"))
      .select(col("doc_id"), col("r._1").as("n_words"), col("r._2").as("n_excised"),
        col("r._3").as("text_kept"))
  }

  private final case class SpanParams(n: Int, shards: Int) // v<N>/meta.json

  /** Persist the corpus's distinct span hashes as a versioned index for
    * [[probeSpanExcise]] — the incremental half of span-level dedup:
    * `v<N>/spans/` = (gh) partitioned into `shards` by pmod(gh),
    * `v<N>/meta.json` = [[SpanParams]]. Span hashes are computed once at
    * build; probes never re-read the corpus text. Same atomic
    * `v<N>`/`_current` publish as every other artifact
    * (graft.sources.Fs.writeVersioned — rename-based pointer swap,
    * concurrent probes keep reading the previous complete version).
    *
    * Scale shape: the distinct-within-doc span hashes
    * ([[graft.functions.FastHash.spanHashes]]) explode map-side and ONE
    * global distinct (partial-agged, so corpus-wide boilerplate combines
    * before the exchange) produces 8-byte rows — roughly 1% of the text
    * bytes they summarize. The shard partition column gives probes
    * parallel scans and gives a cluster deployment a fixed key space to
    * co-partition batch spans against; at 100 TB additionally front the
    * exact semi-join with a [[bloomShards]]-style prefilter so only
    * candidate spans reach it. */
  def buildSpanIndex(docs: DataFrame, path: String, n: Int = 10,
                     shards: Int = 64): Unit = {
    val spark = docs.sparkSession
    require(n >= 1 && shards >= 1,
      s"need n >= 1 (got $n), shards >= 1 (got $shards)")
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      docs
        .select(explode(
          graft.functions.FastHash.spanHashesCol(col("text"), n)).as("gh"))
        .distinct()
        .withColumn("shard", pmod(col("gh"), lit(shards)).cast("int"))
        .write.mode("overwrite").partitionBy("shard").parquet(s"$vdir/spans")
      graft.sources.Fs.writeMeta(spark, vdir, SpanParams(n, shards))
    }
    ()
  }

  /** Excise from arriving docs every n-word span the indexed corpus
    * already contains — the INCREMENTAL twin of [[spanExcise]]. There the
    * corpus excises against itself keeping one canonical occurrence;
    * here the corpus IS the canonical and the batch sheds whatever it
    * repeats. The span width comes from the persisted params, so probe
    * and index can never disagree on what a span is. STATELESS over the
    * batch (within-batch duplication is [[spanExcise]] on the batch, not
    * this probe), so the same call serves a streaming foreachBatch —
    * stream ≡ batch locked by differential spec. Output schema =
    * [[spanExcise]]'s (doc_id, n_words, n_excised, text_kept).
    *
    * Shuffle shape: batch spans and index rows meet in a LEFT SEMI join
    * on the 8-byte hash — text never rides it, and the index side
    * contributes nothing downstream of the join, so Spark prunes it to
    * the single gh column at scan time. */
  def probeSpanExcise(spark: org.apache.spark.sql.SparkSession, path: String,
                      batch: DataFrame): DataFrame = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no span index at $path (missing _current pointer — " +
        "run buildSpanIndex first)")
    val n = graft.sources.Fs.readMeta[SpanParams](spark, vdir,
      "run buildSpanIndex").n
    val occ = batch.select(col("doc_id"),
      posexplode(graft.functions.FastHash.spanHashesPosCol(col("text"), n))
        .as(Seq("pos", "gh")))
    // explicit schema: an index built from a corpus with no spans at all
    // (every doc shorter than n words) writes zero data files, and a
    // schema-inferred read of that would fail instead of excising nothing
    // (and, the schema being given, Fs.readParquet would save no job)
    val idx = spark.read.schema("gh LONG, shard INT")
      .parquet(s"$vdir/spans").select("gh")
    val starts = occ.join(idx, Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("starts"))
    batch.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.FastHash.exciseSpansCol(col("text"), col("starts"), n).as("r"))
      .select(col("doc_id"), col("r._1").as("n_words"), col("r._2").as("n_excised"),
        col("r._3").as("text_kept"))
  }

  /** k-shingle (word n-gram) set of a document, as distinct strings.
    * transform over a sliding window of the token array — pure codegen. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = filter(TextAnalytics.words(text), w => length(w) > 0)
    if (n == 1) array_distinct(toks)
    else array_distinct(
      filter(
        transform(toks, (_, i) =>
          when(i <= size(toks) - n,
            concat_ws(" ", slice(toks, i + 1, lit(n))))),
        s => s.isNotNull))
  }

  /** Kernel twin of [[wordShingles]] for corpus-scale paths: identical
    * tokenization (Unicode lowercase, `[^a-z]+` separators) and the same
    * distinct shingle-string output, in ONE JVM call per document —
    * [[wordShingles]]' higher-order functions (transform/slice/filter)
    * are CodegenFallback (interpreted), measured ~10× slower per scan at
    * sf0.1, the same trade [[minhashSignature]] documents.
    * DedupSimilaritySpec differential-locks kernel ≡ Catalyst on the
    * documents fixture. */
  def wordShingleSet(text: String, n: Int): Array[String] = {
    if (text == null) return null // the Catalyst twin is null-propagating
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z]+").filter(_.nonEmpty)
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]() // first-seen order, like array_distinct
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[String](seen.size)
    seen.toArray(out)
    out
  }

  private val wordShingleSetUdf =
    org.apache.spark.sql.functions.udf(wordShingleSet _)

  /** Column form of [[wordShingleSet]]. */
  def wordShinglesKernel(text: Column, n: Int): Column =
    wordShingleSetUdf(text, lit(n))

  /** MinHash signature over word n-gram shingles — kernel-backed
    * (graft.functions.FastHash): the pure-Catalyst fold formulation is
    * CodegenFallback (interpreted) and ~20x slower at sf0.1. */
  def minhashSignature(text: Column, shingleN: Int, k: Int): Column =
    graft.functions.FastHash.minhashCol(text, shingleN, k)

  /** LSH banding: split the k-length signature into `bands` bands of
    * k/bands rows each; each band hashes to one bucket key. */
  def lshBands(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), xxhash64(slice(sig, b * r + 1, r)).as("bucket"))): _*)
  }

  /** MinHash+LSH near-duplicate candidate pairs with estimated Jaccard
    * (fraction of matching signature positions). Returns
    * (a_id, b_id, est_jaccard) for pairs whose estimate ≥ threshold.
    *
    * Shuffle shape at scale: candidate generation is ONE aggregation over
    * (band, bucket, doc_id) rows — the 512-byte signature never rides the
    * candidate exchange (at 16 bands that would be ~8 KB per doc), and
    * there is no bucket self-join at all. Candidate pairs are distinct'd
    * as bare (a_id, b_id), then the signature table is joined back twice
    * by id to score them — each doc's signature crosses the wire once, not
    * once per band, and at scale Spark's ReuseExchange serves both sig
    * joins from one shuffle of the signature table. */
  def minhashPairs(docs: DataFrame, shingleN: Int = 2, k: Int = 64,
                   bands: Int = 16, threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame = {
    val sigs = docs
      .select(col("doc_id"), minhashSignature(col("text"), shingleN, k).as("sig"))
      // docs with fewer than shingleN tokens produce the sentinel
      // all-Long.MaxValue signature; they have no similarity basis and would
      // otherwise all collide into one bucket (false dup pairs + an O(m²)
      // hot bucket). Drop them from candidate generation.
      .filter(element_at(col("sig"), 1) =!= Long.MaxValue)
    import org.apache.spark.sql.graft.CappedLongCollect.cappedLongCollect
    val buckets = sigs
      .select(col("doc_id"), explode(lshBands(col("sig"), k, bands)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    // candidate generation as ONE aggregation (no bucket self-join): group
    // ids per (band, bucket) with the capped collect — a degenerate bucket
    // holding > maxBucket docs would explode into O(m²) pairs and is
    // dropped inside the aggregate, the standard LSH hot-bucket guard —
    // then emit each bucket's id-pairs and dedup across bands
    val pairs = buckets.groupBy("band", "bucket")
      .agg(cappedLongCollect(col("doc_id"), maxBucket).as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
      .select(explode(idPairsUdf(col("ds"))).as("p"))
      .select(col("p._1").as("a_id"), col("p._2").as("b_id"))
      .distinct()
    verifyBySig(pairs, sigs, sigs, "a_id", "b_id", threshold)
  }

  /** 64-bit SimHash over word tokens: bit j of the hash is the sign of the
    * sum over tokens of ±1 according to bit j of the token hash —
    * kernel-backed, map-side only. */
  def simhash64(text: Column): Column =
    graft.functions.FastHash.simhashCol(text)

  /** SimHash near-duplicate candidates: band the 64 bits into
    * `maxHamming + 1` keys — by pigeonhole, any pair within Hamming
    * distance maxHamming shares at least one full band, so candidate
    * generation is recall-complete for the requested distance. Exact
    * Hamming distance is then computed on the candidates only.
    *
    * Unlike [[minhashPairs]] (whose fine-grained buckets hold only true
    * near-dup candidates, so a capped collect-and-explode is fine), the
    * 16-bit simhash bands produce NATURALLY POPULOUS buckets — the r5 sf1
    * rehearsal measured the collect-and-explode variant 5× slower than a
    * self-join because each bucket's quadratic pair emit ran in ONE task.
    * So candidate generation here stays a distributed self-join, but over
    * buckets pre-filtered through a size window: a one-pass (band, bucket)
    * rank drops singleton buckets and TRUNCATES hot buckets to their
    * first `maxBucket` members (deterministic doc_id order) before any
    * pair exists. Truncation, not wholesale drop: a mega-cluster of exact
    * duplicates concentrates in one bucket, and dropping it entirely
    * (the r4→r5 interim behavior) silently lost exactly the pairs dedup
    * most needs. So recall is complete for pairs whose shared bucket
    * holds ≤ maxBucket members; beyond the cap, the first maxBucket
    * members still pair (and connected components still merges them)
    * while the tail is cut — the same bounded-truncation contract as
    * [[minhashPairs]]'s capped collect. The 64-bit simhash rides the band
    * exchange — it is ONE long
    * (the minhash rule against signature arrays in the exchange is about
    * KB-wide payloads), which lets the Hamming filter run on the join
    * output directly so only the ≤ maxHamming SURVIVORS reach the
    * distinct's shuffle; re-joining sims by id instead was measured 5×
    * slower at sf1 because the full quadratic candidate set crossed the
    * wire three times. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 5000): DataFrame = {
    val withSim = docs.select(col("doc_id"), simhash64(col("text")).as("simhash"))
      // zero-token docs hash to exactly 0 and would all pair with each
      // other; a real doc hashing to 0 has probability 2^-64
      .filter(col("simhash") =!= 0L)
    hammingPairs64(withSim, "simhash", maxHamming, maxBucket)
  }

  /** The 64-bit band decomposition shared by every Hamming consumer
    * (pair generation below, the persisted hash index in
    * [[Multimodal]]): `nBands` contiguous bit ranges as (band, bucket)
    * structs. One definition — an index built and probed with different
    * band layouts would silently lose its pigeonhole recall. */
  private[graft] def bands64(hash: Column, nBands: Int): Column = {
    require(nBands >= 1 && nBands <= 64, s"need 1..64 bands: $nBands")
    val bounds = (0 to nBands).map(b => b * 64 / nBands)
    array((0 until nBands).map { b =>
      val width = bounds(b + 1) - bounds(b)
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(b).as("band"),
        shiftright(hash, bounds(b)).bitwiseAND(mask).as("bucket"))
    }: _*)
  }

  /** Banded Hamming-distance pairing over ANY 64-bit perceptual hash
    * column — the candidate machinery [[simhashPairs]] always used,
    * extracted verbatim so other 64-bit hashes (image dHash —
    * [[Multimodal.imageNearDups]], audio constellations) share one
    * implementation. Expects (doc_id, `hashCol`) rows; returns
    * (a_id, b_id, hamming ≤ maxHamming). Pigeonhole recall,
    * size-windowed self-join, Hamming filter before the distinct — see
    * [[simhashPairs]]'s scaladoc for the scale rationale of each step. */
  private[graft] def hammingPairs64(withHash: DataFrame, hashCol: String,
                                    maxHamming: Int, maxBucket: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= 64, s"maxHamming $maxHamming needs more bands than bits")
    val banded = withHash.select(col("doc_id"), col(hashCol).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        explode(bands64(col("simhash"), nBands)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    // size window via partition-count + rank window functions: one
    // (band,bucket) exchange that the self-join below then reuses — a
    // groupBy+join formulation computed the banded subtree twice and cost
    // ~0.7 s extra at sf0.1. Worst-case join cost per hot bucket is
    // maxBucket² rows born-and-filtered inside one task — size maxBucket
    // accordingly
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val eligible = banded
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy("doc_id")))
      .filter(col("n") >= 2 && col("rn") <= maxBucket)
      .drop("n", "rn")
    val a = eligible.select(col("band"), col("bucket"), col("doc_id").as("a_id"), col("simhash").as("a_sim"))
    val b = eligible.select(col("band"), col("bucket"), col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      // Hamming filter BEFORE the distinct: pairs are born and die inside
      // the join tasks; only survivors shuffle for cross-band dedup
      .withColumn("hamming", bit_count(col("a_sim").bitwiseXOR(col("b_sim"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming").distinct()
  }

  /** Winnowing-fingerprint overlap candidates: documents sharing ≥
    * `minShared` rolling-hash fingerprints (detects PARTIAL overlap —
    * shared passages of ≥ w+k-1 chars — which whole-document hashing and
    * token-set similarity both miss).
    *
    * Single corpus pass: explode (fingerprint, doc_id) once, group by
    * fingerprint with a CAPPED collect (hot-key guard inside the
    * aggregate — a fingerprint shared by more than `maxDocFreq` docs is
    * boilerplate and evaluates to NULL before it can buffer unboundedly or
    * explode into O(df²) pairs), then emit each group's id-pairs and count
    * shared fingerprints per pair. The earlier self-join formulation
    * referenced the fingerprint frame four times, and Spark re-derived it —
    * four full corpus scans each re-running the winnow UDF; this shape runs
    * the UDF exactly once. */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
                         minShared: Int = 2, maxDocFreq: Int = 100): DataFrame = {
    import org.apache.spark.sql.graft.CappedLongCollect.cappedLongCollect
    val fps = docs
      .select(col("doc_id"),
        explode(graft.functions.FastHash.winnowCol(col("text"), k, w)).as("fp"))
    // a doc's fingerprints are distinct (winnow dedups), so group members
    // are distinct doc_ids and pair counts = shared-fingerprint counts
    val groups = fps.groupBy("fp")
      .agg(cappedLongCollect(col("doc_id"), maxDocFreq).as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
    groups
      .select(explode(idPairsUdf(col("ds"))).as("p"))
      .select(col("p._1").as("a_id"), col("p._2").as("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** All (a<b) pairs from a sorted id array — group sizes are bounded by
    * the collect cap, so output is at most cap·(cap−1)/2 rows per group.
    * Shared with [[Similarity.cosineNearDupPairs]] (same LSH-bucket shape). */
  private[operators] val idPairsUdf = udf { (ids: Array[Long]) =>
    val out = new Array[(Long, Long)](ids.length * (ids.length - 1) / 2)
    var w = 0
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length) { out(w) = (ids(i), ids(j)); w += 1; j += 1 }
      i += 1
    }
    out
  }

  /** Sampled all-pairs word-set Jaccard (the exact verifier / oracle query).
    * `sampleMod` keeps one doc in `sampleMod`, bounding pairs to (n/m)²/2.
    */
  def jaccardPairs(docs: DataFrame, sampleMod: Int, threshold: Double): DataFrame =
    sampledSetJaccard(docs, graft.functions.FastHash.tokenSetCol(col("text")),
      sampleMod, threshold)

  /** Sampled all-pairs character n-gram Jaccard: the set is char n-grams of
    * the normalized text rather than word tokens — catches typo-level and
    * word-boundary near-dups word sets miss. Same sampled-verifier role as
    * [[jaccardPairs]]; the scale path for char-level similarity is
    * minhashPairs over char shingles. */
  def charNgramJaccardPairs(docs: DataFrame, n: Int = 3, sampleMod: Int = 10,
                            threshold: Double = 0.6): DataFrame =
    sampledSetJaccard(docs, graft.functions.FastHash.charNgramSetCol(col("text"), n),
      sampleMod, threshold)

  private def sampledSetJaccard(docs: DataFrame, setCol: Column,
                                sampleMod: Int, threshold: Double): DataFrame = {
    // Sets as sorted distinct 64-bit hashes; pair intersection by linear
    // merge (FastHash kernel). The sampled sets are broadcast as two
    // parallel arrays (id-sorted) and the O(n²) triangle runs as a
    // strided mapPartitions loop — a crossJoin+UDF form materializes all
    // n(n-1)/2 candidate rows through codegen and pays two hash-map
    // lookups + tuple boxing per pair just to apply the size prune; the
    // loop touches plain arrays by index and only ever EMITS surviving
    // pairs (guide §1.2 "per-task work" — dd_ngram_jaccard 0.45 → ~0.2 s
    // at sf0.1, same value set, and the same constant-factor cut on the
    // sf1 verifier feeding dd_cluster / dd_keep_best). The sample is small by construction (that's what
    // makes the quadratic verifier usable); the scalable near-dup path is
    // minhashPairs.
    val spark = docs.sparkSession
    import spark.implicits._
    val sets = docs.filter(col("doc_id") % sampleMod === 0)
      .select(col("doc_id"), setCol.as("w"))
      .as[(Long, Array[Long])].collect()
    // the quadratic verifier is only usable because the sample is small —
    // enforce the bound instead of assuming it (pairs = n(n-1)/2)
    require(sets.length <= maxVerifierSample,
      s"sampled verifier got ${sets.length} docs (cap $maxVerifierSample); " +
        s"raise sampleMod — the scalable near-dup path is minhashPairs")
    // id-sorted snapshot: ids(i) < ids(j) for i < j, so the triangular
    // loop below enumerates exactly the a_id < b_id pair set. STRICTLY
    // increasing is asserted: doc_id is a key in every fixture, but a
    // duplicated id here would silently emit self-pairs — a crossJoin
    // form dedupes via toMap, this array form must not regress that
    // quietly.
    val byId = sets.sortBy(_._1)
    for (i <- 1 until byId.length)
      require(byId(i - 1)._1 < byId(i)._1,
        s"duplicate doc_id ${byId(i)._1} in the sampled verifier input — " +
          "doc_id must be unique (a duplicate would emit self-pairs)")
    val ids = byId.map(_._1)
    val arrs = byId.map(_._2)
    val bc = spark.sparkContext.broadcast((ids, arrs))
    val thr = threshold
    // one row per task; each task takes the strided rows i ≡ t (mod T) of
    // the triangle so per-task pair counts balance (contiguous ranges
    // would give the first task n-1 pairs and the last one 0)
    val nTasks = math.max(1, spark.sparkContext.defaultParallelism)
    spark.range(0, nTasks.toLong, 1, nTasks)
      .mapPartitions { it =>
        // The merge itself early-exits. need(S) = the minimum
        // intersection that can pass `jaccard >= thr` under the SAME
        // double comparison the filter applies (J(x) = x/(S−x) monotone;
        // PropertySpec differential-locks decision equality against the
        // plain kernel). The size prune is the need-check's mn < need
        // special case: J(mn) = mn/mx, so mn < need ⟺ mn/mx < thr —
        // boundary ratios (== threshold, A ⊆ B) still take the kernel.
        // Dissimilar pairs (the vast majority) abort ~(1−thr)/(1+thr)·S
        // steps into the merge instead of walking all of it. The
        // enumeration itself is allocation-free: a lengths array keeps
        // pruned pairs from ever dereferencing the hash arrays (5k × 2.3 KB
        // sets blow every cache level, so even the header touch would be a
        // DRAM miss per pruned pair), need(S) is memoized per task
        // (S ≤ 2·maxLen), and survivors collect into a buffer per row
        // instead of a per-pair Iterator chain (~12.5M Iterator/closure
        // allocations at the sf1 verifier size). Decisions and emitted
        // tuples (and their order) are those of the plain per-pair loop.
        val (ids, arrs) = bc.value
        val n = ids.length
        val lens = new Array[Int](n)
        var li = 0
        while (li < n) { lens(li) = arrs(li).length; li += 1 }
        var maxLen = 0
        li = 0
        while (li < n) { if (lens(li) > maxLen) maxLen = lens(li); li += 1 }
        val needBy = new Array[Int](2 * maxLen + 1)
        java.util.Arrays.fill(needBy, -1)
        def needFor(s: Int): Int = {
          var v = needBy(s)
          if (v < 0) { v = graft.functions.FastHash.minInterFor(s, thr); needBy(s) = v }
          v
        }
        it.flatMap { t =>
          Iterator.range(t.toInt, n, nTasks).flatMap { i =>
            val a = arrs(i)
            val la = lens(i)
            val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Int, Double)]()
            var j = i + 1
            while (j < n) {
              val lb = lens(j)
              val s = la + lb
              // two empty sets give uni = 0 (0/0 = NaN upstream in SQL) —
              // excluded exactly as the SQL oracles exclude such docs
              if (s > 0 && math.min(la, lb) >= needFor(s)) {
                val packed =
                  graft.functions.FastHash.interUnionBounded(a, arrs(j), needFor(s))
                if (packed >= 0) {
                  val inter = (packed >> 32).toInt
                  val uni = packed.toInt
                  val jac = inter.toDouble / uni.toDouble
                  if (jac >= thr) out += ((ids(i), ids(j), inter, uni, jac))
                }
              }
              j += 1
            }
            out.iterator
          }
        }
      }
      .toDF("a_id", "b_id", "inter", "uni", "jaccard")
  }

  /** Hard cap on the sampled quadratic verifiers ([[jaccardPairs]],
    * [[charNgramJaccardPairs]]): 20k docs ⇒ ≤ 2·10⁸ candidate pairs. */
  val maxVerifierSample: Int = 20000

  // ---- incremental LSH index (the realistic 100 TB dedup workflow:
  //      dedupe arriving batches against the historical corpus without
  //      recomputing it) ----

  private final case class LshParams(shingleN: Int, k: Int, bands: Int, maxBucket: Int)

  /** Persist a MinHash+LSH index: `v<N>/bands/` = (band, bucket, doc_id)
    * PARTITIONED BY band, `v<N>/sigs/` = (doc_id, sig), `v<N>/meta.json` =
    * the [[LshParams]] (probes read them back, so probe and index can
    * never disagree on the bucket space). Signatures of the historical
    * corpus are computed exactly once, at build time — every subsequent
    * [[probeLshIndex]] call reads them back instead of re-tokenizing
    * petabytes.
    *
    * Builds are ATOMIC to concurrent probes: each build writes a complete
    * new `v<N>` directory and then flips `_current` to it via a rename
    * (Fs.publishVersion) — a probe running mid-rebuild keeps reading the
    * previous complete version, never a mix. The immediately superseded
    * version is retained for such in-flight readers; strictly older ones
    * are pruned.
    *
    * Hot buckets are dropped at build time: a bucket holding more than
    * `maxBucket` docs (degenerate boilerplate) would fan every colliding
    * probe doc out maxBucket-fold; the same guard [[minhashPairs]] applies
    * via its capped collect. */
  def buildLshIndex(docs: DataFrame, path: String, shingleN: Int = 2,
                    k: Int = 64, bands: Int = 16, maxBucket: Int = 1000): Unit = {
    val spark = docs.sparkSession
    // rename-based pointer swap on return; retains the immediately-previous
    // version for in-flight probes, prunes strictly older ones
    graft.sources.Fs.writeVersioned(spark, path) { vdir =>
      val sigs = docs
        .select(col("doc_id"), minhashSignature(col("text"), shingleN, k).as("sig"))
        .filter(element_at(col("sig"), 1) =!= Long.MaxValue)
      sigs.write.mode("overwrite").parquet(s"$vdir/sigs")
      val allBands = graft.sources.Fs.readParquet(spark, s"$vdir/sigs")
        .select(col("doc_id"), explode(lshBands(col("sig"), k, bands)).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
      val hot = allBands.groupBy("band", "bucket")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
        .select("band", "bucket")
      allBands.join(hot, Seq("band", "bucket"), "left_anti")
        .write.mode("overwrite").partitionBy("band").parquet(s"$vdir/bands")
      graft.sources.Fs.writeMeta(spark, vdir, LshParams(shingleN, k, bands, maxBucket))
    }
    ()
  }

  /** Verify candidate pairs by stored-signature agreement — shared by the
    * batch ([[minhashPairs]]) and incremental ([[probeLshIndex]]) paths so
    * the scoring semantics can never diverge between them. */
  private def verifyBySig(candidates: DataFrame, aSigs: DataFrame, bSigs: DataFrame,
                          aKey: String, bKey: String, threshold: Double): DataFrame =
    candidates
      .join(aSigs.select(col("doc_id").as(aKey), col("sig").as("a_sig")), aKey)
      .join(bSigs.select(col("doc_id").as(bKey), col("sig").as("b_sig")), bKey)
      .withColumn("est_jaccard",
        graft.functions.FastHash.sigAgreementCol(col("a_sig"), col("b_sig")))
      .filter(col("est_jaccard") >= threshold)
      .select(col(aKey), col(bKey), col("est_jaccard"))

  /** Probe new docs against a persisted index: candidate = any (band,
    * bucket) collision between a new doc and an indexed doc, verified by
    * signature agreement. The historical corpus contributes only its
    * (band, bucket, id) rows and, for the candidates that survive, their
    * stored signatures by id — its text is never read again. Emits
    * (new_id, idx_id, est_jaccard); new-vs-new duplicates are
    * [[minhashPairs]] on the batch, not this probe. */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    newDocs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val vdir = graft.sources.Fs.resolveCurrent(spark, path,
      s"no LSH index at $path (missing _current pointer — " +
        "run buildLshIndex first)")
    // parameters come FROM the index, so probe and index bucket spaces
    // cannot disagree (hot buckets were already dropped at build time)
    val LshParams(shingleN, k, bands, _) =
      graft.sources.Fs.readMeta[LshParams](spark, vdir, "run buildLshIndex")
    val newSigs = newDocs
      .select(col("doc_id"), minhashSignature(col("text"), shingleN, k).as("sig"))
      .filter(element_at(col("sig"), 1) =!= Long.MaxValue)
    val newBands = newSigs
      .select(col("doc_id").as("new_id"), explode(lshBands(col("sig"), k, bands)).as("bb"))
      .select(col("new_id"), col("bb.band"), col("bb.bucket"))
    val idxBands = graft.sources.Fs.readParquet(spark, s"$vdir/bands")
      .select(col("band"), col("bucket"), col("doc_id").as("idx_id"))
    val candidates = newBands.join(idxBands, Seq("band", "bucket"))
      .select("new_id", "idx_id").distinct()
    verifyBySig(candidates, newSigs,
      graft.sources.Fs.readParquet(spark, s"$vdir/sigs"), "new_id", "idx_id", threshold)
  }

  /** Connected components over a near-dup pair graph — the last step of a
    * dedup pipeline: pairs → clusters → one canonical doc per cluster
    * (cluster_id = min doc_id in the component; a doc is canonical iff
    * doc_id == cluster_id). Generalizes the reference's requeue-by-id
    * collapse (`/root/reference/pkg/internal/resister/queue.go:65-83`) from
    * identical ids to transitive near-dup identity.
    *
    * Scale design: iterative min-label propagation with POINTER JUMPING,
    * fused into ONE materialization per round — an edges⋈labels join +
    * min-agg pulls each node's best neighbor label, and in the same plan a
    * labels⋈labels join replaces every label by its (previous round's)
    * label's label. The jump halves the distance to the component minimum
    * each round, so convergence is O(log diameter) iterations (25 rounds
    * cover diameter well past 2³⁰), not O(diameter) as plain propagation
    * would be. Labels are monotone non-increasing, so convergence is
    * detected by an aggregate sum (no extra join), and each round's
    * materialization truncates lineage. Shuffle width is always
    * (long, long): the text never enters the component computation.
    *
    * Checkpoint modes: by default rounds are `localCheckpoint`ed
    * (executor-local blocks — fastest, and correct on a healthy cluster);
    * pass `checkpointDir` for RELIABLE `checkpoint()` on shared storage,
    * the 100 TB posture — a lost executor then costs a re-read of the
    * last round from DFS instead of recomputing the loop from its start
    * (localCheckpoint'ed lineage is TRUNCATED, so a lost block is fatal
    * to the job, which is fine for short loops and wrong for hour-long
    * ones). Both modes produce identical labels (spec-locked); reliable
    * rounds keep the same pre-partitioned edge side, since Dataset
    * checkpoints preserve outputPartitioning.
    *
    * @param nodes one column `idCol`; singletons come out as their own
    *              cluster
    * @param pairs columns (`a_id`, `b_id`) — undirected, any orientation
    * @param checkpointDir reliable-checkpoint directory (DFS path on a
    *                      cluster); None = executor-local checkpoints
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          idCol: String = "doc_id", maxIter: Int = 25,
                          checkpointDir: Option[String] = None): DataFrame = {
    val sc = nodes.sparkSession.sparkContext
    val prevCkDir = sc.getCheckpointDir
    // a fresh per-call subdirectory: checkpoint files outlive the returned
    // frame and accumulate for the SparkContext lifetime (the context
    // cleaner reclaims them only with spark.cleaner.referenceTracking
    // .cleanCheckpoints=true), so scoping each run lets the caller delete
    // the whole tree once the labels are materialized downstream
    checkpointDir.foreach(d => sc.setCheckpointDir(
      d + "/cc-" + java.util.UUID.randomUUID().toString.take(8)))
    // each materialization's jobs carry `label`; the caller's own job
    // description is back in place once it returns or throws
    def materialize(label: String, df: DataFrame): DataFrame =
      graft.Session.withJobLabel(sc, label) {
        if (checkpointDir.isDefined) {
          // persist before checkpoint: the eager materialization and the
          // reliable DFS write are SEPARATE jobs, and an unpersisted plan
          // would be recomputed from scratch by the write job — doubling
          // every round of exactly the long loops this mode exists for
          val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val out = cached.checkpoint()
          cached.unpersist(blocking = false)
          out
        } else df.localCheckpoint()
      }
    try {
    // materialize the edge set once: it is re-joined EVERY iteration, and
    // without the checkpoint Spark would recompute the (possibly expensive)
    // pair-generation subtree each round. Pre-partitioning by the join key
    // means only the (small) labels side shuffles on each pull —
    // localCheckpoint preserves outputPartitioning, so the exchange on the
    // edge side happens exactly once for the whole loop.
    val edges = materialize("cc: materialize edges",
      pairs.select(col("a_id").as("u"), col("b_id").as("v"))
        .unionAll(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
        .repartition(col("v")))
    // the initial checksum rides the label-materialization job as an
    // observed metric — a separate `labels.agg(...).head()` would be one
    // more full pass over the node set (and one more Spark job) per call,
    // purely to read a sum the checkpoint job already computes
    val obs0 = org.apache.spark.sql.Observation()
    var labels = materialize("cc: materialize labels",
      nodes.select(col(idCol).as("id"), col(idCol).as("lbl"))
        .observe(obs0, coalesce(sum("lbl"), lit(0L)).as("s"))) // empty input sums to null
    var converged = false
    var iter = 0
    var checksum = obs0.get("s").asInstanceOf[Long]
    while (!converged && iter < maxIter) {
      // ONE materialization per round (a pull job then a jump job would
      // recompute the pull subtree twice through the un-checkpointed
      // self-join). Both label-improvement sources derive from the
      // MATERIALIZED previous round and fold into a single least():
      //   nmin — min label over graph neighbors (the pull; its fixed point
      //          is the convergence certificate: labels only decrease, so
      //          an unchanged sum means lbl(u) <= lbl(v) across every
      //          symmetric edge, i.e. labels are constant per component);
      //   plbl — the label's own label (pointer jump, one round stale:
      //          simultaneous rather than post-pull, which can cost an
      //          extra cheap round but saves a materialization every
      //          round — measured net-positive at sf0.1).
      // Three acceleration variants are REJECTED. Measured at sf1: a
      // jump-of-jump (lbl³ in the same least()) cut zero rounds — dup
      // graphs are near-cliques, so propagation, not pointer depth, binds
      // — and a fused double pull cut rounds 5→3 but its second edges⋈m1
      // join recomputes the un-checkpointed first hop, nearly doubling
      // per-round cost (8.9 → 9.1 s net). The third, folding pull + jump +
      // self through one union + partial-min (fewer stages, parallel
      // joins, value-identical per round), crashes Spark's
      // Union.rewriteConstraints (key not found) at the localCheckpoint's own
      // LogicalRDD.rewriteStatsAndConstraints walk whenever the
      // optimizer collapses the branch aliases back to shared attribute
      // ids and the node lineage carries filter constraints (reproduced
      // on dd_cluster). This
      // single-pull + stale-jump round is the measured optimum; the
      // remaining sf1 cost is the pair GENERATION feeding
      // [[connectedComponents]], not the loop. The convergence checksum
      // rides the checkpoint job as an observed metric — one action per
      // iteration, no separate sum job.
      val obs = org.apache.spark.sql.Observation()
      val nbrMin = edges.join(labels, edges("v") === labels("id"))
        .groupBy("u").agg(min("lbl").as("nmin"))
      val parent = labels.select(col("id").as("pid"), col("lbl").as("plbl"))
      val next = materialize(s"cc: round $iter", labels
        .join(nbrMin, labels("id") === nbrMin("u"), "left")
        .join(parent, labels("lbl") === col("pid"), "left")
        .select(col("id"), least(col("lbl"),
          coalesce(col("nmin"), col("lbl")),
          coalesce(col("plbl"), col("lbl"))).as("lbl"))
        .observe(obs, coalesce(sum("lbl"), lit(0L)).as("s")))
      val nextSum = obs.get("s").asInstanceOf[Long]
      converged = nextSum == checksum // labels only ever decrease
      checksum = nextSum
      labels = next
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter " +
      "iterations — the pair graph has pathological diameter; raise maxIter")
    labels.select(col("id").as(idCol), col("lbl").as("cluster_id"))
    } finally {
      // restore the application's checkpoint dir — this function must not
      // silently repoint other jobs' reliable checkpoints. (If none was
      // set before, the per-call subdir remains set; SparkContext has no
      // unset, and a stray dir is harmless where a REPOINTED one is not.)
      if (checkpointDir.isDefined) prevCkDir.foreach(sc.setCheckpointDir)
    }
  }
}
