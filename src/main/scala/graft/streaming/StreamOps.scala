package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming surface of the engine (SURVEY §7.5): event-time
  * windows, watermarked dedupe, observed meters. The reference's streaming
  * runtime (goroutine wires + channel queues) maps wholesale onto Spark's
  * micro-batch engine; these helpers pin down the exact configurations that
  * reproduce its semantics.
  */
object StreamOps {

  /** Typed result of [[assignStream]]'s per-vector argmin. */
  final case class Assigned(assigned_label: Int, d2: Long)

  /** Event-time column from the engine's canonical epoch-nanos BIGINT.
    * Integer division (`div`), not `/`: double division rounds half the
    * sub-µs remainders up, off-by-one vs the batch queries' `ts div 1000`. */
  def eventTime(nsCol: String): org.apache.spark.sql.Column =
    timestamp_micros(expr(s"$nsCol div 1000"))

  /** Tumbling event-time window counts + sums with a watermark — the
    * streaming twin of Relational.q08 (A3 rate meters,
    * `/root/reference/pkg/internal/types/meter.go:13-18`). State is bounded
    * by the watermark: late data beyond `lateness` is dropped, so state
    * size is O(windows in flight), independent of stream length. */
  def tumblingCounts(events: DataFrame, nsCol: String, window: String,
                     lateness: String): DataFrame =
    events
      .withColumn("event_time", eventTime(nsCol))
      .withWatermark("event_time", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("n"), col("sum_value"))

  /** Session windows with a gap timeout — the streaming twin of
    * Relational.q15Sessionize, using Spark's native `session_window`
    * (state bounded by the watermark; sessions merge as late-but-in-bounds
    * events arrive). */
  def sessionCounts(events: DataFrame, nsCol: String, keyCol: String,
                    gap: String, lateness: String): DataFrame =
    events
      .withColumn("event_time", eventTime(nsCol))
      .withWatermark("event_time", lateness)
      .groupBy(session_window(col("event_time"), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))

  /** Watermarked streaming dedupe (A7 streaming form): exactly the
    * reference's requeue-collapse identity but with state bounded by the
    * watermark (`dropDuplicatesWithinWatermark`, Spark 3.5+). */
  def dedupeWithinWatermark(events: DataFrame, nsCol: String, idCols: Seq[String],
                            lateness: String): DataFrame =
    events
      .withColumn("event_time", eventTime(nsCol))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join — the streaming twin of the batch range
    * join (Temporal.rangeJoin): left events match right events on `keyCol`
    * within `[left.ts, left.ts + windowSpec]`. Both sides are watermarked,
    * and the join condition carries the time bound, so each side's buffered
    * state is evicted once the other side's watermark passes it — bounded
    * state, the stream-stream analogue of the reference's conduit fan-in
    * (`/root/reference/pkg/internal/conduit/wiring.go:81-98`) with an
    * event-time correlation instead of arrival-order merging. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         nsCol: String, windowSpec: String,
                         lateness: String): DataFrame = {
    // working names are reserved: a caller column with the same name would
    // make the join condition ambiguous or corrupt the output contract
    val reserved = Seq("__ivj_ltime", "__ivj_key", "__ivj_rtime", "r_row")
    // case-insensitive: Spark column resolution is, so "R_ROW" would
    // silently collide past a case-sensitive check
    val clash = (left.columns ++ right.columns).filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty, s"input columns collide with reserved names: ${clash.mkString(", ")}")
    val l = left.withColumn("__ivj_ltime", eventTime(nsCol))
      .withWatermark("__ivj_ltime", lateness)
    val r = right.select(col(keyCol).as("__ivj_key"),
        eventTime(nsCol).as("__ivj_rtime"),
        struct(right.columns.map(col): _*).as("r_row"))
      .withWatermark("__ivj_rtime", lateness)
    l.join(r,
      col(keyCol) === col("__ivj_key") &&
        col("__ivj_rtime") >= col("__ivj_ltime") &&
        col("__ivj_rtime") <= col("__ivj_ltime") + expr(s"INTERVAL $windowSpec"))
      .drop("__ivj_key", "__ivj_ltime", "__ivj_rtime")
  }

  /** Streaming curation (the streaming twin of the batch dsCurate funnel):
    * stateless quality gate (length + word count — pure projections, so
    * every batch text filter composes here unchanged) followed by
    * bag-of-words-fingerprint dedup with state bounded by the watermark.
    * Arriving near-boilerplate that reorders words still collapses, exactly
    * as in the batch operator. */
  def curateStream(docs: DataFrame, nsCol: String, lateness: String,
                   minChars: Int = 100, minWords: Int = 20): DataFrame = {
    // working names are reserved (same contract as intervalJoinStream): a
    // caller column named fp_bow/event_time would be silently clobbered
    val clash = docs.columns.filter(c => Seq("fp_bow", "event_time").contains(c.toLowerCase))
    require(clash.isEmpty, s"input columns collide with reserved names: ${clash.mkString(", ")}")
    // the SHARED bow identity (TextAnalytics.bowFingerprint — one
    // definition with dsCurate and the leakage audit); the quality gate
    // runs first, so the null-fp (no-content) branch is unreachable here
    val ws = graft.functions.TextAnalytics.bowWords(col("text"))
    docs
      .filter(length(col("text")) >= minChars && size(ws) >= minWords)
      .withColumn("fp_bow", graft.functions.TextAnalytics.bowFingerprint(col("text")))
      .withColumn("event_time", eventTime(nsCol))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(Seq("fp_bow"))
  }

  /** Streaming twin of [[graft.operators.Dedup.bloomPrefilterNew]]:
    * filter a document stream down to texts NOT in an already-ingested
    * corpus. The corpus Bloom filter is built ONCE (batch-side, from the
    * corpus version the stream runs against) and probed map-side per
    * micro-batch — no state, no shuffle, no stream-static join for the
    * common all-miss case; bloom HITS (true overlap + fpp false
    * positives) are exactness-checked by a stream-static anti-join whose
    * static side is the corpus md5 projection. Within-stream duplicates
    * are then collapsed by the watermarked dedup, so the composition is
    * "new vs corpus, once per watermark window". */
  def bloomPrefilterStream(docs: DataFrame, nsCol: String, lateness: String,
                           corpusBloom: org.apache.spark.util.sketch.BloomFilter,
                           corpusMd5: DataFrame): DataFrame = {
    val clash = docs.columns.filter(c => Seq("__md5", "event_time").contains(c.toLowerCase))
    require(clash.isEmpty, s"input columns collide with reserved names: ${clash.mkString(", ")}")
    val bfBc = docs.sparkSession.sparkContext.broadcast(corpusBloom)
    // null-safe (see Dedup.bloomPrefilterNew): a null text is a miss
    val mightContain = udf((m: String) => m != null && bfBc.value.mightContainString(m))
    val withMd5 = docs.withColumn("__md5", md5(col("text")))
    // bloom misses are DEFINITELY new (no false negatives) and skip the
    // join entirely; only hits pay the stream-static anti-join
    val misses = withMd5.filter(!mightContain(col("__md5")))
    val verified = withMd5.filter(mightContain(col("__md5")))
      .join(corpusMd5.select(col("__md5")), Seq("__md5"), "left_anti")
    val merged = misses.unionByName(verified)
      .withColumn("event_time", eventTime(nsCol))
      .withWatermark("event_time", lateness)
    // dedupe only rows WITH an identity: dropDuplicates treats nulls as
    // equal, which would collapse distinct null-text documents — but the
    // contract (matching the batch twin) is that null never equals null
    val deduped = merged.filter(col("__md5").isNotNull)
      .dropDuplicatesWithinWatermark(Seq("__md5"))
    merged.filter(col("__md5").isNull).unionByName(deduped)
      .drop("__md5")
  }

  /** Attach the meter observation (A1–A6): processed / error counts, value
    * sum/max — readable per micro-batch from a StreamingQueryListener
    * exactly like the reference's sensor→meter wiring
    * (`/root/reference/pkg/internal/sensor/metrics.go:12-35`). */
  def observed(df: DataFrame, meterName: String, errorPredicate: org.apache.spark.sql.Column): DataFrame =
    df.observe(meterName,
      count(lit(1)).as("processed_count"),
      sum(when(errorPredicate, 1L).otherwise(0L)).as("error_count"),
      max(col("value")).as("peak_value"))

  /** A6 named timer over `observe` — the streaming equivalent of the
    * reference's StartTimer/StopTimer pair
    * (`/root/reference/pkg/internal/meter/metrics.go:270-287`): rows
    * already CARRY their start/stop-equivalent duration (a latency or
    * gap column in milliseconds), and the observation folds each
    * micro-batch's min/max/sum/count for free on the executors'
    * aggregation buffers. [[graft.streaming.MeterListener]] merges the
    * per-batch rows into global per-name min/max/avg — the duration
    * readout the reference's meter row surfaces. The metric name rides
    * the reserved `timer.` prefix so the listener can tell a timer
    * observation from a plain counter one. */
  def observeTimer(df: DataFrame, timerName: String,
                   durationMsCol: org.apache.spark.sql.Column): DataFrame =
    df.observe(s"timer.$timerName",
      count(durationMsCol).as("n"),
      min(durationMsCol).cast("long").as("min_ms"),
      max(durationMsCol).cast("long").as("max_ms"),
      sum(durationMsCol).cast("long").as("sum_ms"))

  /** Streaming twin of the nearest-centroid assignment
    * ([[graft.queries.TrainingData.simAssign]]'s oracle-checked batch
    * form): score each incoming vector against a STATIC centroid
    * snapshot — the online half of embedding curation (route/flag
    * vectors as they arrive; centroids refresh out-of-band like the LSH
    * index versions). `centroids` is (label, cp: Array[Long]) in the
    * same integer-ppm space; it is collected ONCE (require-capped — a
    * centroid table is |labels| rows by construction) and broadcast, so
    * the per-batch work is a stateless map-side projection: no
    * stream-static join, no shuffle, no state store. A missing,
    * wrong-dimension, or null-containing vector yields a NULL assignment
    * (boxed elements so nulls are visible — a primitive Seq[Float]
    * binding would silently unbox them to 0 and fabricate a confident
    * assignment the batch form never produces). */
  def assignStream(vectors: DataFrame,
                   centroids: Seq[(Int, Array[Long])]): DataFrame = {
    require(centroids.nonEmpty && centroids.size <= 100000,
      s"centroid snapshot must be non-empty and bounded, got ${centroids.size}")
    val dims = centroids.head._2.length
    require(centroids.forall(_._2.length == dims), "ragged centroid dimensions")
    val clash = vectors.columns.filter(c => Seq("__a", "assigned_label", "d2").contains(c.toLowerCase))
    require(clash.isEmpty, s"input columns collide with reserved names: ${clash.mkString(", ")}")
    val bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    val assign = udf { (v: Seq[java.lang.Float]) =>
      if (v == null || v.length != dims || v.exists(_ == null)) None
      else {
        // quantize ONCE per vector, then the SAME argmin kernel the batch
        // sim_assign projection uses (tie-break by label asc) — one shared
        // fold, so batch and stream can never drift
        val vq = Array.tabulate(dims)(i => math.floor(v(i).toDouble * 1000000d).toLong)
        val (bestLabel, bestD2) =
          graft.functions.VectorQuant.argminCentroid(vq, bc.value)
        Some(StreamOps.Assigned(bestLabel, bestD2))
      }
    }
    vectors.withColumn("__a", assign(col("embedding")))
      .withColumn("assigned_label", col("__a.assigned_label"))
      .withColumn("d2", col("__a.d2"))
      .drop("__a")
  }

  /** Streaming twin of the robust outlier detector
    * ([[graft.queries.Relational.evAnomaly]], oracle-checked in batch):
    * flag arriving events against a STATIC (median, MAD) snapshot per
    * event type — the online tripwire half, with the reference stats
    * refreshed out-of-band like the centroid/LSH/Bloom snapshots. Same
    * exact integer rule as the batch query (|cents−med|·10⁴ >
    * mad·51891), same cents quantization, so a differential against the
    * batch thresholds holds bit-exactly. Stateless map-side projection:
    * no join, no state store; an event type absent from the reference
    * yields a NULL flag (no stats to judge against — distinct from a
    * confident false). */
  def anomalyStream(events: DataFrame,
      reference: Map[String, (Long, Long)]): DataFrame = {
    require(reference.nonEmpty && reference.size <= 1000000,
      s"reference snapshot must be non-empty and bounded, got ${reference.size}")
    val clash = events.columns.filter(c => Seq("cents", "is_outlier").contains(c.toLowerCase))
    require(clash.isEmpty, s"input columns collide with reserved names: ${clash.mkString(", ")}")
    val bc = events.sparkSession.sparkContext.broadcast(reference)
    val flag = udf { (t: String, cents: java.lang.Long) =>
      if (cents == null) None
      else bc.value.get(t).map { case (med, mad) =>
        math.abs(cents - med) * 10000L > mad * 51891L
      }
    }
    events
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("is_outlier", flag(col("event_type"), col("cents")))
  }

  /** Streaming twin of the distribution-drift report
    * ([[graft.operators.Versioning.signalDrift]], batch-checked as
    * ds_drift): per micro-batch, the arriving docs are bucketed with the
    * SAME signal expressions and compared against a REFERENCE histogram
    * via the shared exact-TV tail ([[graft.operators.Versioning
    * .driftFromHistograms]]) — the online data-quality tripwire (alert
    * when an ingest batch stops looking like the corpus it feeds).
    *
    * The reference is pre-reduced ONCE (localCheckpoint — it is
    * bucket-sized) instead of re-scanning the reference corpus every
    * batch; per-batch cost is one pass over the batch plus a
    * histogram-level join. Reports go to `onReport(driftDF, batchId)` —
    * one row per signal, same schema/arithmetic as the batch query, so
    * the differential (stream report ≡ batch signalDrift of the same
    * rows) holds bit-exactly. */
  def driftStream(docs: DataFrame, reference: DataFrame,
      signals: Seq[(String, org.apache.spark.sql.Column)])
      (onReport: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Versioning
    val refHist = Versioning.signalHistogram(reference, signals).localCheckpoint()
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        onReport(Versioning.driftFromHistograms(refHist,
          Versioning.signalHistogram(batch, signals)), id)
      }
      .start()
  }

  /** Streaming incremental rollup maintenance — the foreachBatch twin of
    * [[graft.operators.Maintenance.mergeRollups]] and the production form
    * of the `ev_rollup_merge` query: each micro-batch rolls up to its
    * (keys → sums) delta and folds into the persisted rollup, published
    * as the next `v<N>/` with the atomic `_current` swap (readers always
    * resolve a complete rollup; a crash between write and swap leaves the
    * previous version current). Idempotent under checkpoint replay: the
    * folded-through batchId rides in each version's `meta`: a replayed
    * batch AT the high-water mark (checkpoint recovery re-runs exactly
    * the last uncommitted batch) is skipped, so with a checkpointLocation
    * the maintained rollup is exactly-once across restarts. A batchId
    * BELOW the mark is not a replay — it means a different stream (fresh
    * checkpoint, deleted checkpoint dir) was pointed at this rollup, and
    * silently skipping would drop its data; that fails loudly instead.
    * Point a new stream at a new rollup path, or fold its history in as
    * one batch. Per-batch cost is one pass over the batch plus a
    * rollup-key-sized merge exchange; history is never rescanned. */
  def mergeRollupBatch(rollupPath: String, keys: Seq[String],
                       sumCols: Seq[String])
                      (batch: DataFrame, batchId: Long): Unit = {
    val delta = batch.groupBy(keys.map(col): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
    foldVersionedBatch(batch.sparkSession, rollupPath, batchId, "rollup") {
      case Some(prevArt) => graft.operators.Maintenance.mergeRollups(
        Seq(prevArt, delta), keys, sumCols = sumCols)
      case None => delta
    }
  }

  /** Streaming incremental HLL-rollup maintenance — the APPROXIMATE tier
    * of [[mergeDistinctRollupBatch]], for member universes too hot to
    * store as pairs: each micro-batch folds to one Datasketches HLL
    * sketch per key group and hll-unions into the persisted sketch
    * artifact (closure: sketch in, sketch out). Register merges are
    * element-wise max — idempotent like the pair set — so the batchId
    * meta only guards the unrelated-stream case. State per key group is
    * ~KBs at ANY member cardinality; estimates are a read via
    * [[graft.operators.Maintenance.hllRollupEstimates]]. */
  def mergeHllRollupBatch(rollupPath: String, keys: Seq[String],
                          memberCol: String)
                         (batch: DataFrame, batchId: Long): Unit = {
    val delta = graft.operators.Maintenance.hllRollup(batch, keys, memberCol)
    foldVersionedBatch(batch.sparkSession, rollupPath, batchId, "sketch") {
      case Some(prevArt) => graft.operators.Maintenance.mergeHllRollups(
        Seq(prevArt, delta), keys, s"hll_$memberCol")
      case None => delta
    }
  }

  /** Streaming incremental THETA-rollup maintenance — the foreachBatch
    * twin of [[graft.operators.Maintenance.mergeThetaRollups]]: same
    * fold/replay contract as the HLL maintainer (theta union is
    * idempotent, so the batchId mark only guards the unrelated-stream
    * case), but the maintained artifact additionally serves the OVERLAP
    * reads ([[graft.operators.Maintenance.thetaOverlap]] against another
    * rollup — live "users in both sources" on sketch bytes). `lgK` must
    * match the tier's build lgK (see `mergeThetaRollups`). */
  def mergeThetaRollupBatch(rollupPath: String, keys: Seq[String],
                            memberCol: String,
                            lgK: Int = org.apache.spark.sql.graft.ThetaDefaults.LgK)
                           (batch: DataFrame, batchId: Long): Unit = {
    val delta = graft.operators.Maintenance.thetaRollup(batch, keys, memberCol, lgK)
    foldVersionedBatch(batch.sparkSession, rollupPath, batchId, "sketch") {
      case Some(prevArt) => graft.operators.Maintenance.mergeThetaRollups(
        Seq(prevArt, delta), keys, s"theta_$memberCol", lgK)
      case None => delta
    }
  }

  /** Streaming incremental KLL-quantile maintenance — the foreachBatch
    * twin of [[graft.operators.Maintenance.mergeKllRollups]] and the
    * production form of `ev_percentiles_kll`: each micro-batch sketches
    * its values and merges into the persisted quantile artifact; p50/p99
    * are a read via `kllRollupQuantiles`, never stored. Unlike the
    * distinct tiers the FOLD IS NOT idempotent (a re-fed value re-counts,
    * exactly like a replayed sum), so the skeleton's batchId high-water
    * mark is the correctness-critical replay protection here, not an
    * optimization. */
  def mergeKllRollupBatch(rollupPath: String, keys: Seq[String],
                          valueCol: String, k: Int = 16384)
                         (batch: DataFrame, batchId: Long): Unit = {
    val delta = graft.operators.Maintenance.kllRollup(batch, keys, valueCol, k)
    foldVersionedBatch(batch.sparkSession, rollupPath, batchId, "sketch") {
      case Some(prevArt) => graft.operators.Maintenance.mergeKllRollups(
        Seq(prevArt, delta), keys, s"kll_$valueCol", k)
      case None => delta
    }
  }

  private[streaming] final case class RollupMeta(lastBatch: Long) // v<N>/meta.json

  /** The versioned-fold skeleton shared by the rollup maintainers: resolve
    * the current version, read its folded-through batchId, skip the
    * checkpoint replay of exactly the last batch, REJECT a batchId below
    * the high-water mark (an unrelated stream whose earlier batches were
    * never folded here), and publish `fold(previous artifact)` as the next
    * `v<N>/` with the atomic `_current` swap. The replay/reject contract
    * and the meta layout live ONLY here — the maintainers supply just the
    * merge step. */
  private def foldVersionedBatch(spark: SparkSession, rollupPath: String,
      batchId: Long, artifact: String)
      (fold: Option[DataFrame] => DataFrame): Unit = {
    val (fs, root) = graft.sources.Fs.of(spark, rollupPath)
    val prev = graft.sources.Fs.currentVersion(fs, root)
      .map(v => s"$rollupPath/v$v")
    val last = prev.map(d => graft.sources.Fs.readMeta[RollupMeta](spark, d,
      "start over on a fresh rollup path").lastBatch)
    if (last.contains(batchId)) return // checkpoint replay of the last batch
    require(last.forall(_ < batchId),
      s"rollup at $rollupPath already folded through batch ${last.get}, " +
        s"got batch $batchId from an unrelated stream — its earlier " +
        "batches were never merged here; use a fresh rollup path")
    // a plain read, not Fs.readParquet: each version is read once, by
    // the batch after the one that wrote it, so every read would miss
    val merged = fold(prev.map(d => spark.read.parquet(s"$d/$artifact")))
    graft.sources.Fs.writeVersioned(spark, rollupPath) { vdir =>
      merged.write.mode("overwrite").parquet(s"$vdir/$artifact")
      graft.sources.Fs.writeMeta(spark, vdir, RollupMeta(batchId))
    }
    ()
  }

  /** Streaming incremental DISTINCT-rollup maintenance — the foreachBatch
    * twin of [[graft.operators.Maintenance.mergeDistinctRollups]] and the
    * production form of the `ev_rollup_distinct` query: each micro-batch
    * reduces to its distinct (keys, member) pairs and set-unions into the
    * persisted pair-set artifact (the closure property: pair-set in,
    * pair-set out, so each version feeds the next fold directly); counts
    * are a read via [[graft.operators.Maintenance.distinctRollupCounts]],
    * never stored. Unlike the sum rollup, the FOLD ITSELF is idempotent —
    * re-unioning a replayed batch changes no pair — so the batchId meta
    * here only guards the unrelated-stream case (a batchId below the
    * high-water mark means a different stream's earlier batches were
    * never folded here; that fails loudly, same contract as
    * [[mergeRollupBatch]]). Per-batch cost is one distinct over the batch
    * plus a pair-grain merge exchange; the artifact grows with DISTINCT
    * pairs, not rows — at 100 TB the pair set is the (keys × members)
    * universe, and a too-hot universe is the signal to switch to the
    * sketched `a7_approx_distinct` path instead. */
  def mergeDistinctRollupBatch(rollupPath: String, keys: Seq[String],
                               memberCol: String)
                              (batch: DataFrame, batchId: Long): Unit = {
    val delta = batch.select((keys :+ memberCol).map(col): _*).distinct()
    foldVersionedBatch(batch.sparkSession, rollupPath, batchId, "pairs") {
      case Some(prevArt) => graft.operators.Maintenance.mergeDistinctRollups(
        Seq(prevArt, delta), keys, memberCol)
      case None => delta
    }
  }

  /** Streaming twin of the a8 heavy-hitters sketch
    * ([[graft.queries.TrainingData.a8HeavyHitters]], oracle-checked in
    * batch): the SAME SpaceSaving `TypedImperativeAggregate` running as
    * a streaming GLOBAL aggregate — the state store holds ONE bounded
    * sketch buffer (`capacity` entries), not per-word counts, so the
    * live top-k surface costs O(capacity) state at ANY vocabulary size;
    * batch-boundary merges go through the sketch's own merge (the same
    * path partial aggregation exercises in batch). Complete-mode sink
    * required (the result is one row re-emitted per trigger).
    * Differential contract: with capacity ≥ |vocabulary| the sketch is
    * exact (the a8 contract), so the latest emission equals the batch
    * fold of every row seen so far — guaranteed structurally because
    * both run the ONE [[graft.queries.TrainingData.wordSketch]] stage.
    * The state contract is metrics-locked: the differential spec asserts
    * `numRowsTotal == 1` from the query's state-operator metrics, so a
    * regression to per-word state (a groupBy formulation, store size ∝
    * vocabulary) fails loudly. */
  def heavyHittersStream(docs: DataFrame, capacity: Int = 256): DataFrame =
    graft.queries.TrainingData.wordSketch(docs, capacity)

  /** One co-occurrence mark from a CLOSED session ([[cooccurStream]]):
    * the same three-kind mark the batch query aggregates — (None, None)
    * is the session marker, (Some(t), None) one single per distinct
    * type, (Some(a), Some(b)) an unordered pair with a < b. */
  final case class SessionMark(user_id: Long, type_a: Option[String],
      type_b: Option[String])

  /** Streaming twin of the session co-occurrence query
    * ([[graft.queries.Relational.evCooccurrence]], oracle-checked in
    * batch): per-user `flatMapGroupsWithState` holding the OPEN session's
    * distinct type set + last event time; when an arriving event opens a
    * gap > `gapUs`, the closed session emits its marks (marker, singles,
    * sorted pairs — exactly the rows the batch query's explode produces),
    * and the downstream consumer folds them into the same type-pair
    * aggregate the batch query checkpoints. Equivalence contract: batch ≡
    * stream over CLOSED sessions under per-user event-time-ordered
    * arrival; a session stays open (and unemitted) until a later event
    * closes it — the streaming-native trade (an event-time timeout would
    * need a watermark on a keyed state this engine leaves to the
    * deployment). State per user is one (types, last_ts) pair, bounded by
    * the distinct-type alphabet. */
  def cooccurStream(events: DataFrame,
      gapUs: Long = 5L * 60 * 1000 * 1000): Dataset[SessionMark] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long"), col("event_type"),
        expr("ts div 1000").as("ts_us"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[(Seq[String], Long)]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionMark]
          def close(types: Seq[String]): Unit = {
            val sorted = types.distinct.sorted
            out += SessionMark(user, None, None)
            sorted.foreach(t => out += SessionMark(user, Some(t), None))
            for (i <- sorted.indices; j <- (i + 1) until sorted.length)
              out += SessionMark(user, Some(sorted(i)), Some(sorted(j)))
          }
          var cur = state.getOption
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, tpe, ts, _) =>
            cur = cur match {
              case Some((types, last)) if ts - last > gapUs =>
                close(types); Some((Seq(tpe), ts))
              case Some((types, _)) => Some(((types :+ tpe).distinct, ts))
              case None => Some((Seq(tpe), ts))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** One observed transition ([[transitionStream]]). */
  final case class Transition(user_id: Long, from_type: String,
      to_type: String, ts_us: Long)

  /** Streaming twin of the transition matrix
    * ([[graft.queries.Relational.evTransitions]], oracle-checked in
    * batch): per-user `flatMapGroupsWithState` keeping ONLY the last
    * (ts, type) pair; each arriving event emits its (from → to) edge.
    * Downstream the consumer folds edges into the matrix incrementally —
    * the live path-analysis feed. Same equivalence contract as
    * [[funnelStream]]: batch ≡ stream under per-user event-time-ordered
    * arrival (within-batch rows are sorted by (ts_us, event_id), so a
    * single batch is always exact); state is one (string, long) per
    * user. */
  def transitionStream(events: DataFrame): Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long"), col("event_type"),
        expr("ts div 1000").as("ts_us"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[(String, Long)]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, tpe, ts, _) =>
            last.foreach { case (fromTpe, _) =>
              out += Transition(user, fromTpe, tpe, ts)
            }
            last = Some((tpe, ts))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** A user's live funnel state ([[funnelStream]]): the greedy
    * view→click→purchase chain timestamps reached so far and the step
    * count. */
  final case class FunnelState(user_id: Long, t1: Option[Long],
      t2: Option[Long], t3: Option[Long], step: Int)

  /** Streaming twin of the conversion funnel
    * ([[graft.queries.Relational.evFunnel]], oracle-checked in batch):
    * per-user `mapGroupsWithState` folding arriving events into the
    * greedy earliest-chain (t1 = first view; t2 = first click after t1
    * within the window; t3 = first purchase after t2) — the live "where
    * is this user in the funnel" surface, updated every micro-batch.
    *
    * Equivalence contract: batch ≡ stream when each user's events arrive
    * in event-time order (the per-key ordering a keyed log partition
    * gives); the within-batch fold sorts by (ts_us, event_type) so a
    * single batch is always exact. Under cross-batch DISORDER a late
    * earlier view cannot retract an already-taken t2/t3 — the documented
    * trade every snapshot-fed twin here makes (the batch query is the
    * authority; the stream is the monotone online view). State is 3
    * longs + an int per user, bounded by the active-user cardinality. */
  def funnelStream(events: DataFrame, winUs: Long =
      graft.queries.Relational.funnelWindowUs): Dataset[FunnelState] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events
      .select(col("user_id").cast("long"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(user, None, None, None, 0))
          // event-time order within the batch (type tiebreak for determinism)
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, tpe, ts) =>
            if (tpe == "view" && s.t1.isEmpty)
              s = s.copy(t1 = Some(ts))
            else if (tpe == "click" && s.t2.isEmpty && s.t1.exists(t1 =>
              ts > t1 && ts <= t1 + winUs))
              s = s.copy(t2 = Some(ts))
            else if (tpe == "purchase" && s.t3.isEmpty && s.t2.exists(ts > _) &&
              s.t1.exists(ts <= _ + winUs))
              s = s.copy(t3 = Some(ts))
          }
          s = s.copy(step =
            if (s.t3.isDefined) 3 else if (s.t2.isDefined) 2
            else if (s.t1.isDefined) 1 else 0)
          state.update(s)
          s
      }
  }

  /** One online feature row — the streaming product of
    * [[graft.queries.Relational.evLagFeatures]]. */
  final case class LagFeatureRow(event_id: Long, user_id: Long, ts_us: Long,
      n_7d: Long, spend_30d_cents: Long, us_since_last: Option[Long])

  /** Streaming twin of the point-in-time feature query
    * ([[graft.queries.Relational.evLagFeatures]], oracle-checked in
    * batch) — ONLINE feature serving: per-user `flatMapGroupsWithState`
    * holding the user's last 30 days of (ts, purchase_cents) plus the
    * unbounded last-event timestamp; each arriving event emits its
    * features computed over STRICTLY-EARLIER state (same-timestamp peers
    * excluded, exactly the batch query's `RANGE … AND 1 PRECEDING`
    * frame), then joins the state. Equivalence contract: stream ≡ batch
    * under per-user `(event time, event_id)`-ordered arrival ACROSS
    * micro-batches — ties split across batches in id order too, since
    * the lag tiebreak is event_id (in-batch ties are re-sorted here; the
    * family's arrival assumption, differential-locked). State per user
    * is bounded by 30 days of that user's activity + one timestamp —
    * never corpus-sized — and the per-batch walk is O(events) amortized:
    * three monotone pointers over the time-sorted ring (30 d eviction,
    * 7 d boundary, strict-past boundary) with a running 30 d sum, never
    * a rescan of the window per event. */
  def lagFeaturesStream(events: DataFrame): Dataset[LagFeatureRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val Day7 = graft.queries.Relational.LagWindow7dUs
    val Day30 = graft.queries.Relational.LagWindow30dUs
    events
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        expr("ts div 1000").as("ts_us"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L).as("pc"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[(Vector[(Long, Long)], Option[Long])]) =>
          val (kept, lastTs0) =
            state.getOption.getOrElse((Vector.empty[(Long, Long)], None))
          var lastTs = lastTs0
          val out = scala.collection.mutable.ArrayBuffer.empty[LagFeatureRow]
          // time-sorted ring: state entries + this batch's events appended
          // as processed; lo30/lo7/hi advance monotonically (ts is
          // non-decreasing), so the whole batch is O(events) amortized
          val arr = scala.collection.mutable.ArrayBuffer[(Long, Long)](kept: _*)
          var lo30 = 0 // first index with ts >= t - 30d
          var lo7 = 0  // first index with ts >= t - 7d
          var hi = 0   // first index with ts >= t (peers start here)
          var sum30 = 0L // Σ pc over [lo30, hi)
          rows.toSeq.sortBy(r => (r._3, r._1)).foreach { case (eid, _, ts, pc) =>
            while (hi < arr.length && arr(hi)._1 < ts) { sum30 += arr(hi)._2; hi += 1 }
            while (lo30 < hi && arr(lo30)._1 < ts - Day30) { sum30 -= arr(lo30)._2; lo30 += 1 }
            if (lo7 < lo30) lo7 = lo30
            while (lo7 < hi && arr(lo7)._1 < ts - Day7) lo7 += 1
            out += LagFeatureRow(eid, user, ts, hi - lo7, sum30, lastTs.map(ts - _))
            arr += ((ts, pc))
            lastTs = Some(ts)
          }
          state.update((arr.drop(lo30).toVector, lastTs))
          out.iterator
      }
  }
}
