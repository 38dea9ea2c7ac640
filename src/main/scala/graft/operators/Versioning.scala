package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-version operators: what changed between two corpus snapshots,
  * and did the distribution move. A 100 TB training corpus is rebuilt
  * continuously (new crawls in, dedup/filters re-tuned); before a rebuild
  * is promoted, the pipeline wants (a) an exact content diff vs the
  * serving version and (b) a per-signal drift check — both as bounded
  * reports, neither ever shuffling document text.
  *
  * (The reference engine's unit of change-tracking is the per-element
  * content hash, `/root/reference/pkg/internal/types/element.go:28-37`;
  * these operators lift that identity to whole-snapshot comparison.)
  */
object Versioning {

  /** Row-level diff of two snapshots keyed by `idCol`: one row per id with
    * `status` ∈ added | removed | changed | unchanged and the carried
    * `source` dimension (new side wins when both exist).
    *
    * Scale shape: each side is projected to (id, md5, source) BEFORE the
    * full-outer join, so the exchange carries ~50 B/row regardless of
    * document size; the join hash-partitions both sides on the id (with
    * id-bucketed tables it is co-located and shuffle-free). Presence is
    * tracked by literal markers, not hash nullability, so null-text rows
    * diff correctly (null fp on both sides = unchanged via null-safe
    * equality, mirrored as IS NOT DISTINCT FROM in the oracle). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      dimCol: String = "source"): DataFrame = {
    def proj(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol), md5(col(textCol)).as(s"__fp_$side"),
        col(dimCol).as(s"__dim_$side"), lit(1).as(s"__in_$side"))
    proj(oldSnap, "o").join(proj(newSnap, "n"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_o").isNull, "added")
          .when(col("__in_n").isNull, "removed")
          .when(col("__fp_o") <=> col("__fp_n"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("__dim_n"), col("__dim_o")).as(dimCol))
  }

  /** SAME-BASE fusion of [[snapshotDiff]]: when
    * both snapshots are filtered/edited VIEWS OF ONE physical table —
    * the incremental-rebuild case: the serving version and the rebuilt
    * version share the base corpus — the row-level diff needs no join
    * at all. Each base row knows its own membership and both text
    * variants, so ONE scan classifies it; the full-outer join (and its
    * two id-hash exchanges) disappears, and the corpus is read once
    * instead of twice. Value-identical to
    * `snapshotDiff(base.filter(inOld)…, base.filter(inNew)…)` by
    * construction: the join matched rows by the shared id, which is
    * exactly row identity here (differential-locked in VersioningSpec).
    * `oldText`/`newText` are the per-side text expressions over the base
    * row (pass the raw column when a side does not edit). Rows in
    * neither snapshot are dropped, as the join's key-union semantics
    * did. */
  def snapshotDiffSameBase(base: DataFrame, inOld: Column, inNew: Column,
      oldText: Column, newText: Column,
      dimCol: String = "source"): DataFrame = {
    val idCol = "doc_id"
    // null membership predicates read as FALSE (absent), exactly as the
    // two-table form's filter() treated them — without this, a null
    // inOld would fall through the negated when() chain into
    // unchanged/changed instead of "added"
    val o = coalesce(inOld, lit(false))
    val n = coalesce(inNew, lit(false))
    base
      .filter(o || n)
      .select(col(idCol),
        when(!o, "added")
          .when(!n, "removed")
          .when(md5(oldText) <=> md5(newText), "unchanged")
          .otherwise("changed").as("status"),
        col(dimCol))
      .select(col(idCol), col("status"), col(dimCol))
  }

  /** Embedding-space drift between two snapshots: per-label centroid shift
    * as the exact squared L2 distance in integer ppm² — did a class's
    * representation move between the serving and rebuilt corpus (new
    * crawl, changed dedup, re-embedded models). Uses THE shared ppm
    * quantization ([[graft.functions.VectorQuant.ppmVec]]) and the same
    * truncating-div centroid rule as the sim_centroids family (Spark
    * `div` ≡ DuckDB integer `//`: both round toward zero, negative sums
    * included), so the result is oracle-exact on any sign pattern.
    *
    * Scale shape: each side reduces via posexplode → partial-agged
    * (label, pos) sums — |labels|·dim rows regardless of corpus size —
    * then a label-level join and one tiny aggregate. A label absent on a
    * side — or present with MISMATCHED dimensions (re-embedded corpus) —
    * reports null shift (no comparable centroid) with both populations
    * still counted. Headroom: per-dim diff ≤ ~4·10⁶ ppm on
    * unit-ish embeddings → d2 ≤ dims·1.6·10¹³ — fine to thousands of
    * dims. */
  def embeddingDrift(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    import graft.functions.VectorQuant
    def cents(df: DataFrame, side: String): DataFrame =
      df.select(col("label"), VectorQuant.ppmVec(col("embedding")).as("vp"))
        .filter(VectorQuant.isWellFormedPpm(col("vp")))
        .select(col("label"), posexplode(col("vp")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(sum("v").as(s"s_$side"), count(lit(1)).as(s"n_$side"))
    // truncating division on BOTH engines: Spark's `div` and DuckDB's
    // integer `//` both round toward zero (verified on negatives — DuckDB
    // -7 // 3 = -2), so the centroid rule is cross-engine exact for
    // negative component sums too
    cents(oldSnap, "o").join(cents(newSnap, "n"), Seq("label", "pos"), "full_outer")
      .select(col("label"),
        expr("s_o div n_o").as("c_o"), expr("s_n div n_n").as("c_n"),
        col("n_o"), col("n_n"))
      .groupBy("label")
      .agg(
        coalesce(max("n_o"), lit(0L)).as("n_old"),
        coalesce(max("n_n"), lit(0L)).as("n_new"),
        // EVERY dimension must exist on BOTH sides or the shift is null:
        // SQL SUM skips null products, so a re-embedded label (64-dim old
        // vs 128-dim new — the motivating case) would otherwise report a
        // deflated-but-plausible partial sum as the exact L2 shift. The
        // min-flag covers both full absence and partial overlap.
        min(when(col("c_o").isNotNull && col("c_n").isNotNull, 1).otherwise(0))
          .as("__aligned"),
        sum((col("c_o") - col("c_n")) * (col("c_o") - col("c_n")))
          .as("__d2"))
      .select(col("label"), col("n_old"), col("n_new"),
        when(col("__aligned") === 1, col("__d2")).as("shift_d2"))
  }

  /** SAME-BASE fusion of [[embeddingDrift]]: both
    * snapshots as membership predicates over ONE embeddings table. The
    * per-side (label, pos) sums fold into a single aggregation carrying
    * side flags — one posexplode pass instead of two, and the (label,
    * pos)-grain full-outer join disappears. Value-identical to
    * `embeddingDrift(base.filter(inOld), base.filter(inNew))`
    * (differential-locked): the fused aggregate's key set is the union
    * of both sides' key sets, exactly the join's; a side with no rows
    * for a key has n = 0 here where the join had NULL, and the guarded
    * centroid division maps both to the same NULL c value, so the
    * alignment flag and d2 sum see identical inputs. */
  def embeddingDriftSameBase(base: DataFrame, inOld: Column,
                             inNew: Column): DataFrame = {
    import graft.functions.VectorQuant
    base
      .filter(inOld || inNew)
      .select(col("label"), VectorQuant.ppmVec(col("embedding")).as("vp"),
        inOld.as("in_o"), inNew.as("in_n"))
      .filter(VectorQuant.isWellFormedPpm(col("vp")))
      .select(col("label"), posexplode(col("vp")).as(Seq("pos", "v")),
        col("in_o"), col("in_n"))
      .groupBy("label", "pos")
      .agg(sum(when(col("in_o"), col("v"))).as("s_o"),
        sum(when(col("in_o"), 1L)).as("n_o_raw"),
        sum(when(col("in_n"), col("v"))).as("s_n"),
        sum(when(col("in_n"), 1L)).as("n_n_raw"))
      // n = 0 (absent side) must read as the join's NULL: null counts
      // keep max() semantics downstream identical and guard the ANSI
      // integer division (the join form could never divide by zero)
      .select(col("label"), col("pos"),
        when(col("n_o_raw") > 0, expr("s_o div n_o_raw")).as("c_o"),
        when(col("n_n_raw") > 0, expr("s_n div n_n_raw")).as("c_n"),
        when(col("n_o_raw") > 0, col("n_o_raw")).as("n_o"),
        when(col("n_n_raw") > 0, col("n_n_raw")).as("n_n"))
      .groupBy("label")
      .agg(
        coalesce(max("n_o"), lit(0L)).as("n_old"),
        coalesce(max("n_n"), lit(0L)).as("n_new"),
        min(when(col("c_o").isNotNull && col("c_n").isNotNull, 1).otherwise(0))
          .as("__aligned"),
        sum((col("c_o") - col("c_n")) * (col("c_o") - col("c_n")))
          .as("__d2"))
      .select(col("label"), col("n_old"), col("n_new"),
        when(col("__aligned") === 1, col("__d2")).as("shift_d2"))
  }

  /** The (signal, bucket, c) histogram one snapshot reduces to — ONE
    * corpus scan for all signals (a union-per-signal would re-scan the
    * snapshot |signals| times): every bucket expression evaluates in one
    * projection, explodes to narrow (signal, bucket) rows, and
    * partial-aggregates before the only exchange. Null signal values
    * (e.g. null text) get a reserved sentinel bucket: a bare null bucket
    * would never pair with itself across the full-outer join (SQL null ≠
    * null in join keys) and double-count. Public so a streaming monitor
    * can pre-reduce the REFERENCE side once instead of re-scanning it
    * per micro-batch. */
  def signalHistogram(df: DataFrame, signals: Seq[(String, Column)]): DataFrame = {
    require(signals.nonEmpty, "at least one signal")
    val buckets = signals.map { case (name, bucket) =>
      struct(lit(name).as("signal"),
        coalesce(bucket.cast("long"), lit(Long.MinValue)).as("bucket"))
    }
    df.select(explode(array(buckets: _*)).as("sb"))
      .select(col("sb.signal").as("signal"), col("sb.bucket").as("bucket"))
      .groupBy("signal", "bucket").agg(count(lit(1)).as("c"))
  }

  /** Per-signal distribution drift between two snapshots as the exact
    * total-variation distance over a bucketed signal, in integer ppm:
    * TV = ½·Σ_b |p_b − q_b|, computed as
    * floor(10⁶ · Σ_b |c_b·M − d_b·N| / (2·N·M)) with integer counts
    * (c, d) and totals (N, M) — no floats anywhere, so the oracle is
    * hash-exact. One number per signal; 0 = identical distributions,
    * 1e6 = disjoint support.
    *
    * `signals` maps signal name → bucketing expression over a snapshot row
    * (e.g. `floor(n_chars/64)`). Scale shape: each snapshot reduces to a
    * [[signalHistogram]] — bucket-sized, not corpus-sized — then the
    * bucket-level outer join + tiny aggregate of [[driftFromHistograms]].
    *
    * Overflow headroom: sum_abs ≤ 2·N·M, so the ppm convenience column is
    * exact while 10⁶·sum_abs fits a long — snapshots up to ~1.4M docs per
    * side (N·M ≲ 4.6×10¹²). Past that bound (and for an empty snapshot,
    * where TV is undefined) tv_ppm is GUARDED to NULL rather than left to
    * ANSI-mode overflow/div-zero errors, and the EXACT rational components
    * (sum_abs, n_docs_old, n_docs_new) still report — TV =
    * sum_abs / (2·N·M) in one BigInt line downstream — or run the drift
    * per source shard, which is how a 100 TB report is read anyway. */
  def signalDrift(oldSnap: DataFrame, newSnap: DataFrame,
      signals: Seq[(String, Column)]): DataFrame =
    driftFromHistograms(signalHistogram(oldSnap, signals),
      signalHistogram(newSnap, signals))

  /** SAME-BASE fusion of [[signalDrift]]: both
    * snapshots as membership predicates over ONE table. The two
    * [[signalHistogram]] scans and their bucket-level full-outer join
    * fold into a single scan whose aggregate carries per-side counts —
    * each exploded (signal, bucket) row contributes to c_o/c_n per its
    * flags. Value-identical to
    * `signalDrift(base.filter(inOld), base.filter(inNew), signals)`
    * (differential-locked): the fused key set is the union of both
    * sides' bucket sets — the join's — and an absent side sums to a
    * null count that the shared tail coalesces to 0 exactly as it did
    * the join's missing-row null. */
  def signalDriftSameBase(base: DataFrame, inOld: Column, inNew: Column,
      signals: Seq[(String, Column, Column)]): DataFrame = {
    require(signals.nonEmpty, "at least one signal")
    // per SIDE bucket expressions: a snapshot view may EDIT row content
    // (the rebuilt-corpus case), so a signal over the new side can land
    // in a different bucket than the same row's old side — each side's
    // contribution explodes with its own bucket value and a side tag,
    // and membership gates which contributions exist
    val contribs = signals.flatMap { case (name, oldBucket, newBucket) =>
      Seq(
        struct(lit(name).as("signal"),
          coalesce(oldBucket.cast("long"), lit(Long.MinValue)).as("bucket"),
          inOld.as("o"), lit(false).as("n")),
        struct(lit(name).as("signal"),
          coalesce(newBucket.cast("long"), lit(Long.MinValue)).as("bucket"),
          lit(false).as("o"), inNew.as("n")))
    }
    driftTail(base
      .filter(inOld || inNew)
      .select(explode(array(contribs: _*)).as("sb"))
      .filter(col("sb.o") || col("sb.n"))
      .select(col("sb.signal").as("signal"), col("sb.bucket").as("bucket"),
        col("sb.o").as("in_o"), col("sb.n").as("in_n"))
      .groupBy("signal", "bucket")
      .agg(sum(when(col("in_o"), 1L)).as("c_o"),
        sum(when(col("in_n"), 1L)).as("c_n")))
  }

  /** TV distance from two pre-reduced [[signalHistogram]]s — the shared
    * tail of the batch query and the per-micro-batch streaming monitor. */
  def driftFromHistograms(histOld: DataFrame, histNew: DataFrame): DataFrame =
    driftTail(histOld.withColumnRenamed("c", "c_o")
      .join(histNew.withColumnRenamed("c", "c_n"),
        Seq("signal", "bucket"), "full_outer"))

  /** The shared tail of [[driftFromHistograms]] and
    * [[signalDriftSameBase]]: (signal, bucket, c_o, c_n) rows — null
    * counts meaning "absent on that side" — to per-signal TV distance. */
  private def driftTail(bucketCounts: DataFrame): DataFrame = {
    val joined = bucketCounts
      .select(col("signal"),
        coalesce(col("c_o"), lit(0L)).as("c_o"),
        coalesce(col("c_n"), lit(0L)).as("c_n"))
    // per-signal totals as a window over the already-reduced bucket frame
    // (the lmScore trick: re-aggregating the lineage would re-scan both
    // corpora; the window costs one bucket-level exchange + sort)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("signal")
    joined
      .withColumn("n_o", sum("c_o").over(w))
      .withColumn("n_n", sum("c_n").over(w))
      .groupBy("signal")
      .agg(max("n_o").as("n_docs_old"), max("n_n").as("n_docs_new"),
        sum(abs(col("c_o") * col("n_n") - col("c_n") * col("n_o"))).as("sum_abs"))
      // tv_ppm guards: an EMPTY snapshot would divide by zero (ANSI mode
      // throws, killing the whole report), and past the documented
      // headroom the 10⁶ multiply would overflow — both yield NULL ppm
      // while the exact rational components still report
      .select(col("signal"), col("n_docs_old"), col("n_docs_new"), col("sum_abs"),
        expr("CASE WHEN n_docs_old = 0 OR n_docs_new = 0 THEN NULL " +
          "WHEN sum_abs > 9223372036854 THEN NULL " +
          "ELSE (1000000 * sum_abs) div (2 * n_docs_old * n_docs_new) END")
          .as("tv_ppm"))
  }
}
