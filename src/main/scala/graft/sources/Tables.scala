package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish fixture tables (TESTDATA.md).
  *
  * The reference engine's sources are record-stream adapters (Kafka/S3/
  * Postgres readers, `/root/reference/pkg/internal/adapter/...`); in a
  * Spark-first design the batch scan surface is simply `spark.read` with
  * Catalyst handling column pruning and predicate pushdown — the projection
  * hint the reference declares but never implements
  * (`pkg/internal/types/codec.go:52-57`) comes for free here.
  *
  * All loaders take the scale-factor directory so the same query code runs
  * at sf0.001 (smoke), sf0.01 (oracle), sf0.1 (bench) and, unchanged, on a
  * 100 TB cluster layout (directory of parquet files per table).
  *
  * Every load reads through [[Fs.readParquet]], so a table's schema is
  * inferred (one Spark job reading parquet footers) once per distinct
  * file listing and conf state, not on every load: the cache key is the
  * qualified path, the sorted recursive (file, length, mtime) listing and
  * the parquet-inference confs, including the `nanosAsLong` set here; the
  * cache is an access-order LRU of 256 schemas per JVM. A warm load
  * supplies the schema Spark inferred for that same key, so it resolves
  * the same relation with no job (`ReadParquetSpec` holds the equality
  * for every fixture table and both `events.ts` layouts, and
  * `WarmReadSpec` the absence of a job).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    // `events.ts` is epoch-nanos BIGINT everywhere in this engine; all
    // event-time logic is integer arithmetic on that column (oracle side:
    // duckdb epoch_ns()/epoch_us()). The fixture generator has shipped the
    // column as parquet TIMESTAMP(NANOS) in some rounds (surfaced as a
    // nano-long via legacy nanosAsLong) and TIMESTAMP(MICROS) in others
    // (surfaced as TIMESTAMP_NTZ) — normalize HERE so the contract holds
    // against either physical layout. The session timezone is pinned to
    // UTC because the NTZ→LTZ cast reinterprets the naive wall-clock in
    // session time, and the DuckDB oracle treats the same naive value
    // as-is: any other zone would shift Spark's nanos against the oracle's.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = Fs.readParquet(spark, s"$dir/$table.parquet")
    if (table == "events" && df.schema("ts").dataType != LongType)
      df.withColumn("ts",
        (unix_micros(col("ts").cast(TimestampType)) * 1000L).as("ts"))
    else df
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every fixture table as a temp view so `spark.sql` queries can
    * name them exactly like the DuckDB oracle does. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
