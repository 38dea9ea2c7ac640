package graft.sources

import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, Trigger}

/** Batch + streaming source/sink surface (SURVEY §2.1/§2.6, §7.4-7.5).
  *
  * Each reference adapter maps to a declarative Spark reader/writer; the
  * hand-rolled poll budgets, flush triples, and checkpoints become source
  * options, triggers, and Structured Streaming checkpoints (strictly
  * stronger: exactly-once vs the reference's at-least-once manual commits).
  */
object Sources {

  /** NDJSON (+gzip) reader — the reference S3/file NDJSON scan
    * (`/root/reference/pkg/internal/adapter/s3client/reader.go:139-178`).
    * Schema must be supplied for production use (inference = extra pass). */
  def ndjson(spark: SparkSession, path: String,
             schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.option("compression", "gzip").option("mode", "PERMISSIVE")
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Decode line-framed JSON records: blank lines (keep-alives, trailing
    * newlines) and unparseable lines produce NO row — a null struct from
    * `from_json` would otherwise expand to a phantom all-null record.
    * Callers that must ROUTE bad records instead of dropping them should
    * parse upstream with the T4 error-split pattern (`Pipeline`/
    * `GuardedBatchSink`), not this helper. Shared by the socket jack, the
    * CSE reader, and the HTTP poll source. */
  def jsonLines(lines: DataFrame, lineCol: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    lines.filter(trim(col(lineCol)) =!= "")
      .select(from_json(col(lineCol), schema).as("r"))
      .filter(col("r").isNotNull)
      .select("r.*")

  /** S9 server jack, socket variant: a listening ingress that PEERS push
    * line-framed records to (the reference's HTTP/WS server jacks,
    * `/root/reference/pkg/internal/adapter/httpserver/serve.go`,
    * `wsserver/`), expressed with Spark's built-in socket source + NDJSON
    * decode. The HTTP/WS framing itself stays out of engine scope (SURVEY
    * §2.1 — terminate protocol at a gateway and forward line-framed), but
    * the jack semantics — bind, accept pushed records, decode, flow into
    * the same transform chain — are real and e2e-tested. Driver-ingress
    * like the reference's single listener; NOT for production fan-in at
    * scale (that edge is Kafka), exactly as the reference documents its
    * jacks as edge adapters. */
  def socketNdjsonStream(spark: SparkSession, host: String, port: Int,
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    jsonLines(spark.readStream.format("socket")
      .option("host", host).option("port", port).load(), "value", schema)

  /** K5 forward relay, socket variant: push records to a downstream
    * listener as NDJSON lines (the receiving side is
    * [[socketNdjsonStream]]), one connection per partition
    * ([[RelayWriter.foreachConnection]]: executor-side, never through the
    * driver; from `foreachBatch`, at-least-once per batch on retry). */
  def writeSocketNdjson(df: DataFrame, host: String, port: Int): Unit =
    RelayWriter.foreachConnection(df, RelayWriter.socket(host, port))(RelayWriter.ndjsonLines)

  /** Streaming file source with a files-per-trigger ingest cap — the poll
    * budget of the reference readers (maxPollRecords/Bytes/interval,
    * `/root/reference/pkg/internal/adapter/kafkaclient/reader.go:83-94`)
    * expressed declaratively. */
  def fileStream(spark: SparkSession, path: String, format: String,
                 schema: org.apache.spark.sql.types.StructType,
                 maxFilesPerTrigger: Int = 0): DataFrame = {
    var r: DataStreamReader = spark.readStream.format(format).schema(schema)
    if (maxFilesPerTrigger > 0) r = r.option("maxFilesPerTrigger", maxFilesPerTrigger)
    r.load(path)
  }

  /** Kafka streaming source wiring (S4): NDJSON value decode via from_json,
    * start-at earliest/latest/timestamp, poll budget via
    * maxOffsetsPerTrigger. Builder-only here (no broker in the test env);
    * the decode column logic is unit-tested on static frames.
    *
    * THIS builder needs the spark-sql-kafka connector jars (present on any
    * real cluster; absent from this build's classpath, which resolves
    * neither kafka_2.13 nor the connector). The edge is nonetheless REAL
    * without them: [[Kafka]] speaks the wire protocol itself
    * ([[KafkaProto]] — RecordBatch v2/CRC32C, produce/fetch/offsets APIs)
    * with a distributed batch read, an executor-side producer, and the
    * exactly-once spool bridge, all e2e-tested against a protocol-faithful
    * broker (KafkaE2eSpec) — the Derby-for-Postgres move, applied to
    * Kafka. On a connector-equipped cluster prefer this builder: the
    * connector's offset checkpointing supersedes manual commits. */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String,
                  valueSchema: org.apache.spark.sql.types.StructType,
                  startingOffsets: String = "earliest",
                  maxOffsetsPerTrigger: Long = 0): DataFrame = {
    var r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    if (maxOffsetsPerTrigger > 0) r = r.option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
    decodeKafka(r.load(), valueSchema)
  }

  /** [[kafkaStream]] without the connector jars: the same builder shape
    * over the in-repo DataSourceV2 source (`graft-kafka`,
    * [[GraftKafkaProvider]]) speaking the wire protocol directly. Offsets
    * live in the query checkpoint (exactly-once downstream); `group`
    * optionally mirrors progress to the broker's offset store for lag
    * dashboards. */
  def kafkaStreamWire(spark: SparkSession, host: String, port: Int, topic: String,
                      valueSchema: org.apache.spark.sql.types.StructType,
                      startingOffsets: String = "earliest",
                      maxOffsetsPerTrigger: Long = 0,
                      group: String = null): DataFrame = {
    var r = spark.readStream.format("graft-kafka")
      .option("host", host).option("port", port.toString)
      .option("topic", topic)
      .option("startingOffsets", startingOffsets)
    if (maxOffsetsPerTrigger > 0)
      r = r.option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
    if (group != null) r = r.option("group", group)
    decodeKafka(r.load(), valueSchema)
  }

  /** Kafka value/key decode: bytes → string → from_json struct columns
    * (reference NDJSON decode, `kafkaclient/reader.go:146-171`). */
  def decodeKafka(raw: DataFrame, valueSchema: org.apache.spark.sql.types.StructType): DataFrame =
    raw.select(
      col("key").cast("string").as("key"),
      from_json(col("value").cast("string"), valueSchema).as("value"),
      col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** Kafka sink encode (K1): record → to_json value, key/header columns from
    * `{field}` templates (`/root/reference/pkg/internal/adapter/kafkaclient/
    * templates.go:9-57`): "{user_id}" renders that column, free text passes
    * through. */
  def encodeKafka(df: DataFrame, keyTemplate: String): DataFrame =
    df.select(
      renderTemplate(df, keyTemplate).as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Render a `{field}` template into a concat of columns/literals. */
  def renderTemplate(df: DataFrame, template: String): Column = {
    val parts = "\\{[^}]+\\}|[^{]+".r.findAllIn(template).map { tok =>
      if (tok.startsWith("{") && tok.endsWith("}")) col(tok.substring(1, tok.length - 1)).cast("string")
      else lit(tok)
    }.toSeq
    if (parts.isEmpty) lit("") else concat(parts: _*)
  }

  /** Partitioned NDJSON/parquet writer with time-template layout — the
    * reference's `{yyyy}/{MM}/{dd}/{HH}` object-key template
    * (`/root/reference/pkg/internal/adapter/s3client/writer_helpers.go:327-353`)
    * expressed as Hive-style partitioning (which also gives readers
    * partition pruning, which key templates never could). */
  def writePartitionedByTime(df: DataFrame, tsCol: String, path: String,
                             format: String = "parquet",
                             compression: String = "snappy"): Unit =
    df.withColumn("yyyy", year(col(tsCol)))
      .withColumn("mm", month(col(tsCol)))
      .withColumn("dd", dayofmonth(col(tsCol)))
      .write.mode("append")
      .partitionBy("yyyy", "mm", "dd")
      .option("compression", compression)
      .format(format).save(path)

  /** JDBC pushdown read (S7): the reference's generated
    * `SELECT ... WHERE ... ORDER BY ... LIMIT n`
    * (`/root/reference/pkg/internal/adapter/postgresclient/reader.go:103-129`)
    * becomes a JDBC `query` option — the database executes it, Spark reads
    * the result. Builder returns the reader so tests can inspect options
    * without a live database. */
  def jdbcPushdownQuery(table: String, columns: Seq[String], where: Option[String],
                        orderBy: Option[String], limit: Option[Int],
                        ansiLimit: Boolean = false): String = {
    val cols = if (columns.isEmpty) "*" else columns.mkString(", ")
    val sb = new StringBuilder(s"SELECT $cols FROM $table")
    where.foreach(w => sb.append(s" WHERE $w"))
    orderBy.foreach(o => sb.append(s" ORDER BY $o"))
    // Postgres speaks LIMIT; Derby and other strict-ANSI engines speak
    // FETCH FIRST (same plan, different spelling)
    limit.foreach(n => sb.append(
      if (ansiLimit) s" FETCH FIRST $n ROWS ONLY" else s" LIMIT $n"))
    sb.toString
  }

  /** Upsert statement generator (K4): the reference's
    * `INSERT ... ON CONFLICT (keys) DO UPDATE SET ...`
    * (`/root/reference/pkg/internal/adapter/postgresclient/sql.go:186-208`).
    * Used from foreachBatch: write the micro-batch to a staging table, then
    * execute this statement over the JDBC connection — Spark's task retries
    * stay idempotent because the upsert is key-deterministic. */
  def upsertSql(table: String, keyCols: Seq[String], cols: Seq[String]): String = {
    require(keyCols.nonEmpty && cols.nonEmpty)
    val updates = cols.filterNot(keyCols.contains)
      .map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keyCols.mkString(", ")}) DO UPDATE SET $updates"
  }

  def jdbc(spark: SparkSession, url: String, query: String,
           props: Map[String, String] = Map.empty): DataFrameReader =
    props.foldLeft(spark.read.format("jdbc").option("url", url).option("query", query)) {
      case (r, (k, v)) => r.option(k, v)
    }

  /** ANSI MERGE upsert generator — the K4 upsert for engines that speak
    * standard MERGE instead of Postgres `ON CONFLICT` (Derby, SQL Server,
    * Oracle, Postgres 15+): same last-write-wins contract as [[upsertSql]],
    * sourced from a staging table instead of a VALUES list. COLUMN names
    * are double-quoted to match how Spark's JDBC writer creates the
    * staging table (it quotes column names, preserving case). TABLE names
    * are quoted the same way UNLESS the caller already quoted them —
    * pass the db's case-folded spelling (e.g. `EVENTS_LATEST` on
    * Derby/Oracle) or a pre-quoted name to target a table that was
    * created with unquoted identifiers. */
  def mergeUpsertSql(table: String, staging: String,
                     keyCols: Seq[String], cols: Seq[String]): String = {
    require(keyCols.nonEmpty && cols.nonEmpty, "keyCols and cols must be non-empty")
    require(keyCols.forall(cols.contains), s"keyCols ${keyCols.mkString(",")} must be a subset of cols")
    require(keyCols.size < cols.size, "upsert needs at least one non-key column to update")
    def q(s: String) = "\"" + s + "\""
    def qTbl(s: String) = if (s.startsWith("\"")) s else q(s)
    val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val updates = cols.filterNot(keyCols.contains)
      .map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
    s"MERGE INTO ${qTbl(table)} t USING ${qTbl(staging)} s ON $on " +
      s"WHEN MATCHED THEN UPDATE SET $updates " +
      s"WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"
  }

  /** K4 upsert micro-batch body (the reference's Postgres writer upsert,
    * `/root/reference/pkg/internal/adapter/postgresclient/sql.go:186-266`,
    * re-expressed for Spark's execution model): reduce the batch to its
    * LAST write per key (row_number over `orderCols` desc — MERGE requires
    * unique source keys, and the reduce is what makes task retries
    * harmless), bulk-write the survivors to a staging table through
    * Spark's distributed JDBC writer, then run ONE set-oriented MERGE on
    * the driver connection. Replaying the same batch is idempotent (MERGE
    * is key-deterministic); batches apply in arrival order, exactly the
    * reference's ON CONFLICT DO UPDATE semantics. Call from `foreachBatch`
    * for streaming upserts. The heavy row traffic (staging write) is
    * executor-distributed; only the O(1) MERGE statement runs on the
    * driver.
    *
    * `orderCols` must be a TOTAL order within each key (q09 uses
    * (ts, event_id)): on ties, row_number picks an arbitrary survivor and
    * a task retry may pick a different one — the same caveat the
    * reference's batch insert has on duplicate keys in one batch. */
  def upsertViaStaging(batch: DataFrame, url: String, table: String,
                       keyCols: Seq[String], orderCols: Seq[String],
                       props: Map[String, String] = Map.empty,
                       staging: Option[String] = None,
                       createColumnTypes: Option[String] = None): Unit = {
    import org.apache.spark.sql.expressions.Window
    // default staging name composes INSIDE any caller-supplied quoting
    val stagingTable = staging.getOrElse {
      if (table.startsWith("\""))
        "\"" + table.stripPrefix("\"").stripSuffix("\"") + "_stage\""
      else s"${table}_stage"
    }
    val cols = batch.columns.toSeq
    require(!cols.contains("__rn"),
      "batch column name __rn is reserved by the last-write-wins reduce")
    // build (and thereby validate) the MERGE before the expensive
    // distributed staging write: a bad keyCols config must fail in
    // milliseconds, not after the whole micro-batch hit the database
    val mergeSql = mergeUpsertSql(table, stagingTable, keyCols, cols)
    val reduced =
      if (orderCols.isEmpty) batch.dropDuplicates(keyCols)
      else {
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(orderCols.map(c => col(c).desc): _*)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    // the staging name is passed QUOTED so the writer's CREATE TABLE and
    // the MERGE below resolve the same case-preserved identifier (Spark
    // embeds dbtable verbatim; unquoted names would case-fold DB-side)
    var writer = props.foldLeft(
      reduced.write.format("jdbc")
        .option("url", url).option("dbtable",
          if (stagingTable.startsWith("\"")) stagingTable
          else "\"" + stagingTable + "\"")) {
      case (wr, (k, v)) => wr.option(k, v)
    }
    createColumnTypes.foreach(t => writer = writer.option("createTableColumnTypes", t))
    writer.mode("overwrite").save()
    val connProps = new java.util.Properties()
    props.foreach { case (k, v) => if (k != "driver") connProps.setProperty(k, v) }
    props.get("driver").foreach(d => Class.forName(d))
    val conn = java.sql.DriverManager.getConnection(url, connProps)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(mergeSql)
      finally st.close()
      if (!conn.getAutoCommit) conn.commit()
    } finally conn.close()
  }

  /** S5 client-side-encryption READ path: the reference decrypts whole S3
    * objects before parsing (`/root/reference/pkg/internal/adapter/s3client/
    * reader.go:66-137`: AES-GCM open → gunzip → NDJSON lines → unmarshal).
    * Spark shape: `binaryFile` scan (one row per object, distributed) →
    * native codegen'd `aes_decrypt` on the object bytes → gunzip kernel
    * (per FILE, not per record) → line split → `from_json`. Objects stay
    * executor-local end to end — no driver fetch, no shuffle; parallelism =
    * number of objects, exactly the reference's per-object decode unit. */
  def readEncryptedNdjson(spark: SparkSession, path: String, key: Array[Byte],
                          schema: org.apache.spark.sql.types.StructType,
                          gzipped: Boolean = true,
                          pathGlob: String = "*.ndjson.enc"): DataFrame = {
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob).load(path)
    val plain = graft.functions.Crypto.aesGcmDecrypt(col("content"), lit(key))
    val text = (if (gzipped) graft.functions.Codecs.gunzipCol(plain) else plain).cast("string")
    jsonLines(blobs.select(explode(split(text, "\\r?\\n")).as("line")),
      "line", schema)
  }

  /** S5 CSE WRITE path (the reference seal: NDJSON → gzip → AES-GCM →
    * object put, `writer_helpers.go:163-246`). One encrypted object per
    * partition, written executor-side through the Hadoop FileSystem (local,
    * HDFS, or s3a — same API the parquet writers use), so the writer
    * distributes like any other sink. Encryption format is Spark-native
    * (12-byte IV prefix), so [[readEncryptedNdjson]]'s `aes_decrypt` opens
    * it. */
  def writeEncryptedNdjson(df: DataFrame, path: String, key: Array[Byte],
                           gzipped: Boolean = true): Unit = {
    val suffix = ".ndjson.enc"
    val spark = df.sparkSession
    // the SESSION Hadoop conf (spark.hadoop.* — s3a credentials, defaultFS),
    // shipped to executors like the built-in writers do; a bare
    // `new Configuration()` on the executor would see none of it.
    // Shipped as entries (Configuration itself is not Serializable and
    // Spark's SerializableConfiguration wrapper is private[spark]).
    val confEntries: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    val confBc = spark.sparkContext.broadcast(confEntries)
    // overwrite semantics like parquet's mode("overwrite"): clear previous
    // objects first, or a rewrite with fewer partitions leaves stale parts
    // that the read glob silently unions in
    val (dfs, dir) = Fs.of(spark, path)
    if (dfs.exists(dir))
      dfs.listStatus(dir).filter(_.getPath.getName.endsWith(suffix))
        .foreach(st => dfs.delete(st.getPath, false))
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      if (it.hasNext) {
        val body = it.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sealed0 = if (gzipped) graft.functions.Codecs.gzip(body) else body
        val blob = graft.functions.Crypto.aesGcmEncryptBytes(sealed0, key)
        val pid = org.apache.spark.TaskContext.get().partitionId()
        val d = new org.apache.hadoop.fs.Path(path)
        val hc = new org.apache.hadoop.conf.Configuration(false)
        confBc.value.foreach { case (k, v) => hc.set(k, v) }
        val fs = d.getFileSystem(hc)
        val out = fs.create(new org.apache.hadoop.fs.Path(d, f"part-$pid%05d$suffix"), true)
        try out.write(blob) finally out.close()
      }
    }
  }

  /** Streaming sink with the reference's flush-age trigger (K2/K3: flush by
    * count/bytes/age ⇒ micro-batch ProcessingTime trigger; Spark sizes the
    * files, the trigger bounds the age). */
  def timedFileSink[T](ds: Dataset[T], path: String, checkpoint: String,
                       format: String, triggerMillis: Long): DataStreamWriter[T] =
    ds.writeStream.format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMillis))
}
