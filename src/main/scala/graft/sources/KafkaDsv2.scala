package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import KafkaProto.{KRecord, TsEarliest, TsLatest}

/** `spark.readStream.format("graft-kafka")` — a genuine DataSourceV2
  * micro-batch source over the from-scratch wire client ([[Kafka]]), so
  * the S4 reader is a REAL Structured Streaming source with offsets in the
  * query checkpoint (exactly-once downstream, superseding the reference's
  * manual commit modes exactly as `Sources.kafkaStream` documents) — no
  * connector jars required. Options:
  *
  *  - `host`, `port`, `topic` (required)
  *  - `startingOffsets`: earliest (default) | latest
  *  - `startingTimestamp`: epoch-ms — each partition starts at the first
  *    record at/after it (overrides startingOffsets; all-older
  *    partitions start at latest, the stock connector's fallback)
  *  - `maxOffsetsPerTrigger`: admission control — the reference reader's
  *    maxPollRecords budget (`kafkaclient/reader.go:83-94`), enforced via
  *    [[SupportsAdmissionControl]] like the stock connector
  *  - `group`: optional — progress is ALSO committed to the broker's
  *    offset store on each epoch commit, purely as an ops-visibility
  *    mirror (lag monitoring); the checkpoint remains the source of truth
  *
  * One Spark input partition per Kafka partition: every executor fetches
  * its own partitions directly from the broker — the same scan parallelism
  * contract as the connector, nothing through the driver. Batch reads
  * ([[TableCapability.BATCH_READ]]) plan the current earliest..latest
  * range the same way. */
final class GraftKafkaProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Kafka.scanSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftKafkaTable(new CaseInsensitiveStringMap(properties))
}

private[sources] final class GraftKafkaTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-kafka:${options.get("topic")}"
  override def schema(): StructType = Kafka.scanSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftKafkaScan(opts)
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftKafkaWrite(info)
    }
}

private[sources] final class GraftKafkaScan(options: CaseInsensitiveStringMap) extends Scan {
  private def req(k: String): String = {
    val v = options.get(k)
    require(v != null && v.nonEmpty, s"graft-kafka requires option '$k'")
    v
  }
  private val host = req("host")
  private val port = req("port").toInt
  private val topic = req("topic")

  override def readSchema(): StructType = Kafka.scanSchema
  override def description(): String = s"graft-kafka $topic@$host:$port"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Kafka.offsetRanges((host, port), topic)
        .map(s => KafkaInputPartition(host, port, s): InputPartition)
        .toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new KafkaReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftKafkaMicroBatchStream(host, port, topic,
      Option(options.get("startingOffsets")).getOrElse("earliest"),
      Option(options.get("maxOffsetsPerTrigger")).map(_.toLong),
      Option(options.get("group")),
      Option(options.get("startingTimestamp")).map(_.toLong))
}

/** Offsets are a per-partition map serialized as canonical JSON
  * (`{"0":12,"1":40}`, keys sorted) — same wire shape as the connector's. */
private[sources] final case class KafkaSourceOffset(parts: Map[Int, Long]) extends Offset {
  override def json(): String =
    parts.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

private[sources] object KafkaSourceOffset {
  private val Entry = "\"(\\d+)\"\\s*:\\s*(\\d+)".r
  def fromJson(s: String): KafkaSourceOffset =
    KafkaSourceOffset(Entry.findAllMatchIn(s)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

private[sources] final class GraftKafkaMicroBatchStream(
    host: String, port: Int, topic: String, startingOffsets: String,
    maxOffsetsPerTrigger: Option[Long], group: Option[String],
    startingTimestamp: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl {

  // driver-side connection with ONE reconnect retry per call: real brokers
  // drop idle sockets (connections.max.idle.ms), and a long trigger
  // interval must not kill the query on the first listOffset after a nap.
  // NOT lazy-val: stop() must never OPEN a socket just to close one.
  @volatile private var clientOpt: Kafka.LeaderClient = _
  private def withClient[A](f: Kafka.LeaderClient => A): A = synchronized {
    if (clientOpt == null) clientOpt = new Kafka.LeaderClient((host, port))
    try f(clientOpt)
    catch {
      case _: java.io.IOException =>
        try clientOpt.close() catch { case _: Exception => () }
        clientOpt = new Kafka.LeaderClient((host, port))
        f(clientOpt)
    }
  }
  private lazy val partitions: Seq[Int] =
    withClient(_.metadata(Seq(topic))(topic))
  // fair-rotation cursor for budgeted triggers (see latestOffset)
  private var rotate = 0

  override def initialOffset(): Offset = {
    // startingTimestamp (the reference reader's start-at-timestamp and
    // the stock connector's option of the same name): each partition
    // starts at the EARLIEST offset whose record timestamp is >= ts;
    // a partition whose records are ALL older answers -1 and starts at
    // latest (the stock connector's fallback)
    startingTimestamp.foreach { ts =>
      return KafkaSourceOffset(partitions.map { p =>
        // capture latest BEFORE the timestamp lookup: a qualifying record
        // produced between the two calls then either answers the lookup
        // (found) or sits at/past the captured latest (not skipped) —
        // the reversed order would silently start past it
        val latest = withClient(_.listOffset(topic, p, TsLatest))
        val o = withClient(_.listOffset(topic, p, ts))
        p -> (if (o < 0) latest else o)
      }.toMap)
    }
    val ts = startingOffsets.toLowerCase match {
      case "earliest" => TsEarliest
      case "latest" => TsLatest
      case other => throw new IllegalArgumentException(
        s"startingOffsets must be earliest|latest, got $other")
    }
    KafkaSourceOffset(partitions.map(p =>
      p -> withClient(_.listOffset(topic, p, ts))).toMap)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Admission control — the reference reader's maxPollRecords budget as a
    * HARD cap: checkpointed starts are first clamped forward to the log
    * start (retention may have deleted offsets under a lagging cursor —
    * without the clamp a budgeted stream crawls through the hole in empty
    * increments, or dies on OFFSET_OUT_OF_RANGE), then the row budget is
    * divided across backlogged partitions with the remainder rotating
    * round-robin between triggers so no partition starves when
    * backlogged > budget. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[KafkaSourceOffset].parts
    val latest = partitions.map(p =>
      p -> withClient(_.listOffset(topic, p, TsLatest))).toMap
    val effFrom = partitions.map { p =>
      val earliest = withClient(_.listOffset(topic, p, TsEarliest))
      p -> math.max(from.getOrElse(p, 0L), math.min(earliest, latest(p)))
    }.toMap
    limit match {
      case mr: ReadMaxRows =>
        val backlogged = partitions.filter(p => latest(p) > effFrom(p)).sorted
        if (backlogged.isEmpty) KafkaSourceOffset(latest)
        else {
          val rotated = {
            val i = rotate % backlogged.size
            backlogged.drop(i) ++ backlogged.take(i)
          }
          rotate += 1
          val per = mr.maxRows() / backlogged.size
          val extra = (mr.maxRows() % backlogged.size).toInt
          val alloc = rotated.zipWithIndex.map { case (p, i) =>
            p -> (per + (if (i < extra) 1L else 0L))
          }.toMap
          KafkaSourceOffset(partitions.map { p =>
            p -> math.min(latest(p), effFrom(p) + alloc.getOrElse(p, 0L))
          }.toMap)
        }
      case _ => KafkaSourceOffset(latest)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaSourceOffset].parts
    val e = end.asInstanceOf[KafkaSourceOffset].parts
    partitions.flatMap { p =>
      val (a, b) = (s.getOrElse(p, 0L), e.getOrElse(p, 0L))
      if (b > a) Some(KafkaInputPartition(host, port, Kafka.Split(topic, p, a, b)): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new KafkaReaderFactory

  override def deserializeOffset(json: String): Offset =
    KafkaSourceOffset.fromJson(json)

  /** Checkpoint is the source of truth; mirror progress to the broker's
    * group store when asked (lag dashboards see the stream like any
    * consumer). Best-effort: a failed mirror must not fail the epoch. */
  override def commit(end: Offset): Unit = group.foreach { g =>
    try withClient(_.offsetCommit(g,
      end.asInstanceOf[KafkaSourceOffset].parts.map { case (p, o) =>
        (topic, p) -> o
      }))
    catch { case _: Exception => () }
  }

  override def stop(): Unit = synchronized {
    if (clientOpt != null) { clientOpt.close(); clientOpt = null }
  }
}

private[sources] final case class KafkaInputPartition(
    host: String, port: Int, split: Kafka.Split) extends InputPartition

private[sources] final class KafkaReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val kp = p.asInstanceOf[KafkaInputPartition]
    new PartitionReader[InternalRow] {
      private val client = new Kafka.LeaderClient((kp.host, kp.port))
      // rows beyond the planned end belong to the next micro-batch
      private val records = Kafka.splitRecords(client, kp.split, 1 << 20,
        readCommitted = false)
      private var current: KRecord = _

      override def next(): Boolean =
        records.hasNext && { current = records.next(); true }

      override def get(): InternalRow =
        InternalRow(
          current.key, current.value,
          UTF8String.fromString(kp.split.topic), kp.split.partition, current.offset,
          current.timestamp * 1000L) // ms → TimestampType micros

      override def close(): Unit = client.close()
    }
  }
}

/** `writeStream.format("graft-kafka")` — the WRITE side of the DSv2
  * table, symmetric with the read side: every task routes rows by
  * murmur2 of the key (null keys round-robin seeded by the Spark
  * partition id) and produces with the IDEMPOTENT producer at the
  * reference writer's batch budgets, through [[Kafka.LeaderClient]]
  * (multi-broker leader routing).
  *
  * Delivery contract (streaming, default `transactional=true`):
  * EXACTLY-ONCE through Kafka transactions. Each task produces its
  * epoch under transactional id `<sinkGroup>-p<sparkPartition>` and
  * commits its epoch fence via TxnOffsetCommit INSIDE the transaction —
  * fence and data become visible atomically at EndTxn(commit), so the
  * old produce-ack→fence window is closed: a task dying anywhere before
  * EndTxn leaves an open transaction that the replay's InitProducerId
  * ABORTS (its data invisible to read_committed consumers), and a
  * replayed task whose fence is already past its epoch skips the produce
  * entirely. The same InitProducerId bumps the producer epoch, FENCING
  * zombie attempts (speculative execution, stale retries): their late
  * produces/commits fail with INVALID_PRODUCER_EPOCH instead of
  * duplicating. Connection-level retries are deduped by the idempotent
  * producer (same pid/sequence resend). With `transactional=false` the
  * sink falls back to the plain fence-after-ack protocol, which tightens
  * the stock non-transactional sink (no unfenced-epoch replay) but keeps
  * the documented die-between-ack-and-fence duplicate window.
  *
  * Input schema: `key`/`value` columns, string or binary (the
  * [[Sources.encodeKafka]] shape). Options: host, port, topic,
  * maxBatchRecords (1000), maxBatchBytes (1 MiB), sinkGroup (defaults
  * to `graft-sink-<queryId>`), transactional (true). */
private[sources] final class GraftKafkaWrite(info: LogicalWriteInfo) extends Write {
  private def req(k: String): String = {
    val v = info.options.get(k)
    require(v != null && v.nonEmpty, s"graft-kafka sink requires option '$k'")
    v
  }
  private val host = req("host")
  private val port = req("port").toInt
  private val topic = req("topic")
  private val maxRecs = Option(info.options.get("maxBatchRecords")).map(_.toInt).getOrElse(1000)
  private val maxBytes = Option(info.options.get("maxBatchBytes")).map(_.toInt).getOrElse(1 << 20)
  private val sinkGroup = Option(info.options.get("sinkGroup"))
    .getOrElse(s"graft-sink-${info.queryId()}")
  private val transactional = Option(info.options.get("transactional"))
    .forall(_.toBoolean) // default true: the exactly-once path
  // stock producer option name + vocabulary (none|gzip|snappy|lz4|zstd)
  private val codec = Kafka.codecId(
    Option(info.options.get("compression.type")).getOrElse("none"))
  private val schema = info.schema()
  require(schema.fieldNames.contains("key") && schema.fieldNames.contains("value"),
    s"graft-kafka sink expects key/value columns, got ${schema.fieldNames.mkString(",")}")

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(i: PhysicalWriteInfo): StreamingDataWriterFactory =
      KafkaWriterFactory(host, port, topic, schema, maxRecs, maxBytes,
        Some(sinkGroup), transactional, codec)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
      KafkaWriterFactory(host, port, topic, schema, maxRecs, maxBytes,
        None, transactional = false, codec)
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
}

/** Serializable task-side factory (the only thing shipped to executors —
  * a factory that closed over the driver-side Write would not
  * serialize). Batch writes pass no fence group (no epochs to replay). */
private[sources] final case class KafkaWriterFactory(
    host: String, port: Int, topic: String, schema: StructType,
    maxRecs: Int, maxBytes: Int, fenceGroup: Option[String],
    transactional: Boolean, codec: Int = KafkaProto.CodecNone)
  extends StreamingDataWriterFactory with DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new KafkaEpochWriter(host, port, topic, schema, maxRecs, maxBytes,
      partitionId, epochId, fenceGroup, transactional, codec)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KafkaEpochWriter(host, port, topic, schema, maxRecs, maxBytes,
      partitionId, epochId = 0L, fenceGroup = None, transactional = false,
      codec = codec)
}

private[sources] final case class KafkaWriteDone(partitionId: Int, epochId: Long,
                                                 records: Long) extends WriterCommitMessage

/** One task's epoch-fenced produce (see [[GraftKafkaWrite]]), idempotent
  * or fully transactional. Batching/routing/reconnect-resend is
  * [[Kafka.BatchProducer]] — the SAME kernel as [[Kafka.write]]; this
  * class adds only the epoch fence and the InternalRow column access.
  * In transactional mode the transactional id AND the fence group are
  * the same string (`<sinkGroup>-p<partition>`) — one name to manage,
  * but NOT a correctness requirement: sendOffsets speaks the full
  * two-coordinator protocol (AddOffsetsToTxn to the txn coordinator,
  * TxnOffsetCommit to the group coordinator, the marker delivered via
  * WriteTxnMarkers when they are different brokers). */
private[sources] final class KafkaEpochWriter(
    host: String, port: Int, topic: String,
    schema: StructType, maxRecs: Int, maxBytes: Int,
    sparkPartition: Int, epochId: Long, fenceGroup: Option[String],
    transactional: Boolean, codec: Int = KafkaProto.CodecNone)
  extends DataWriter[InternalRow] {

  private val keyIdx = schema.fieldIndex("key")
  private val valIdx = schema.fieldIndex("value")
  private def bytesAt(row: InternalRow, i: Int): Array[Byte] =
    if (row.isNullAt(i)) null
    else schema.fields(i).dataType match {
      case org.apache.spark.sql.types.BinaryType => row.getBinary(i)
      case org.apache.spark.sql.types.StringType => row.getUTF8String(i).getBytes
      case other => throw new IllegalArgumentException(
        s"key/value must be string or binary, got $other")
    }

  /** Fence key: one group per (sink, spark partition), partition 0 slot
    * stores lastWrittenEpoch + 1. */
  private def fenceKey(g: String) = s"$g-p$sparkPartition"
  // only a FENCED (streaming) writer needs the fence client; a batch
  // write must not pay a connection + Metadata round-trip it never uses.
  // Group and client travel as ONE Option so no .get can desync them.
  private val fence: Option[(String, Kafka.LeaderClient)] =
    fenceGroup.map(g => (g, new Kafka.LeaderClient((host, port))))
  private def closeFence(): Unit = fence.foreach { case (_, c) =>
    try c.close() catch { case _: Throwable => () } }

  private def newProducer() = new Kafka.BatchProducer((host, port), topic,
    maxRecs, maxBytes, idempotent = true, rrSeed = sparkPartition,
    compression = codec,
    // the transactional id doubles as the fence-group name (see class
    // scaladoc); its init fences zombies and aborts a dead predecessor
    transactionalId =
      if (transactional) fence.map { case (g, _) => fenceKey(g) } else None)

  private def closeProd(): Unit = prodOpt.foreach(p =>
    try p.close() catch { case _: Throwable => () })
  private def fenceIsPast(): Boolean = fence.exists { case (g, c) =>
    c.offsetFetch(fenceKey(g), Seq((topic, 0)))
      .getOrElse((topic, 0), -1L) > epochId
  }
  // OPTIMISTIC pre-check, no ordering value: it only keeps a STALE replay
  // of an already-committed epoch from dialing a producer at all — that
  // init would FENCE a live successor writer's in-flight transaction on
  // the same transactional id (a spurious task failure, not a
  // correctness hole). A throwing check must release the client — Spark
  // never calls close() on a writer whose CONSTRUCTOR failed.
  private val preFenced: Boolean =
    try fenceIsPast()
    catch { case e: Throwable => closeFence(); throw e }
  // TRANSACTIONAL ORDER MATTERS for the authoritative read:
  // InitProducerId runs BEFORE it. Init FENCES the predecessor and
  // DECIDES its in-flight transaction, so the re-read sees a settled
  // world — trusting a fence read taken before init races a
  // predecessor's in-flight EndTxn(commit) into a duplicated epoch (the
  // classic initTransactions-before-reading-offsets rule).
  private var prodOpt: Option[Kafka.BatchProducer] =
    if (!preFenced && transactional && fence.isDefined)
      try Some(newProducer())
      catch { case e: Throwable => closeFence(); throw e }
    else None
  private val alreadyWritten: Boolean = preFenced || {
    if (transactional && fence.isDefined)
      try fenceIsPast() // authoritative: AFTER init settled the predecessor
      catch { case e: Throwable => closeProd(); closeFence(); throw e }
    else false // non-txn: no init to order against; the pre-check stands
  }
  if (alreadyWritten && prodOpt.isDefined) { closeProd(); prodOpt = None }
  private var written = 0L

  override def write(row: InternalRow): Unit = if (!alreadyWritten) {
    val prod = prodOpt.getOrElse {
      val p = newProducer()
      prodOpt = Some(p)
      p
    }
    prod.add(bytesAt(row, keyIdx), bytesAt(row, valIdx))
    written += 1
  }

  override def commit(): WriterCommitMessage = {
    if (!alreadyWritten) {
      (prodOpt, fence) match {
        case (Some(prod), Some((g, _))) if transactional =>
          // flush, stage the fence INSIDE the transaction, commit: fence
          // and data appear atomically — no ack→fence window remains
          prod.flushAll()
          prod.sendOffsets(fenceKey(g), Map((topic, 0) -> (epochId + 1)))
          prod.commitTxn()
        case _ =>
          prodOpt.foreach(_.flushAll())
          // plain (non-transactional) path: fence AFTER every record is
          // acknowledged — a replay of this epoch skips produce. (In
          // transactional mode even a ROWLESS epoch takes the branch
          // above: its fence commits as a markers-free transaction.)
          fence.foreach { case (g, c) =>
            c.offsetCommit(fenceKey(g), Map((topic, 0) -> (epochId + 1))) }
      }
    }
    KafkaWriteDone(sparkPartition, epochId, written)
  }

  // a failed transactional task aborts best-effort (the successor's init
  // aborts it anyway); plain mode relies on idempotence + replay re-fence
  override def abort(): Unit =
    if (transactional) prodOpt.foreach(p =>
      try p.abortTxn() catch { case _: Throwable => () })
  override def close(): Unit = {
    try prodOpt.foreach(_.close())
    finally fence.foreach { case (_, c) =>
      try c.close() catch { case _: Throwable => () } }
  }
}
