package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import KafkaProto._

/** Kafka edge without the connector jars: a blocking wire client over
  * [[KafkaProto]] plus the Spark integration — a distributed batch read
  * (one Spark task per Kafka partition), a distributed producer sink with
  * the reference's batch budgets and `{field}` key semantics, and a
  * spool consumer that bridges a topic into Spark's file stream with
  * exactly-once delivery (offset-named idempotent spool files + broker
  * committed offsets — the same spool discipline as `HttpServerJack`).
  *
  * Reference semantics mapped (`/root/reference/pkg/internal/adapter/
  * kafkaclient/`): poll budgets maxPollRecords/maxPollBytes
  * (`reader.go:83-94`), commit modes auto / manual:after-each /
  * manual:after-batch (`reader.go:185-296`), NDJSON values with bad rows
  * dropped not fatal (`reader.go:146-171`), writer batch maxRecords/
  * maxBytes/acks (`writer.go:108-200`), murmur2 default partitioning.
  * On a cluster with the stock connector, `Sources.kafkaStream` is the
  * drop-in equivalent of the spool bridge; this path exists so the edge
  * is REAL — produced, fetched, committed, and restart-tested — in any
  * JVM-only environment. */
object Kafka {

  /** The connector-compatible scan schema ([[Sources.decodeKafka]] accepts
    * either source). */
  val scanSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType)))

  final case class Split(topic: String, partition: Int, start: Long, end: Long)

  /** One JoinGroup answer: the broker-assigned member id, the rebalance
    * generation, and — for the member elected LEADER — every member's
    * decoded topic subscription (the input to the range assignor; empty
    * for followers, the real protocol's shape). */
  final case class JoinResult(generation: Int, memberId: String,
                              leaderId: String,
                              members: Seq[(String, Seq[String])]) {
    def isLeader: Boolean = memberId == leaderId
  }

  /** Typed routing error: the broker answering is not (or no longer) the
    * partition's leader — the client must refresh metadata and re-route
    * ([[LeaderClient]] does; a raw [[WireClient]] caller sees it raw). */
  final class NotLeaderForPartition(val topic: String, val partition: Int)
    extends IOException(s"not the leader for $topic/$partition — refresh metadata")

  /** Typed routing error: the broker answering does not coordinate this
    * group — re-resolve via FindCoordinator ([[LeaderClient]] does). */
  final class NotCoordinator(val group: String)
    extends IOException(s"not the coordinator for group $group — re-resolve")

  /** Typed membership signal: the group is rebalancing — the member must
    * REJOIN (JoinGroup) to get its new generation + assignment. An
    * answer, not a transport failure: never re-routed or retried. */
  final class RebalanceInProgress(val group: String)
    extends IOException(s"group $group is rebalancing — rejoin")

  /** Typed membership fence (ILLEGAL_GENERATION / UNKNOWN_MEMBER_ID):
    * this member's generation is stale or it was evicted — its commits
    * must NOT land (they would overwrite the new owner's progress). */
  final class StaleMember(val group: String, val code: Short)
    extends IOException(s"stale member of group $group (error $code) — rejoin")

  /** Typed FENCE error (INVALID_PRODUCER_EPOCH): a newer producer claimed
    * this transactional id — this instance is a ZOMBIE (a speculative or
    * stale task attempt) and must stop, never retry: its batches would
    * duplicate the successor's. Deliberately NOT retried by any transport
    * recovery path. */
  final class ProducerFenced(val txnId: String)
    extends IOException(s"producer fenced: a newer producer owns transactional id $txnId")

  /** One Metadata response's routing view: brokers by node id, EVERY
    * partition id per topic (leaderless-during-election ones included —
    * partition COUNTS drive key placement and split planning, and must
    * not flicker with elections), and the leader node per currently-led
    * partition. */
  final case class ClusterMeta(brokers: Map[Int, (String, Int)],
                               parts: Map[String, Seq[Int]],
                               leaders: Map[(String, Int), Int]) {
    def partitions(topic: String): Seq[Int] = parts.getOrElse(topic, Nil)
  }

  /** The client surface shared by the fetch kernel, the distributed
    * read/write, and the spool bridge — implemented directly by
    * [[WireClient]] (single broker) and by [[LeaderClient]] (metadata-
    * routed connection pool for real multi-broker clusters). */
  trait Client extends AutoCloseable {
    def metadata(topics: Seq[String] = null): Map[String, Seq[Int]]
    def fetch(topic: String, partition: Int, offset: Long,
              maxBytes: Int = 1 << 20, maxWaitMs: Int = 500,
              minBytes: Int = 1): (Long, Seq[KRecord])
    /** Cursor-advancing fetch: returns (nextCursor, records) where the
      * cursor advances past EVERY batch span fetched — control markers
      * and (in read_committed mode) aborted data consume offsets the
      * record view never shows, so "records.last.offset + 1" alone
      * would stall below them. `readCommitted` = isolation level 1:
      * only records of committed transactions, below the last stable
      * offset. */
    def fetchFrom(topic: String, partition: Int, offset: Long,
                  maxBytes: Int = 1 << 20, maxWaitMs: Int = 500,
                  minBytes: Int = 1,
                  readCommitted: Boolean = false): (Long, Seq[KRecord])
    /** The LAST STABLE OFFSET: the first offset still claimed by an open
      * transaction (log end when none). What a read_committed consumer's
      * "no more data" actually means — undecided, not absent. */
    def lastStable(topic: String, partition: Int): Long
    def listOffset(topic: String, partition: Int, ts: Long): Long
    def produce(topic: String, partition: Int, recordSet: Array[Byte],
                timeoutMs: Int = 30000, transactionalId: String = null): Long
    def initProducerId(transactionalId: String = null): (Long, Short)
    def offsetCommit(group: String, offsets: Map[(String, Int), Long]): Unit
    /** OffsetCommit AS a group member: carries (generation, memberId) so
      * the coordinator can fence a stale member's commit
      * (ILLEGAL_GENERATION → [[Kafka.StaleMember]]). */
    def offsetCommitAs(group: String, generation: Int, memberId: String,
                       offsets: Map[(String, Int), Long]): Unit
    def offsetFetch(group: String, tps: Seq[(String, Int)]): Map[(String, Int), Long]
    // -- consumer-group membership (JoinGroup/SyncGroup/Heartbeat/Leave) --
    def joinGroup(group: String, topics: Seq[String], memberId: String,
                  sessionTimeoutMs: Int): JoinResult
    def syncGroup(group: String, generation: Int, memberId: String,
                  assignments: Map[String, Map[String, Seq[Int]]]): Map[String, Seq[Int]]
    def heartbeat(group: String, generation: Int, memberId: String): Unit
    def leaveGroup(group: String, memberId: String): Unit
    // -- transactions (null-checked by impls; see WireClient scaladoc) --
    def addPartitionsToTxn(txnId: String, pid: Long, epoch: Short,
                           topic: String, partitions: Seq[Int]): Unit
    def addOffsetsToTxn(txnId: String, pid: Long, epoch: Short,
                        group: String): Unit
    def endTxn(txnId: String, pid: Long, epoch: Short, commit: Boolean): Unit
    def txnOffsetCommit(txnId: String, group: String, pid: Long, epoch: Short,
                        offsets: Map[(String, Int), Long]): Unit
  }

  /** Typed fetch error: the broker refused the offset (below the log start
    * after retention/compaction, or beyond the log end). `logEnd` carries
    * the response's high-watermark field VERBATIM — real brokers set it to
    * −1 on an error partition, so it disambiguates nothing; recovery
    * ([[fetchPage]]) resolves the actual log bounds via
    * ListOffsets(earliest/latest) instead of consulting it. */
  final class OffsetOutOfRange(val topic: String, val partition: Int,
                               val offset: Long, val logEnd: Long)
    extends IOException(
      s"offset out of range: $topic/$partition@$offset" +
        (if (logEnd >= 0) s" (logEnd=$logEnd)"
         else " (log bounds not in response; resolve via ListOffsets)"))

  /** ONE gap-safe fetch page — the shared kernel behind [[read]], the
    * DSv2 reader, and [[SpoolConsumer]] (one place to fix fetch-cursor
    * semantics, not three): returns the records in `[off, end)` and the
    * next cursor, advanced past EVERYTHING fetched so retention/compaction
    * holes never pin it. A cursor below the log start (real brokers answer
    * OFFSET_OUT_OF_RANGE; deleted offsets cannot be read) clamps forward
    * to earliest — the stock consumer's reset-to-earliest for a lagging
    * cursor. Returns `(Nil, off)` when there is genuinely nothing at or
    * past `off` yet. */
  def fetchPage(c: Client, topic: String, partition: Int, off: Long,
                end: Long = Long.MaxValue,
                maxBytes: Int = 1 << 20,
                readCommitted: Boolean = false): (Seq[KRecord], Long) = {
    // the cursor comes from fetchFrom's DECODED-span answer: records
    // alone can't drive it — control markers (and, read_committed,
    // aborted batches) consume offsets the record view never shows
    def page(at: Long): (Long, Seq[KRecord]) =
      c.fetchFrom(topic, partition, at, maxBytes, readCommitted = readCommitted)
    val (next, recs) =
      try page(off)
      catch {
        case e: OffsetOutOfRange =>
          // Resolve the log bounds with ListOffsets rather than trusting the
          // fetch error response's high-watermark field: real brokers set hw
          // to -1 on an error partition, so branching on it would disable
          // this recovery path everywhere except a test double. The clamped
          // refetch can itself race retention (earliest advances between the
          // ListOffsets and the refetch), so re-resolve and retry a few
          // times before letting the error escape to Spark's task retry.
          var attempt = 0
          var result: (Long, Seq[KRecord]) = null
          // the last log-start we already refetched at: a retry only
          // makes sense if retention advanced it AGAIN past that point
          var refetchedAt = -1L
          while (result == null) {
            val earliest = c.listOffset(topic, partition, TsEarliest)
            val latest = c.listOffset(topic, partition, TsLatest)
            if (earliest <= off || earliest <= refetchedAt)
              throw e // not a gap — genuinely bad cursor
            else if (earliest >= latest)
              return (Nil, earliest) // the whole backlog was deleted: skip it
            else
              try { result = page(earliest) }
              catch {
                case e2: OffsetOutOfRange =>
                  attempt += 1
                  if (attempt >= 3) throw e2
                  refetchedAt = earliest // re-resolve against newer bounds
              }
          }
          result
      }
    if (recs.isEmpty && next <= off) (Nil, off)
    else (recs.filter(_.offset < end), math.max(next, off))
  }

  // ======================================================================
  // wire client
  // ======================================================================

  /** One blocking connection; calls are serialized (the classic protocol
    * allows pipelining, but every use here is call-and-wait). */
  final class WireClient(host: String, port: Int, clientId: String = "graft",
                         timeoutMs: Int = 30000) extends Client {
    private val sock = new Socket(host, port)
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(timeoutMs)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    private var corr = 0

    private def call(apiKey: Int, version: Int, body: Array[Byte]): Reader =
      this.synchronized {
        corr += 1
        writeRequest(out, apiKey, version, corr, clientId, body)
        val (gotCorr, r) = readResponse(in)
        if (gotCorr != corr)
          throw new IOException(s"correlation mismatch: sent $corr got $gotCorr")
        r
      }

    /** ApiVersions v0 → (apiKey, minVersion, maxVersion). */
    def apiVersions(): Seq[(Int, Int, Int)] = {
      val r = call(ApiApiVersions, 0, new Writer().toBytes)
      val err = r.int16()
      require(err == ErrNone, s"ApiVersions error $err")
      r.array(x => (x.int16().toInt, x.int16().toInt, x.int16().toInt))
    }

    /** Metadata v1 → partition ids per topic. */
    def metadata(topics: Seq[String] = null): Map[String, Seq[Int]] =
      metadataCluster(topics).parts

    /** Metadata v1 with the ROUTING view: broker addresses by node id and
      * the leader node per partition — what [[LeaderClient]] keys its
      * connection pool by (`SCALING.md` multi-broker note, now real). */
    def metadataCluster(topics: Seq[String] = null): ClusterMeta = {
      val w = new Writer()
      if (topics == null) w.int32(-1)
      else w.array(topics)((b, t) => b.string(t))
      val r = call(ApiMetadata, 1, w.toBytes)
      val brokers = r.array { x =>
        val id = x.int32(); val host = x.string(); val port = x.int32()
        x.nullableString() // rack
        id -> ((host, port))
      }.toMap
      r.int32() // controller id
      val leaders = Map.newBuilder[(String, Int), Int]
      val parts = Map.newBuilder[String, Seq[Int]]
      r.array { t =>
        val err = t.int16()
        val name = t.string()
        t.int8() // is_internal
        val ids = t.array { p =>
          p.int16() // partition error (e.g. LEADER_NOT_AVAILABLE mid-election)
          val id = p.int32(); val leader = p.int32()
          p.array(_.int32()); p.array(_.int32())
          // leader = -1 during election: the partition still EXISTS (ids
          // below), but gets no routing entry — leaderConn's missing-entry
          // path then refreshes/retries instead of blowing up on brokers(-1)
          if (leader >= 0) leaders += (name, id) -> leader
          id
        }
        require(err == ErrNone, s"metadata error $err for topic $name")
        parts += name -> ids.sorted
      }
      ClusterMeta(brokers, parts.result(), leaders.result())
    }

    /** Produce v3 (acks=-1): returns the assigned base offset. A non-null
      * `transactionalId` marks the request transactional (the record set
      * must carry the [[KafkaProto.AttrTransactional]] bit and the
      * producer's pid/epoch); a stale epoch surfaces as the typed
      * [[Kafka.ProducerFenced]] — the zombie-attempt STOP signal, never
      * retried. */
    def produce(topic: String, partition: Int, recordSet: Array[Byte],
                timeoutMs: Int = 30000, transactionalId: String = null): Long = {
      val w = new Writer()
      w.nullableString(transactionalId)
      w.int16(-1)            // acks: all
      w.int32(timeoutMs)
      w.array(Seq(topic)) { (b, t) =>
        b.string(t)
        b.array(Seq(partition)) { (pb, p) =>
          pb.int32(p)
          pb.nullableBytes(recordSet)
        }
      }
      val r = call(ApiProduce, 3, w.toBytes)
      var base = -1L
      r.array { t =>
        t.string()
        t.array { p =>
          p.int32()
          val err = p.int16()
          base = p.int64()
          p.int64() // log_append_time
          if (err == KafkaProto.ErrNotLeaderForPartition)
            throw new Kafka.NotLeaderForPartition(topic, partition)
          if (err == KafkaProto.ErrInvalidProducerEpoch)
            throw new Kafka.ProducerFenced(String.valueOf(transactionalId))
          require(err == ErrNone, s"produce error $err on $topic/$partition")
        }
      }
      r.int32() // throttle
      base
    }

    /** Fetch v4 from `offset` at the given isolation level: returns
      * (highWatermark, lastStableOffset, abortedTxns, rawRecordSet). */
    private def fetchRaw(topic: String, partition: Int, offset: Long,
                         maxBytes: Int, maxWaitMs: Int, minBytes: Int,
                         isolation: Int): (Long, Long, Seq[(Long, Long)], Array[Byte]) = {
      val w = new Writer()
      w.int32(-1) // replica_id: consumer
      w.int32(maxWaitMs)
      w.int32(minBytes)
      w.int32(maxBytes)
      w.int8(isolation) // 0 = READ_UNCOMMITTED, 1 = READ_COMMITTED
      w.array(Seq(topic)) { (b, t) =>
        b.string(t)
        b.array(Seq(partition)) { (pb, p) =>
          pb.int32(p); pb.int64(offset); pb.int32(maxBytes)
        }
      }
      val r = call(ApiFetch, 4, w.toBytes)
      r.int32() // throttle
      var hw = -1L
      var lso = -1L
      var aborted: Seq[(Long, Long)] = Nil
      var set: Array[Byte] = null
      r.array { t =>
        t.string()
        t.array { p =>
          p.int32()
          val err = p.int16()
          hw = p.int64()
          lso = p.int64() // last_stable_offset
          aborted = p.array(a => (a.int64(), a.int64())) // (pid, firstOffset)
          set = p.nullableBytes()
          if (err == KafkaProto.ErrOffsetOutOfRange)
            throw new Kafka.OffsetOutOfRange(topic, partition, offset, hw)
          if (err == KafkaProto.ErrNotLeaderForPartition)
            throw new Kafka.NotLeaderForPartition(topic, partition)
          require(err == ErrNone, s"fetch error $err on $topic/$partition@$offset")
        }
      }
      (hw, lso, aborted, set)
    }

    /** Fetch v4 from `offset`: (highWatermark, records-at-or-after-offset).
      * The broker legitimately returns the whole batch CONTAINING the
      * fetch offset; records below it are skipped here, exactly like the
      * real consumer. READ_UNCOMMITTED: transactional records surface
      * as they land (control markers are dropped in decode). */
    def fetch(topic: String, partition: Int, offset: Long,
              maxBytes: Int = 1 << 20, maxWaitMs: Int = 500,
              minBytes: Int = 1): (Long, Seq[KRecord]) = {
      val (hw, _, _, set) =
        fetchRaw(topic, partition, offset, maxBytes, maxWaitMs, minBytes, 0)
      val recs =
        if (set == null || set.isEmpty) Vector.empty[KRecord]
        else decodeRecordBatches(set).filter(_.offset >= offset)
      (hw, recs)
    }

    /** Cursor-advancing fetch (see the [[Kafka.Client]] scaladoc):
      * read_uncommitted surfaces transactional records as they land;
      * read_committed (isolation level 1) serves only records of
      * COMMITTED transactions below the last stable offset, aborted data
      * filtered with the response's `aborted_transactions` ranges + the
      * abort control markers ([[KafkaProto.filterCommitted]]). Either
      * way the returned cursor covers every DECODED batch span, markers
      * included. */
    def fetchFrom(topic: String, partition: Int, offset: Long,
                  maxBytes: Int = 1 << 20, maxWaitMs: Int = 500,
                  minBytes: Int = 1,
                  readCommitted: Boolean = false): (Long, Seq[KRecord]) = {
      val (_, _, aborted, set) =
        fetchRaw(topic, partition, offset, maxBytes, maxWaitMs, minBytes,
          if (readCommitted) 1 else 0)
      if (set == null || set.isEmpty) (offset, Vector.empty)
      else {
        val batches = decodeBatchesFull(set)
        val next = batches.map(_.lastOffset + 1).foldLeft(offset)(math.max)
        val recs =
          if (readCommitted) filterCommitted(batches, aborted)
          else batches.filterNot(_.isControl).flatMap(_.records)
        (next, recs.filter(_.offset >= offset))
      }
    }

    /** Last stable offset via a read_committed fetch's response field. */
    def lastStable(topic: String, partition: Int): Long = {
      // fetch at the log start with maxWait 0: we only want the header
      val start = listOffset(topic, partition, TsEarliest)
      fetchRaw(topic, partition, start, 1, 0, 1, 1)._2
    }

    /** ListOffsets v1: earliest ([[KafkaProto.TsEarliest]]) or latest
      * (next-to-be-assigned, [[KafkaProto.TsLatest]]). */
    def listOffset(topic: String, partition: Int, ts: Long): Long = {
      val w = new Writer()
      w.int32(-1)
      w.array(Seq(topic)) { (b, t) =>
        b.string(t)
        b.array(Seq(partition)) { (pb, p) => pb.int32(p); pb.int64(ts) }
      }
      val r = call(ApiListOffsets, 1, w.toBytes)
      var off = -1L
      r.array { t =>
        t.string()
        t.array { p =>
          p.int32()
          val err = p.int16()
          p.int64() // timestamp
          off = p.int64()
          if (err == KafkaProto.ErrNotLeaderForPartition)
            throw new Kafka.NotLeaderForPartition(topic, partition)
          require(err == ErrNone, s"listOffsets error $err on $topic/$partition")
        }
      }
      off
    }

    /** InitProducerId v0: a broker-issued (producerId, epoch) identity.
      * With a null `transactionalId` (idempotence only) batches carrying
      * it plus a per-partition sequence number are DEDUPED by the broker
      * on resend — produce retries become exactly-once within the
      * producer session. With a TRANSACTIONAL id, the broker (a) keeps
      * the pid STABLE for that id, (b) BUMPS the producer epoch — fencing
      * every earlier holder (zombie task attempts die on their next
      * produce/endTxn with [[Kafka.ProducerFenced]]), and (c) ABORTS any
      * transaction the previous holder left open, which is what makes a
      * crashed writer's unfinished batches invisible to read_committed
      * consumers. Routes to the TRANSACTION coordinator. */
    def initProducerId(transactionalId: String = null): (Long, Short) = {
      val w = new Writer()
      w.nullableString(transactionalId)
      w.int32(60000)
      val r = call(ApiInitProducerId, 0, w.toBytes)
      r.int32() // throttle
      val err = r.int16()
      if (err == KafkaProto.ErrNotCoordinator)
        throw new Kafka.NotCoordinator(String.valueOf(transactionalId))
      require(err == ErrNone, s"initProducerId error $err")
      (r.int64(), r.int16())
    }

    /** AddPartitionsToTxn v0: register the partitions this transaction
      * will produce to — the broker refuses transactional batches on
      * unregistered partitions (INVALID_TXN_STATE), the real contract. */
    def addPartitionsToTxn(txnId: String, pid: Long, epoch: Short,
                           topic: String, partitions: Seq[Int]): Unit = {
      val w = new Writer()
      w.string(txnId).int64(pid).int16(epoch.toInt)
      w.array(Seq(topic)) { (b, t) =>
        b.string(t)
        b.array(partitions)((pb, p) => pb.int32(p))
      }
      val r = call(ApiAddPartitionsToTxn, 0, w.toBytes)
      r.int32() // throttle
      r.array { t =>
        t.string()
        t.array { p =>
          p.int32()
          val err = p.int16()
          if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(txnId)
          if (err == KafkaProto.ErrInvalidProducerEpoch) throw new Kafka.ProducerFenced(txnId)
          require(err == ErrNone, s"addPartitionsToTxn error $err for $txnId")
        }
      }
    }

    /** AddOffsetsToTxn v0 — routed to the TRANSACTION coordinator: it
      * registers the GROUP's offsets partition in the open transaction,
      * which is what makes the txn coordinator deliver a marker to the
      * group coordinator at EndTxn (WriteTxnMarkers). Without this step
      * offsets staged by TxnOffsetCommit would sit pending forever on the
      * group coordinator — accepted but never decided. Must precede
      * txnOffsetCommit, the real producer's sendOffsetsToTransaction
      * order. */
    def addOffsetsToTxn(txnId: String, pid: Long, epoch: Short,
                        group: String): Unit = {
      val w = new Writer()
      w.string(txnId).int64(pid).int16(epoch.toInt).string(group)
      val r = call(ApiAddOffsetsToTxn, 0, w.toBytes)
      r.int32() // throttle
      val err = r.int16()
      if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(txnId)
      if (err == KafkaProto.ErrInvalidProducerEpoch) throw new Kafka.ProducerFenced(txnId)
      require(err == ErrNone, s"addOffsetsToTxn error $err for $txnId")
    }

    /** EndTxn v0: commit or abort the open transaction — the broker
      * writes the control markers that decide every produced batch. */
    def endTxn(txnId: String, pid: Long, epoch: Short, commit: Boolean): Unit = {
      val w = new Writer()
      w.string(txnId).int64(pid).int16(epoch.toInt).int8(if (commit) 1 else 0)
      val r = call(ApiEndTxn, 0, w.toBytes)
      r.int32() // throttle
      val err = r.int16()
      if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(txnId)
      if (err == KafkaProto.ErrInvalidProducerEpoch) throw new Kafka.ProducerFenced(txnId)
      require(err == ErrNone, s"endTxn error $err for $txnId")
    }

    /** TxnOffsetCommit v0: stage consumer-group offsets INSIDE the open
      * transaction — they become visible atomically with the data at
      * EndTxn(commit), the `sendOffsetsToTransaction` pattern that closes
      * the produce-ack→fence window. */
    def txnOffsetCommit(txnId: String, group: String, pid: Long, epoch: Short,
                        offsets: Map[(String, Int), Long]): Unit = {
      val w = new Writer()
      w.string(txnId).string(group).int64(pid).int16(epoch.toInt)
      val byTopic = offsets.groupBy(_._1._1)
      w.array(byTopic.toSeq) { (b, kv) =>
        b.string(kv._1)
        b.array(kv._2.toSeq) { (pb, e) =>
          pb.int32(e._1._2); pb.int64(e._2); pb.nullableString(null)
        }
      }
      val r = call(ApiTxnOffsetCommit, 0, w.toBytes)
      r.int32() // throttle
      r.array { t =>
        t.string()
        t.array { p =>
          p.int32()
          val err = p.int16()
          if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(group)
          if (err == KafkaProto.ErrInvalidProducerEpoch) throw new Kafka.ProducerFenced(txnId)
          require(err == ErrNone, s"txnOffsetCommit error $err for $txnId")
        }
      }
    }

    /** OffsetCommit v2 as a SIMPLE consumer (generation -1, no group
      * membership — the reference's manual commit modes do the same
      * standalone commit, `reader.go:185-296`). */
    def offsetCommit(group: String, offsets: Map[(String, Int), Long]): Unit =
      offsetCommitAs(group, -1, "", offsets)

    /** OffsetCommit v2 carrying a member identity: the coordinator
      * FENCES a stale generation or an evicted member
      * ([[Kafka.StaleMember]]) — a zombie consumer's commit after a
      * rebalance must not clobber the new owner's progress. */
    def offsetCommitAs(group: String, generation: Int, memberId: String,
                       offsets: Map[(String, Int), Long]): Unit = {
      val w = new Writer()
      w.string(group)
      w.int32(generation)
      w.string(memberId)
      w.int64(-1L)           // retention: broker default
      val byTopic = offsets.groupBy(_._1._1)
      w.array(byTopic.toSeq) { (b, kv) =>
        b.string(kv._1)
        b.array(kv._2.toSeq) { (pb, e) =>
          pb.int32(e._1._2); pb.int64(e._2); pb.nullableString(null)
        }
      }
      val r = call(ApiOffsetCommit, 2, w.toBytes)
      r.array { t =>
        t.string()
        t.array { p =>
          p.int32()
          val err = p.int16()
          if (err == KafkaProto.ErrNotCoordinator)
            throw new Kafka.NotCoordinator(group)
          if (err == KafkaProto.ErrIllegalGeneration ||
            err == KafkaProto.ErrUnknownMemberId)
            throw new Kafka.StaleMember(group, err)
          require(err == ErrNone, s"offsetCommit error $err")
        }
      }
    }

    /** JoinGroup v0 (protocol type "consumer", the range assignor
      * advertised): BLOCKS at the coordinator until the rebalance
      * completes — the real group barrier. First call passes an empty
      * member id; rejoins pass the assigned one. */
    def joinGroup(group: String, topics: Seq[String], memberId: String = "",
                  sessionTimeoutMs: Int = 10000): Kafka.JoinResult = {
      val w = new Writer()
      w.string(group)
      w.int32(sessionTimeoutMs)
      w.string(memberId)
      w.string("consumer")
      w.array(Seq("range")) { (b, name) =>
        b.string(name)
        b.bytes(encodeSubscription(topics))
      }
      val r = call(ApiJoinGroup, 0, w.toBytes)
      val err = r.int16()
      if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(group)
      if (err == KafkaProto.ErrUnknownMemberId) throw new Kafka.StaleMember(group, err)
      require(err == ErrNone, s"joinGroup error $err for $group")
      val generation = r.int32()
      r.string() // group protocol ("range")
      val leader = r.string()
      val mid = r.string()
      val members = r.array { m =>
        (m.string(), decodeSubscription(m.nullableBytes()))
      }
      Kafka.JoinResult(generation, mid, leader, members)
    }

    /** SyncGroup v0: the leader ships every member's assignment; every
      * member (leader included) gets its own back. Blocks at the
      * coordinator until the leader's assignments arrive. */
    def syncGroup(group: String, generation: Int, memberId: String,
                  assignments: Map[String, Map[String, Seq[Int]]]): Map[String, Seq[Int]] = {
      val w = new Writer()
      w.string(group)
      w.int32(generation)
      w.string(memberId)
      w.array(assignments.toSeq) { (b, ma) =>
        b.string(ma._1)
        b.bytes(encodeAssignment(ma._2))
      }
      val r = call(ApiSyncGroup, 0, w.toBytes)
      val err = r.int16()
      if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(group)
      if (err == KafkaProto.ErrRebalanceInProgress)
        throw new Kafka.RebalanceInProgress(group)
      if (err == KafkaProto.ErrIllegalGeneration ||
        err == KafkaProto.ErrUnknownMemberId)
        throw new Kafka.StaleMember(group, err)
      require(err == ErrNone, s"syncGroup error $err for $group")
      decodeAssignment(r.nullableBytes())
    }

    /** Heartbeat v0: the liveness + rebalance-discovery beacon. */
    def heartbeat(group: String, generation: Int, memberId: String): Unit = {
      val w = new Writer()
      w.string(group).int32(generation).string(memberId)
      val r = call(ApiHeartbeat, 0, w.toBytes)
      val err = r.int16()
      if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(group)
      if (err == KafkaProto.ErrRebalanceInProgress)
        throw new Kafka.RebalanceInProgress(group)
      if (err == KafkaProto.ErrIllegalGeneration ||
        err == KafkaProto.ErrUnknownMemberId)
        throw new Kafka.StaleMember(group, err)
      require(err == ErrNone, s"heartbeat error $err for $group")
    }

    /** LeaveGroup v0: clean departure triggers an immediate rebalance
      * for the remaining members. */
    def leaveGroup(group: String, memberId: String): Unit = {
      val w = new Writer()
      w.string(group).string(memberId)
      val r = call(ApiLeaveGroup, 0, w.toBytes)
      val err = r.int16()
      if (err == KafkaProto.ErrNotCoordinator) throw new Kafka.NotCoordinator(group)
      require(err == ErrNone || err == KafkaProto.ErrUnknownMemberId,
        s"leaveGroup error $err for $group")
    }

    /** FindCoordinator → the (nodeId, host, port) serving this key —
      * group offsets ([[KafkaProto.CoordGroup]], v0) or a transactional
      * id ([[KafkaProto.CoordTransaction]], v1 — the version that added
      * key_type). Coordinator-owned calls belong THERE, not on an
      * arbitrary broker (real multi-broker clusters refuse them with
      * NOT_COORDINATOR elsewhere). */
    def findCoordinator(key: String,
                        keyType: Int = KafkaProto.CoordGroup): (Int, String, Int) = {
      if (keyType == KafkaProto.CoordGroup) {
        val w = new Writer()
        w.string(key)
        val r = call(ApiFindCoordinator, 0, w.toBytes)
        val err = r.int16()
        require(err == ErrNone, s"findCoordinator error $err for group $key")
        (r.int32(), r.string(), r.int32())
      } else {
        val w = new Writer()
        w.string(key).int8(keyType)
        val r = call(ApiFindCoordinator, 1, w.toBytes)
        r.int32() // throttle
        val err = r.int16()
        r.nullableString() // error message
        require(err == ErrNone, s"findCoordinator error $err for key $key type $keyType")
        (r.int32(), r.string(), r.int32())
      }
    }

    /** OffsetFetch v1 → committed offset per partition, -1 when none. */
    def offsetFetch(group: String, tps: Seq[(String, Int)]): Map[(String, Int), Long] = {
      val w = new Writer()
      w.string(group)
      val byTopic = tps.groupBy(_._1)
      w.array(byTopic.toSeq) { (b, kv) =>
        b.string(kv._1)
        b.array(kv._2)((pb, e) => pb.int32(e._2))
      }
      val r = call(ApiOffsetFetch, 1, w.toBytes)
      val out = Map.newBuilder[(String, Int), Long]
      r.array { t =>
        val name = t.string()
        t.array { p =>
          val part = p.int32()
          val off = p.int64()
          p.nullableString()
          val err = p.int16()
          if (err == KafkaProto.ErrNotCoordinator)
            throw new Kafka.NotCoordinator(group)
          require(err == ErrNone, s"offsetFetch error $err")
          out += ((name, part) -> off)
        }
      }
      out.result()
    }

    override def close(): Unit = {
      try sock.close() catch { case _: Throwable => () }
    }
  }

  /** Metadata-routed connection pool — the multi-broker client
    * (`SCALING.md`'s leader-routing note made real): partition-addressed
    * calls (fetch/produce/listOffset) go to the partition's LEADER, keyed
    * by node id from the Metadata response; a NOT_LEADER answer (or a
    * dead leader connection) refreshes metadata and re-routes, bounded.
    * Group-offset calls route to the group's COORDINATOR (FindCoordinator
    * v0, cached per group, re-resolved on NOT_COORDINATOR or a dead
    * socket) — the real cluster contract, where an arbitrary broker
    * refuses group offsets. Re-routing a produce after NOT_LEADER is
    * duplicate-safe even for non-idempotent batches: that error means
    * the append was refused. One instance per task/thread, like
    * [[WireClient]]. */
  final class LeaderClient(bootstrap: (String, Int), clientId: String = "graft",
                           timeoutMs: Int = 30000) extends Client {
    private var boot = new WireClient(bootstrap._1, bootstrap._2, clientId, timeoutMs)
    /** Every metadata/coordinator call goes through here: if the
      * bootstrap broker restarted or reaped the idle socket, the boot
      * connection is re-dialed ONCE in place — otherwise a dead boot
      * socket would poison every later routed call's refresh() and only
      * Spark's task retry (a whole new client) could recover. */
    private def viaBoot[A](f: WireClient => A): A =
      try f(boot)
      catch {
        case _: IOException =>
          try boot.close() catch { case _: Throwable => () }
          boot = new WireClient(bootstrap._1, bootstrap._2, clientId, timeoutMs)
          f(boot) // a second failure surfaces to the caller
      }
    // node id -> (the address the conn was DIALED to, the conn): a broker
    // that reschedules keeps its node id but moves host/port, so identity
    // alone cannot decide whether a pooled socket is still the right one
    private var conns = Map[Int, ((String, Int), WireClient)]()
    // a failing first metadata read must close the boot socket it just
    // opened — the constructor is the only reference holder
    private var meta: ClusterMeta =
      try boot.metadataCluster(null)
      catch {
        case e: Throwable =>
          try boot.close() catch { case _: Throwable => () }
          throw e
      }

    private def refresh(): Unit = {
      meta = viaBoot(_.metadataCluster(null))
      // drop pooled connections whose address moved or vanished
      conns = conns.filter { case (id, (addr, c)) =>
        val keep = meta.brokers.get(id).contains(addr)
        if (!keep) { try c.close() catch { case _: Throwable => () } }
        keep
      }
    }

    private def leaderConn(topic: String, partition: Int): WireClient = {
      val node = meta.leaders.getOrElse((topic, partition), {
        refresh()
        // still leaderless (election in flight): surface the RETRIABLE
        // routing error so routed()'s bounded refresh-and-retry engages
        meta.leaders.getOrElse((topic, partition),
          throw new NotLeaderForPartition(topic, partition))
      })
      val addr = meta.brokers(node)
      conns.get(node) match {
        case Some((a, c)) if a == addr => c
        case stale =>
          stale.foreach { case (_, c) =>
            try c.close() catch { case _: Throwable => () } }
          val c = new WireClient(addr._1, addr._2, clientId, timeoutMs)
          conns += node -> ((addr, c))
          c
      }
    }

    /** Route one partition-addressed call with a bounded
      * refresh-and-retry on NOT_LEADER — and, for IDEMPOTENT calls only
      * (`retryIo`, reads), on a broken pooled connection too; a produce
      * must surface connection death to its caller, which owns the
      * duplicate-safety decision (see [[write]]'s idempotent resend). */
    private def routed[A](topic: String, partition: Int, retryIo: Boolean,
                          retries: Int = 2)(f: WireClient => A): A = {
      var attempt = 0
      while (true) {
        var c: WireClient = null
        try {
          c = leaderConn(topic, partition) // may itself throw NotLeader
          return f(c)                      // (leaderless election window)
        } catch {
          // a hung broker surfaces as SocketTimeoutException (an
          // InterruptedIOException, not SocketException) — any transport
          // IOException means re-route, EXCEPT the typed fetch-range
          // error, which is the caller's recovery signal (fetchPage)
          case e: OffsetOutOfRange => throw e
          case e: IOException =>
            attempt += 1
            if (attempt > retries ||
              (!retryIo && !e.isInstanceOf[NotLeaderForPartition])) throw e
            // a broken socket poisons the pooled conn: drop it either way
            if (c != null) conns.find(_._2._2 eq c).foreach { case (id, (_, cc)) =>
              try cc.close() catch { case _: Throwable => () }
              conns -= id
            }
            def leaderAddr = meta.leaders.get((topic, partition))
              .flatMap(n => meta.brokers.get(n).map(n -> _))
            val before = leaderAddr
            refresh()
            val after = leaderAddr
            // a HUNG-but-alive leader times out; if metadata still names
            // the same broker, stacking MORE timeouts only delays the
            // failure (Spark's task retry owns the long game). But allow
            // ONE fresh-socket attempt first: a silently-dropped idle
            // connection (NAT reap, broker restart at the same address)
            // also reads as a timeout and recovers in one reconnect.
            if (e.isInstanceOf[java.net.SocketTimeoutException] &&
              before.isDefined && before == after && attempt >= 2) throw e
        }
      }
      throw new IllegalStateException("unreachable")
    }

    // (keyType, key) -> coordinator connection (FindCoordinator-resolved);
    // a NOT_COORDINATOR answer (coordinator moved) or a dead socket drops
    // the cache entry and re-resolves, bounded — the coordinator twin of
    // the leader routing above. Group-offset writes are idempotent
    // absolute positions and the txn RPCs are fenced/deduped broker-side,
    // so the IO retry cannot double-apply anything — EXCEPT a fence
    // rejection, which must stop the caller, not re-route.
    private var coordConns = Map[(Int, String), WireClient]()
    private def coordinatorConn(keyType: Int, key: String): WireClient =
      coordConns.getOrElse((keyType, key), {
        val (_, h, p) = viaBoot(_.findCoordinator(key, keyType))
        val c = new WireClient(h, p, clientId, timeoutMs)
        coordConns += (keyType, key) -> c
        c
      })
    private def coordRouted[A](keyType: Int, key: String, retries: Int = 2)
                              (f: WireClient => A): A = {
      var attempt = 0
      while (true) {
        try return f(coordinatorConn(keyType, key))
        catch {
          // ANSWERS are not transport failures: a fence/rebalance signal
          // re-routed to a fresh coordinator would just repeat (or worse,
          // let a zombie land its duplicates) — surface them immediately
          case e: ProducerFenced => throw e
          case e: RebalanceInProgress => throw e
          case e: StaleMember => throw e
          case e: IOException =>
            // drop the cached coordinator BEFORE deciding to rethrow: a
            // caller that catches and re-enters (joinGroup's
            // NOT_COORDINATOR loop) must get a fresh resolution, not the
            // same stale socket
            coordConns.get((keyType, key)).foreach(c =>
              try c.close() catch { case _: Throwable => () })
            coordConns -= ((keyType, key))
            attempt += 1
            if (attempt > retries) throw e
        }
      }
      throw new IllegalStateException("unreachable")
    }
    private def groupRouted[A](group: String, retries: Int = 2)
                              (f: WireClient => A): A =
      coordRouted(KafkaProto.CoordGroup, group, retries)(f)
    private def txnRouted[A](txnId: String, retries: Int = 2)
                            (f: WireClient => A): A =
      coordRouted(KafkaProto.CoordTransaction, txnId, retries)(f)

    def metadata(topics: Seq[String] = null): Map[String, Seq[Int]] =
      viaBoot(_.metadata(topics))
    def metadataCluster(topics: Seq[String] = null): ClusterMeta =
      viaBoot(_.metadataCluster(topics))
    def fetch(topic: String, partition: Int, offset: Long, maxBytes: Int,
              maxWaitMs: Int, minBytes: Int): (Long, Seq[KRecord]) =
      routed(topic, partition, retryIo = true)(_.fetch(topic, partition,
        offset, maxBytes, maxWaitMs, minBytes))
    def fetchFrom(topic: String, partition: Int, offset: Long, maxBytes: Int,
                  maxWaitMs: Int, minBytes: Int,
                  readCommitted: Boolean): (Long, Seq[KRecord]) =
      routed(topic, partition, retryIo = true)(_.fetchFrom(topic, partition,
        offset, maxBytes, maxWaitMs, minBytes, readCommitted))
    def lastStable(topic: String, partition: Int): Long =
      routed(topic, partition, retryIo = true)(_.lastStable(topic, partition))
    def listOffset(topic: String, partition: Int, ts: Long): Long =
      routed(topic, partition, retryIo = true)(_.listOffset(topic, partition, ts))
    def produce(topic: String, partition: Int, recordSet: Array[Byte],
                timeoutMs: Int, transactionalId: String): Long =
      routed(topic, partition, retryIo = false)(
        _.produce(topic, partition, recordSet, timeoutMs, transactionalId))
    // idempotence-only ids come from any broker (safe under viaBoot's one
    // retry: an orphaned id from a half-failed call is simply never used);
    // a TRANSACTIONAL id's init belongs on its transaction coordinator
    def initProducerId(transactionalId: String): (Long, Short) =
      if (transactionalId == null) viaBoot(_.initProducerId(null))
      else txnRouted(transactionalId)(_.initProducerId(transactionalId))
    def addPartitionsToTxn(txnId: String, pid: Long, epoch: Short,
                           topic: String, partitions: Seq[Int]): Unit =
      txnRouted(txnId)(_.addPartitionsToTxn(txnId, pid, epoch, topic, partitions))
    def addOffsetsToTxn(txnId: String, pid: Long, epoch: Short,
                        group: String): Unit =
      txnRouted(txnId)(_.addOffsetsToTxn(txnId, pid, epoch, group))
    def endTxn(txnId: String, pid: Long, epoch: Short, commit: Boolean): Unit =
      txnRouted(txnId)(_.endTxn(txnId, pid, epoch, commit))
    // the real protocol's routing: txn offsets go to the GROUP coordinator
    def txnOffsetCommit(txnId: String, group: String, pid: Long, epoch: Short,
                        offsets: Map[(String, Int), Long]): Unit =
      groupRouted(group)(_.txnOffsetCommit(txnId, group, pid, epoch, offsets))
    def offsetCommit(group: String, offsets: Map[(String, Int), Long]): Unit =
      groupRouted(group)(_.offsetCommit(group, offsets))
    def offsetCommitAs(group: String, generation: Int, memberId: String,
                       offsets: Map[(String, Int), Long]): Unit =
      groupRouted(group)(_.offsetCommitAs(group, generation, memberId, offsets))
    def offsetFetch(group: String, tps: Seq[(String, Int)]): Map[(String, Int), Long] =
      groupRouted(group)(_.offsetFetch(group, tps))
    // membership rides the group coordinator, like offsets — but with NO
    // blind transport retry: a first join (empty member id) that times out
    // inside the coordinator's rebalance barrier and is silently re-sent
    // would allocate a GHOST member that every later rebalance waits on.
    // A NOT_COORDINATOR answer is still re-resolved (the refused join
    // allocated nothing); only transport failures surface to the caller,
    // which owns join recovery (it knows whether it holds an id).
    def joinGroup(group: String, topics: Seq[String], memberId: String,
                  sessionTimeoutMs: Int): JoinResult = {
      var moved = 0
      while (true) {
        try return groupRouted(group, retries = 0)(
          _.joinGroup(group, topics, memberId, sessionTimeoutMs))
        catch {
          // groupRouted already dropped the cached conn; re-resolve fresh
          case e: NotCoordinator => moved += 1; if (moved > 2) throw e
        }
      }
      throw new IllegalStateException("unreachable")
    }
    def syncGroup(group: String, generation: Int, memberId: String,
                  assignments: Map[String, Map[String, Seq[Int]]]): Map[String, Seq[Int]] =
      groupRouted(group)(_.syncGroup(group, generation, memberId, assignments))
    def heartbeat(group: String, generation: Int, memberId: String): Unit =
      groupRouted(group)(_.heartbeat(group, generation, memberId))
    def leaveGroup(group: String, memberId: String): Unit =
      groupRouted(group)(_.leaveGroup(group, memberId))
    override def close(): Unit = {
      conns.valuesIterator.foreach { case (_, c) =>
        try c.close() catch { case _: Throwable => () } }
      conns = Map.empty
      coordConns.valuesIterator.foreach(c =>
        try c.close() catch { case _: Throwable => () })
      coordConns = Map.empty
      try boot.close() catch { case _: Throwable => () }
    }
  }

  // ======================================================================
  // Spark integration: batch read (one task per Kafka partition)
  // ======================================================================

  /** Current earliest..latest offset range per partition of `topic`. */
  def offsetRanges(bootstrap: (String, Int), topic: String): Seq[Split] = {
    val c = new LeaderClient(bootstrap)
    try {
      val parts = c.metadata(Seq(topic)).getOrElse(topic,
        throw new IOException(s"unknown topic $topic"))
      parts.map(p => Split(topic, p,
        c.listOffset(topic, p, TsEarliest), c.listOffset(topic, p, TsLatest)))
    } finally c.close()
  }

  /** The records of split `s` in offset order, fetched one page at a time
    * ([[fetchPage]]) as the iterator is consumed: the range reader behind
    * [[read]] and the DSv2 reader. A fetch that makes no progress below
    * `s.end` is an error (the range claim is stale), except under
    * `readCommitted`, where the planned end came from the LOG end but an
    * open transaction may hold the last stable offset below it: that tail
    * is undecided, not missing, and the committed-only snapshot stops
    * there. If the LSO moved past the cursor since the empty fetch (the
    * transaction decided in between) the page is simply refetched. */
  private[sources] def splitRecords(c: Client, s: Split, maxFetchBytes: Int,
                                    readCommitted: Boolean): Iterator[KRecord] =
    new Iterator[KRecord] {
      private var off = s.start
      private var page: Iterator[KRecord] = Iterator.empty
      def hasNext: Boolean = {
        while (!page.hasNext && off < s.end) {
          val (recs, next) = fetchPage(c, s.topic, s.partition, off, s.end,
            maxFetchBytes, readCommitted)
          if (next == off) {
            if (!readCommitted)
              throw new IOException(s"no data at ${s.topic}/${s.partition}@$off < ${s.end}")
            if (off >= c.lastStable(s.topic, s.partition)) off = s.end
          }
          page = recs.iterator
          off = math.max(off, next) // the undecided-tail stop sticks
        }
        page.hasNext
      }
      def next(): KRecord =
        if (hasNext) page.next() else throw new NoSuchElementException(s"end of $s")
    }

  /** Distributed batch read of `topic` in [start, end) per partition:
    * ONE Spark task per Kafka partition, each opening its own connection
    * and fetching its range — the scan parallelism IS the topic's
    * partition count, the same contract the connector gives, so at
    * cluster scale every executor pulls its own partitions and nothing
    * funnels through the driver. */
  def read(spark: SparkSession, bootstrap: (String, Int), topic: String,
           splits: Seq[Split] = null, maxFetchBytes: Int = 1 << 20,
           readCommitted: Boolean = false): DataFrame = {
    val eff = if (splits != null) splits else offsetRanges(bootstrap, topic)
    val (host, port) = bootstrap
    val rows = spark.sparkContext
      .parallelize(eff, math.max(eff.size, 1))
      .flatMap { s =>
        val c = new LeaderClient((host, port))
        org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => c.close())
        splitRecords(c, s, maxFetchBytes, readCommitted).map(r =>
          Row(r.key, r.value, s.topic, s.partition, r.offset,
            new java.sql.Timestamp(r.timestamp)))
      }
    spark.createDataFrame(rows, scanSchema)
  }

  // ======================================================================
  // Spark integration: producer sink
  // ======================================================================

  /** Produce a frame with `key`/`value` string or binary columns (the
    * output of [[Sources.encodeKafka]]) to `topic`, distributed: every
    * Spark partition opens ONE connection, routes rows by murmur2 of the
    * key (null keys round-robin), and flushes per-Kafka-partition batches
    * at the reference writer's budgets (maxRecords / maxBytes,
    * `writer.go:108-130`).
    *
    * Delivery: with `idempotent = true` each task takes a broker-issued
    * producer id and numbers its batches per partition, and a flush that
    * dies mid-acknowledge reconnects and RESENDS the same sequence — the
    * broker dedupes it, so connection-level retries are exactly-once.
    * A full Spark TASK retry gets a fresh producer id and can duplicate —
    * the same boundary the stock producer has without transactions;
    * cross-attempt exactness belongs to the consumer (the spool bridge is
    * idempotent by offset). */
  def write(df: DataFrame, bootstrap: (String, Int), topic: String,
            maxBatchRecords: Int = 1000, maxBatchBytes: Int = 1 << 20,
            headerTemplateCols: Seq[String] = Nil,
            idempotent: Boolean = false,
            compression: String = "none"): Unit = {
    val (host, port) = bootstrap
    val cols = df.columns
    require(cols.contains("key") && cols.contains("value"),
      s"kafka write expects key/value columns, got ${cols.mkString(",")}")
    val headerCols = headerTemplateCols
    val idem = idempotent
    val codec = codecId(compression)
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val prod = new BatchProducer((host, port), topic,
          maxBatchRecords, maxBatchBytes, idem, compression = codec)
        try {
          def asBytes(v: Any): Array[Byte] = v match {
            case null => null
            case b: Array[Byte] => b
            case s: String => s.getBytes(UTF_8)
            case other => other.toString.getBytes(UTF_8)
          }
          it.foreach { row =>
            prod.add(asBytes(row.getAs[Any]("key")),
              asBytes(row.getAs[Any]("value")),
              headerCols.map(h => h -> asBytes(row.getAs[Any](h))))
          }
          prod.flushAll()
        } finally prod.close()
      }
    }
  }

  /** Producer codec name → RecordBatch attribute codec id (the stock
    * producer's `compression.type` vocabulary). */
  def codecId(name: String): Int = name.toLowerCase match {
    case "none" | "" => KafkaProto.CodecNone
    case "gzip" => KafkaProto.CodecGzip
    case "snappy" => KafkaProto.CodecSnappy
    case "lz4" => KafkaProto.CodecLz4
    case "zstd" => KafkaProto.CodecZstd
    case other => throw new IllegalArgumentException(
      s"unknown compression.type '$other' (none|gzip|snappy|lz4|zstd)")
  }

  /** THE task-side producer kernel — one copy of the batching, murmur2
    * (or round-robin) routing, batch budgets, and the idempotent
    * reconnect-resend recovery, shared by [[write]] and the DSv2 sink
    * writer (the [[fetchPage]] rule: one place to fix producer-cursor
    * semantics, not two).
    *
    * Delivery: with `idempotent` each instance takes a broker-issued
    * producer id and numbers its batches per partition; a flush that dies
    * mid-acknowledge builds a FRESH routed client and resends the same
    * sequence — the broker dedupes a landed-but-unacked append, so
    * connection-level retries are exactly-once. Non-idempotent flushes
    * surface connection death to the caller, which owns the
    * duplicate-safety decision. `rrSeed` staggers the null-key
    * round-robin start (e.g. by Spark partition id) so concurrent tasks
    * do not all open on Kafka partition 0. */
  final class BatchProducer(bootstrap: (String, Int), topic: String,
                            maxBatchRecords: Int, maxBatchBytes: Int,
                            idempotent: Boolean, rrSeed: Int = 0,
                            transactionalId: Option[String] = None,
                            compression: Int = KafkaProto.CodecNone)
    extends AutoCloseable {
    // transactions imply idempotence (the pid/sequence dedupe is the same
    // machinery; real producers enforce the same implication)
    private val idem = idempotent || transactionalId.isDefined
    private val txnId: String = transactionalId.orNull
    private var c: Client = new LeaderClient(bootstrap)
    // a throwing CONSTRUCTOR step must release the inner client — nobody
    // else holds a reference to close, and Spark's task retry would leak
    // one socket pool per attempt (the KafkaEpochWriter fence-client rule)
    private def initOrClose[A](f: => A): A =
      try f catch {
        case e: Throwable =>
          try c.close() catch { case _: Throwable => () }
          throw e
      }
    /** Partition count at open — the routing modulus for this instance. */
    val nParts: Int = initOrClose(c.metadata(Seq(topic)).getOrElse(topic,
      throw new IOException(s"unknown topic $topic")).size)
    /** Transactional init FENCES every earlier holder of this id (epoch
      * bump) and ABORTS its dangling transaction — the zombie-attempt and
      * died-before-commit recoveries both start here. */
    private val (pid, epoch) =
      if (idem) initOrClose(c.initProducerId(txnId)) else (-1L, (-1).toShort)
    private val seqs = new Array[Int](nParts)
    private val inTxn = new Array[Boolean](nParts) // AddPartitionsToTxn sent
    private var txnOpen = false
    private val pending = Array.fill(nParts)(
      Vector.newBuilder[(Long, Array[Byte], Array[Byte], Seq[(String, Array[Byte])])])
    private val pendingN = new Array[Int](nParts)
    private val pendingB = new Array[Int](nParts)
    private var rr = rrSeed

    /** The current routed client (fence commits and other control calls
      * by the DSv2 writer ride the same connection pool). */
    private[sources] def client: Client = c

    def add(key: Array[Byte], value: Array[Byte],
            headers: Seq[(String, Array[Byte])] = Nil): Unit = {
      val p =
        if (key == null) { rr += 1; math.floorMod(rr - 1, nParts) }
        else partitionFor(key, nParts)
      pending(p) += ((System.currentTimeMillis(), key, value, headers))
      pendingN(p) += 1
      pendingB(p) += (if (key == null) 0 else key.length) +
        (if (value == null) 0 else value.length) +
        headers.iterator.map(h =>
          h._1.length + (if (h._2 == null) 0 else h._2.length)).sum
      if (pendingN(p) >= maxBatchRecords || pendingB(p) >= maxBatchBytes)
        flush(p)
    }

    private def flush(p: Int): Unit = if (pendingN(p) > 0) {
      if (txnId != null && !inTxn(p)) {
        // register the partition BEFORE its first transactional batch —
        // the broker refuses unregistered ones (INVALID_TXN_STATE)
        c.addPartitionsToTxn(txnId, pid, epoch, topic, Seq(p))
        inTxn(p) = true
        txnOpen = true
      }
      val batch = encodeRecordBatch(0L, pending(p).result(),
        producerId = pid, producerEpoch = epoch,
        baseSequence = (if (idem) seqs(p) else -1),
        attributes = (if (txnId != null) KafkaProto.AttrTransactional else 0),
        compression = compression)
      try c.produce(topic, p, batch, transactionalId = txnId)
      catch {
        // a FENCE answer means a newer producer owns this id: resending
        // would be the exact zombie duplicate the fence exists to stop
        case e: ProducerFenced => throw e
        case _: IOException if idem =>
          // reconnect and resend the SAME sequence: if the lost ack's
          // append landed, the broker dedupes; if not, this is the
          // first append — either way exactly one copy
          try c.close() catch { case _: Exception => () }
          c = new LeaderClient(bootstrap)
          c.produce(topic, p, batch, transactionalId = txnId)
      }
      if (idem) seqs(p) += pendingN(p)
      pending(p).clear(); pendingN(p) = 0; pendingB(p) = 0
    }

    def flushAll(): Unit = (0 until nParts).foreach(flush)

    /** Stage consumer-group offsets INSIDE the open transaction (the
      * `sendOffsetsToTransaction` pattern): they apply atomically with
      * the data at [[commitTxn]] — a crash in between leaves BOTH unseen.
      *
      * Two-coordinator protocol, in the real producer's order:
      * AddOffsetsToTxn first (TRANSACTION coordinator — registers the
      * group's offsets partition in the txn, so EndTxn will deliver a
      * marker there), then TxnOffsetCommit (GROUP coordinator — stages
      * the offsets pending that marker). Skipping the first step is the
      * silent-loss mode: the group coordinator accepts the stage but no
      * marker ever decides it. The two coordinators may be DIFFERENT
      * brokers; [[LeaderClient]] routes each call by its own key. */
    def sendOffsets(group: String, offsets: Map[(String, Int), Long]): Unit = {
      require(txnId != null, "sendOffsets requires a transactional producer")
      c.addOffsetsToTxn(txnId, pid, epoch, group)
      c.txnOffsetCommit(txnId, group, pid, epoch, offsets)
      txnOpen = true
    }

    /** Commit the open transaction: buffered records FLUSH first (the
      * real producer's commitTransaction contract — an unflushed add
      * leaking into the NEXT transaction would silently break
      * atomicity), then the broker writes COMMIT markers to every
      * registered partition and applies staged offsets, atomically. */
    def commitTxn(): Unit = {
      require(txnId != null, "commitTxn requires a transactional producer")
      flushAll()
      if (txnOpen) {
        c.endTxn(txnId, pid, epoch, commit = true)
        java.util.Arrays.fill(inTxn, false)
        txnOpen = false
      }
    }

    /** Abort the open transaction; buffered not-yet-produced records are
      * DISCARDED (sending them would just widen the abort). Best effort —
      * an unreachable broker aborts it anyway at the successor's
      * InitProducerId. */
    def abortTxn(): Unit = if (txnId != null) {
      var p = 0
      while (p < nParts) {
        pending(p).clear(); pendingN(p) = 0; pendingB(p) = 0; p += 1
      }
      if (txnOpen) {
        c.endTxn(txnId, pid, epoch, commit = false)
        java.util.Arrays.fill(inTxn, false)
        txnOpen = false
      }
    }

    override def close(): Unit = c.close()
  }

  // ======================================================================
  // consumer-group member (the reference's GroupID reader semantics,
  // `kafkaclient/reader.go:17-94`: dynamic partition assignment +
  // rebalance on join/leave)
  // ======================================================================

  /** One dynamic group membership over a [[Client]]: join (+ sync, the
    * member elected leader computing the RANGE assignment from every
    * member's subscription — Kafka's client-side-assignor design),
    * heartbeat-driven rebalance discovery, clean leave. The Spark DSv2
    * source deliberately does NOT use this (static assignment, like the
    * stock connector); this is for standalone consumers — the
    * [[SpoolConsumer]] bridge with `dynamicMembership = true`. */
  final class GroupMember(c: Client, group: String, topics: Seq[String],
                          sessionTimeoutMs: Int = 10000) {
    private var memberId = ""
    private var gen = -1
    def currentGeneration: Int = gen
    def currentMemberId: String = memberId

    /** (Re)join and sync; returns this member's topic → partitions.
      * Loops when the dance restarts under it (another member joined
      * between our join and sync) — the real client's behavior. */
    def join(): Map[String, Seq[Int]] = {
      var out: Map[String, Seq[Int]] = null
      while (out == null) {
        val jr =
          try c.joinGroup(group, topics, memberId, sessionTimeoutMs)
          catch {
            // evicted while away (missed a rebalance entirely): the old
            // id is gone — start over as a brand-new member
            case _: StaleMember => c.joinGroup(group, topics, "", sessionTimeoutMs)
          }
        memberId = jr.memberId
        gen = jr.generation
        val assignments =
          if (jr.isLeader)
            KafkaProto.rangeAssign(c.metadata(topics), jr.members)
          else Map.empty[String, Map[String, Seq[Int]]]
        try out = c.syncGroup(group, gen, memberId, assignments)
        catch {
          case _: RebalanceInProgress => () // restarted under us: rejoin
          case _: StaleMember => ()
        }
      }
      out
    }

    /** True while the group is stable; false = REJOIN (the coordinator
      * is rebalancing, or this member was evicted). */
    def heartbeatOk(): Boolean =
      try { c.heartbeat(group, gen, memberId); true }
      catch {
        case _: RebalanceInProgress => false
        case _: StaleMember => false
      }

    def leave(): Unit =
      if (memberId.nonEmpty) c.leaveGroup(group, memberId)
  }

  // ======================================================================
  // spool bridge: topic → exactly-once NDJSON spool → Spark file stream
  // ======================================================================

  /** Poll-loop consumer that lands each poll window as ONE atomically
    * renamed NDJSON spool file named by its (partition, start offset,
    * end offset) and then commits the position to the broker. Exactly-once
    * into the spool across kill/restart from either side of the commit:
    *  - crash BEFORE commit → the refetch finds the durable file at the
    *    same start offset and RE-COMMITS ITS SPAN (not the new fetch
    *    window's — windows are not deterministic across restarts);
    *  - crash AFTER commit → the next poll starts past the spooled data.
    * Spark tails the spool with [[Sources.fileStream]] (maxFilesPerTrigger
    * = the reference's poll budget) and the file source's own log makes
    * the downstream exactly-once. Commit modes as the reference
    * (`reader.go:185-296`): "after-batch" (default), "after-each" (commit
    * per record — the slow-but-tight mode), "auto" (commit only on
    * `close`, the auto-commit-on-interval analogue). */
  final class SpoolConsumer(bootstrap: (String, Int), topic: String,
                            group: String, spoolDir: String,
                            commitMode: String = "after-batch",
                            maxPollRecords: Int = 10000,
                            maxPollBytes: Int = 1 << 20,
                            dynamicMembership: Boolean = false,
                            sessionTimeoutMs: Int = 10000,
                            startAtTimestamp: Option[Long] = None)
    extends AutoCloseable {
    require(Set("after-batch", "after-each", "auto").contains(commitMode),
      s"unknown commit mode $commitMode")
    private val c = new LeaderClient(bootstrap)
    // dynamic membership = the reference's GroupID reader
    // (`kafkaclient/reader.go:17-94`): partitions come from the group's
    // range assignment and REBALANCE as members join/leave; static mode
    // (default) owns every partition, the original standalone contract
    private val member: Option[GroupMember] =
      if (dynamicMembership) Some(new GroupMember(c, group, Seq(topic), sessionTimeoutMs))
      else None
    private var parts: Seq[Int] = Seq.empty
    private var pos = scala.collection.mutable.Map[Int, Long]()

    /** (Re)resolve owned partitions and their start positions: broker
      * committed offsets first, then `startAtTimestamp` (the reference
      * reader's start-at-timestamp mode — first record at/after it,
      * all-older partitions start at latest), earliest otherwise; a
      * RETAINED partition keeps local progress past the commit (the
      * spool's idempotence absorbs any overlap either way). */
    private def refreshAssignment(): Unit = {
      parts = member match {
        case Some(m) => m.join().getOrElse(topic, Nil).sorted
        case None => c.metadata(Seq(topic))(topic)
      }
      val committed = c.offsetFetch(group, parts.map((topic, _)))
      val next = parts.map { p =>
        val cp = committed.getOrElse((topic, p), -1L)
        val base =
          if (cp >= 0) cp
          else startAtTimestamp match {
            case Some(ts) =>
              // latest FIRST: a qualifying record landing between the two
              // calls either answers the lookup or sits at/past the
              // captured latest — never silently skipped
              val latest = c.listOffset(topic, p, TsLatest)
              val o = c.listOffset(topic, p, ts)
              if (o < 0) latest else o
            case None => c.listOffset(topic, p, TsEarliest)
          }
        p -> math.max(base, pos.getOrElse(p, -1L))
      }
      pos = scala.collection.mutable.Map(next: _*)
    }
    try refreshAssignment()
    catch {
      // a throwing constructor leaks c otherwise (no caller can close it)
      case e: Throwable =>
        try c.close() catch { case _: Throwable => () }
        throw e
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(spoolDir))

    /** Commit as the member identity when one exists — a zombie's commit
      * after a rebalance is FENCED broker-side (StaleMember) instead of
      * clobbering the new owner's progress. */
    private def commit(offsets: Map[(String, Int), Long]): Unit = member match {
      case Some(m) => c.offsetCommitAs(group, m.currentGeneration,
        m.currentMemberId, offsets)
      case None => c.offsetCommit(group, offsets)
    }

    /** Partitions this consumer currently owns. */
    def assignedPartitions: Seq[Int] = parts

    /** Polls whose sweep was FENCED mid-flight (a commit answered
      * StaleMember because the group rebalanced under us) — the
      * bridge-side replay path's observable. */
    @volatile private var fenced = 0L
    def fencedPolls: Long = fenced

    /** One poll across owned partitions; returns records spooled. */
    def pollOnce(): Int = {
      // rebalance discovery rides the heartbeat, the real cadence
      member.foreach { m => if (!m.heartbeatOk()) refreshAssignment() }
      try pollInner()
      catch {
        // a commit fenced MID-POLL (rebalanced under us): the partition
        // has a new owner — rejoin; the spool's offset-named idempotence
        // means whatever we landed re-dedupes at the new owner
        case _: StaleMember if member.isDefined =>
          fenced += 1
          refreshAssignment()
          0
      }
    }

    private def pollInner(): Int = {
      var n = 0
      var bytes = 0
      parts.foreach { p =>
        if (n < maxPollRecords && bytes < maxPollBytes) {
          val start = pos(p)
          val (recs0, next) = fetchPage(c, topic, p, start, maxBytes = maxPollBytes)
          val recs = recs0.take(maxPollRecords - n)
          if (recs.isEmpty && next > start) {
            // retention deleted the whole backlog at/past the cursor:
            // persist the forward jump (no records exist in [start, next),
            // so committing it skips nothing) — otherwise every poll
            // re-walks the hole through OFFSET_OUT_OF_RANGE + ListOffsets
            pos(p) = next
            if (commitMode != "auto")
              commit(Map((topic, p) -> next))
          }
          if (recs.nonEmpty) {
            var cur = start
            if (commitMode == "after-each") {
              recs.foreach { r =>
                if (r.offset >= cur) { // an existing wider file may skip ahead
                  cur = spool(p, cur, Seq(r)) + 1
                  commit(Map((topic, p) -> cur))
                }
              }
            } else {
              cur = spool(p, start, recs) + 1
              if (commitMode == "after-batch")
                commit(Map((topic, p) -> cur))
            }
            pos(p) = cur
            // count/size only the records actually covered (an existing
            // narrower file can leave a tail for the next poll)
            n += recs.count(_.offset < cur)
            bytes += recs.iterator.filter(_.offset < cur).map(r =>
              if (r.value == null) 0 else r.value.length).sum
          }
        }
      }
      n
    }

    /** Write one spool file atomically, named by its (partition, start
      * offset, LAST RECORD OFFSET), and return the last offset the spool
      * now covers at `startOffset`. If a file at this start offset already
      * exists — crash-refetch, or an abandoned uncommitted consumer — its
      * recorded end WINS and is returned without writing, because the
      * committed position must advance by what is durably spooled, never
      * by the current fetch window: windows are not deterministic across
      * restarts, so skip-if-exists alone would commit past records the
      * existing (smaller) file never captured. The name carries the END
      * OFFSET, not a record span, so compaction/retention gaps (record
      * offsets sparser than the cursor) commit correctly. One record = one
      * NDJSON line (a null value spools as an empty line). */
    private def spool(partition: Int, startOffset: Long, recs: Seq[KRecord]): Long = {
      val prefix = f"$topic-$partition%03d-$startOffset%020d-"
      val dir = new java.io.File(spoolDir)
      val existing = dir.listFiles().filter(f =>
        f.getName.startsWith(prefix) && f.getName.endsWith(".ndjson"))
      if (existing.nonEmpty) {
        existing.head.getName.stripPrefix(prefix).stripSuffix(".ndjson").toLong
      } else {
        val end = recs.last.offset
        val name = f"$prefix$end%020d.ndjson"
        val tmp = java.nio.file.Paths.get(spoolDir, s".$name.tmp")
        val w = java.nio.file.Files.newBufferedWriter(tmp, UTF_8)
        try recs.foreach { r =>
          if (r.value != null) w.write(new String(r.value, UTF_8))
          w.write('\n')
        } finally w.close()
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(spoolDir, name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        end
      }
    }

    /** Consumed (not necessarily committed) position per partition. */
    def positions: Map[Int, Long] = pos.toMap

    override def close(): Unit = {
      try {
        // leave AFTER the final commit: leaving first would rebalance and
        // fence our own auto-commit; a StaleMember here is the benign
        // lost-the-rebalance race (the new owner re-reads from ITS commit
        // and the spool dedupes), not a close() failure
        if (commitMode == "auto")
          try commit(pos.map { case (p, o) => (topic, p) -> o }.toMap)
          catch { case _: StaleMember => () }
      } finally {
        member.foreach(m => try m.leave() catch { case _: Exception => () })
        c.close()
      }
    }
  }
}
