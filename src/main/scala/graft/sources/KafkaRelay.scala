package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}

/** K5 forward relay over the KAFKA transport — the reference's own scaling
  * note made concrete ("external ingress/egress at scale is Kafka", SURVEY
  * §2.1/§2.6): rows pack into ≤`maxChunkBytes` NDJSON bodies
  * ([[Chunking.chunks]]), each sealed into a [[RelayProto.WrappedPayload]]
  * (compression algorithm + AES-GCM declared in its MessageMetadata — the
  * same envelope the socket, WebSocket, and NATS relays speak) and produced
  * as one Kafka record. Unlike those transports this edge is DURABLE and
  * replayable: offsets give the receiving side restart semantics, and the
  * producer runs idempotent so a lost acknowledge cannot double-append a
  * payload. Executor-side on both ends; the driver never sees a record. */
object KafkaRelay {

  /** Relay a frame's partitions into `topic`, sealed. Payload records
    * round-robin across the topic's partitions (chunk bodies carry no
    * routing key); `seq` inside each WrappedPayload is per-task, so a
    * receiver can audit per-writer continuity like the socket edge's
    * ack brain does. */
  def writeKafka(df: DataFrame, bootstrap: (String, Int), topic: String,
                 compression: Int = graft.functions.Codecs.CompressNone,
                 key: Option[Array[Byte]] = None,
                 maxChunkBytes: Int = 1 << 19): Unit = {
    RelayWriter.requireSeal(compression, key, maxChunkBytes)
    val spark = df.sparkSession
    import spark.implicits._
    // seal into payload records, then delegate DELIVERY to Kafka.write's
    // idempotent path — the exactly-once retry contract (pid + sequences,
    // reconnect-and-resend-same-sequence) lives in ONE place, not two;
    // null keys round-robin across the topic's partitions there
    val payloads = df.toJSON.mapPartitions { it =>
      RelayWriter.sealedChunks(it, maxChunkBytes, compression, key).map(RelayProto.encode)
    }.toDF("value")
      .withColumn("key", org.apache.spark.sql.functions.lit(null).cast("binary"))
    Kafka.write(payloads, bootstrap, topic,
      maxBatchRecords = 1, idempotent = true) // one sealed chunk per batch
  }

  /** Batch-read `topic`'s current contents and UNSEAL: each record value
    * decodes as a WrappedPayload, unwraps per its declared sealing
    * (wrong-key GCM failures and keyed-receiver-vs-unsealed-frame
    * downgrades throw, exactly the socket receiver's rules), and the
    * NDJSON body splits into one row per line. Distributed end to end —
    * unwrap runs where the fetch task runs. Returns (value, topic,
    * partition, offset): offset+line order make the read REPLAYABLE,
    * which is what the Kafka transport buys over socket/WS/NATS relays. */
  def readKafkaSealed(spark: SparkSession, bootstrap: (String, Int),
                      topic: String, key: Option[Array[Byte]] = None,
                      maxInflatedBytes: Int = SealedRelay.DefaultMaxInflatedBytes): DataFrame = {
    RelayProto.requireKey(key)
    val raw = Kafka.read(spark, bootstrap, topic)
    import spark.implicits._
    raw.select("value", "topic", "partition", "offset")
      .as[(Array[Byte], String, Int, Long)]
      .flatMap { case (value, t, p, off) =>
        val body = RelayProto.unwrap(RelayProto.decode(value), key, maxInflatedBytes)
        new String(body, UTF_8).split("\n").iterator
          .filter(_.nonEmpty).map(line => (line, t, p, off))
      }
      .toDF("value", "topic", "partition", "offset")
  }
}
