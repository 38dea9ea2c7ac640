package graft.sources

import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

/** THE executor-side half every forward-relay writer shares (socket and
  * TLS NDJSON, flag-framed and proto-envelope sockets, WebSocket, gRPC,
  * NATS, Kafka): the driver-side seal checks, the seal loop that turns a
  * partition's rows into seq-numbered [[RelayProto.WrappedPayload]]s, and
  * the one-connection-per-partition loop. The ack half of the envelope
  * contract is [[RelayProto.EnvelopeSender]]; each transport keeps only
  * its own framing. */
object RelayWriter {

  /** Driver-side seal checks, before any task runs: `compress(algo, empty)`
    * validates the algorithm id and its classpath (unknown ids fail here,
    * not per task on executors), the AES key must have a legal length, and
    * the chunk bound must sit under the receiver's frame cap
    * ([[Chunking.requireBound]]). */
  def requireSeal(compression: Int, key: Option[Array[Byte]], maxChunkBytes: Int): Unit = {
    graft.functions.Codecs.compress(compression, Array.emptyByteArray)
    RelayProto.requireKey(key)
    Chunking.requireBound(maxChunkBytes)
  }

  /** Pack a partition's rows into ≤`maxChunkBytes` NDJSON bodies
    * ([[Chunking.chunks]]) and seal each as the reference writer does
    * ([[RelayProto.wrap]]): `seq` counts from 0 per partition, the id is
    * `p<partition>-<seq>`. Lazy — each payload is sealed and timestamped
    * when pulled. */
  def sealedChunks(it: Iterator[String], maxChunkBytes: Int, compression: Int,
                   key: Option[Array[Byte]]): Iterator[RelayProto.WrappedPayload] = {
    val pid = org.apache.spark.TaskContext.get().partitionId()
    var seq = -1L
    Chunking.chunks(it, maxChunkBytes).map { body =>
      seq += 1
      RelayProto.wrap(body, id = s"p$pid-$seq", seq = seq,
        tsEpochMs = System.currentTimeMillis(), algo = compression, key = key)
    }
  }

  /** Per partition, one connection: skip empty partitions, open one from
    * `connect` (given the partition id), hand it the rows, always close
    * it. Executor-side, so a relay distributes like any sink and never
    * funnels through the driver. */
  def foreachConnection[C <: AutoCloseable](df: DataFrame, connect: Int => C)
                                           (write: (C, Iterator[String]) => Unit): Unit =
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      if (it.hasNext) {
        val conn = connect(org.apache.spark.TaskContext.get().partitionId())
        try write(conn, it) finally conn.close()
      }
    }

  // connection factories: serializable, the connection is opened on the executor
  def socket(host: String, port: Int): Int => Socket = _ => new Socket(host, port)
  def tlsSocket(cfg: TlsConfig, host: String, port: Int,
                alpn: Seq[String] = Nil): Int => Socket =
    _ => Tls.clientSocket(cfg, host, port, alpn = alpn)
  def nats(host: String, port: Int): Int => NatsConnection =
    pid => new NatsConnection(host, port, name = s"graft-writer-p$pid")

  /** The plain NDJSON body: each row then '\n', one flush at the end. */
  def ndjsonLines(sock: Socket, it: Iterator[String]): Unit = {
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8))
    try { it.foreach { line => out.write(line); out.write('\n') }; out.flush() }
    finally out.close()
  }
}
