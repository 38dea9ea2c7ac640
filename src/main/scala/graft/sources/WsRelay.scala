package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** S12 WebSocket relay transport — the reference's websocketrelay
  * (`/root/reference/pkg/internal/websocketrelay/receivingrelay_stream.go:
  * 18-160`: each WS binary message is one proto `RelayEnvelope`;
  * StreamAcknowledgments flow back as binary messages, per-message or
  * batched) carried over the engine's own RFC 6455 framing
  * ([[WsFrames]], the S10 jack's codec) instead of a WS library. The
  * envelope/ack semantics are [[RelayProto.EnvelopeSession]] — the SAME
  * brain as the socket edge, so the two transports cannot drift.
  *
  * Client→server frames are masked (RFC 6455 §5.3 requires it; the server
  * rejects nothing, but the engine's writer complies). Sealing lives
  * inside the envelope metadata exactly as on the socket and NATS edges;
  * transport TLS would wrap the socket itself (see [[Tls]]), the two
  * layers independent as in the reference's SecurityOptions/TLSConfig
  * split. */
object WsRelay {

  /** Client half of the Upgrade handshake on an already-connected socket:
    * send the GET, verify `101` and the Sec-WebSocket-Accept echo
    * (RFC 6455 §4.2.2 — a peer that cannot hash our key is not a
    * WebSocket server). */
  def clientHandshake(sock: Socket, hostHeader: String, path: String): Unit = {
    require(path.startsWith("/"), s"path must start with '/': $path")
    val keyBytes = new Array[Byte](16)
    java.util.concurrent.ThreadLocalRandom.current().nextBytes(keyBytes)
    val wsKey = Base64.getEncoder.encodeToString(keyBytes)
    val out = sock.getOutputStream
    out.write((s"GET $path HTTP/1.1\r\nHost: $hostHeader\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Key: $wsKey\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
    out.flush()
    val in = new DataInputStream(sock.getInputStream)
    val status = WsFrames.readHeaderLine(in)
    require(status.startsWith("HTTP/1.1 101"), s"upgrade refused: '$status'")
    val accept = WsFrames.header(WsFrames.readHeaders(in), "Sec-WebSocket-Accept")
    require(accept == WsFrames.acceptKey(wsKey),
      s"Sec-WebSocket-Accept mismatch: got '$accept'")
  }

  /** The payload of a relay message: both relay ends carry binary
    * envelopes and acks only, so a text message fails the connection. */
  private[sources] def binaryMessage(m: Option[WsFrames.Message]): Option[Array[Byte]] =
    m.map {
      case WsFrames.Message(WsFrames.OpBinary, bytes) => bytes
      case WsFrames.Message(op, _) => throw new java.io.IOException(
        s"opcode $op is out of the relay contract (binary messages only)")
    }

  /** K5 forward relay over WebSocket: per partition, one Upgrade'd
    * connection; [[RelayWriter.sealedChunks]] envelopes ride as masked
    * binary messages, `EnvelopeClose` last, and the ack modes are
    * [[RelayProto.EnvelopeSender]]'s, exactly as on the socket edge. A
    * mode mismatch fails on `ackTimeoutMs`, not a hang. */
  def writeWsProto(df: DataFrame, host: String, port: Int, path: String = "/relay",
                   compression: Int = graft.functions.Codecs.CompressNone,
                   key: Option[Array[Byte]] = None,
                   maxChunkBytes: Int = 4 << 20,
                   ackMode: String = "none",
                   ackTimeoutMs: Int = 30000): Unit = {
    RelayWriter.requireSeal(compression, key, maxChunkBytes)
    RelayProto.requireAckMode(ackMode)
    require(path.startsWith("/"), s"path must start with '/': $path")
    RelayWriter.foreachConnection(df, RelayWriter.socket(host, port)) { (sock, it) =>
      // the handshake read is bounded in EVERY mode — a peer that
      // accepts TCP but never answers the Upgrade must fail the task,
      // not hang it; fire-and-forget then clears the timeout (it never
      // reads again)
      sock.setSoTimeout(ackTimeoutMs)
      clientHandshake(sock, s"$host:$port", path)
      if (ackMode == "none") sock.setSoTimeout(0)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new BufferedOutputStream(sock.getOutputStream)
      // acks are a few hundred bytes: a tight frame and message bound
      // keeps a compromised receiver from ballooning the writer task
      val acks = new WsFrames.MessageReader(in, out, 1 << 20, client = true)
      new RelayProto.EnvelopeSender(ackMode,
        send = { e =>
          out.write(WsFrames.encode(WsFrames.OpBinary,
            RelayProto.encodeEnvelope(e), maskKey = Some(WsFrames.freshMask())))
          out.flush()
        },
        readAck = () =>
          RelayProto.decodeAck(binaryMessage(acks.next())
            .getOrElse(throw new java.io.IOException(
              "connection closed while awaiting ack"))))
        .sendAll(RelayWriter.sealedChunks(it, maxChunkBytes, compression, key))
      out.write(WsFrames.encode(WsFrames.OpClose, Array.emptyByteArray,
        maskKey = Some(WsFrames.freshMask())))
      out.flush()
    }
  }
}

/** S12 WebSocket receiving relay: accept Upgrade'd connections, treat each
  * binary message as one RelayEnvelope, unwrap per its declared sealing
  * and feed an [[Ingress]] buffer (memory mode); acks ride back as binary
  * messages per `ackMode`. The envelope/ack brain is
  * [[RelayProto.EnvelopeSession]], shared with the socket edge; the
  * RFC 6455 transport is [[WsFrames.MessageReader]]'s: fragmentation
  * reassembly, ping/pong, close echo, and the per-message size cap (the
  * reference's maxMessageBytes guard, `receivingrelay_stream.go:81-90` —
  * checked per FRAME too, so a hostile peer cannot OOM the reassembly
  * buffer with unbounded continuations either). A message that fails
  * decode/unwrap drops that connection and counts in [[badFrameCount]],
  * exactly like the socket relay; text frames are out of contract and
  * count the same way. */
final class WsRelayReceiver(spark: SparkSession, port: Int,
                            key: Option[Array[Byte]] = None,
                            maxMessageBytes: Int = SealedRelay.DefaultMaxFrameBytes,
                            maxInflatedBytes: Int = SealedRelay.DefaultMaxInflatedBytes,
                            ackMode: String = "none") {
  require(maxMessageBytes > 0, s"maxMessageBytes must be positive: $maxMessageBytes")
  require(maxInflatedBytes >= maxMessageBytes,
    s"maxInflatedBytes ($maxInflatedBytes) must be at least maxMessageBytes ($maxMessageBytes)")
  RelayProto.requireAckMode(ackMode)
  RelayProto.requireKey(key)

  private val ingress = new Ingress(spark)
  private val server = new ServerSocket(port)
  private val badFrames = new AtomicLong(0)

  def boundPort: Int = server.getLocalPort

  private val accepts = new AcceptLoop(server, "graft-wsrelay")(serve)
  accepts.start()

  private def serve(sock: Socket): Unit = {
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new BufferedOutputStream(sock.getOutputStream)
      WsFrames.writeSwitchingProtocols(out, WsFrames.readUpgradeKey(in))

      var peerGone = false
      // success/close acks are best-effort (records already ingested);
      // see SealedReceivingRelay.serve for the rule
      def sendAck(a: RelayProto.StreamAck): Unit =
        try out.synchronized {
          out.write(WsFrames.encode(WsFrames.OpBinary, RelayProto.encodeAck(a)))
          out.flush()
        } catch { case _: java.io.IOException => peerGone = true }
      val session = new RelayProto.EnvelopeSession(key, maxInflatedBytes,
        ackMode, ingress.feed, sendAck)

      // frame cap = message cap: a frame's declared length is bounded
      // before allocation and reassembly is bounded by the same cap
      val reader = new WsFrames.MessageReader(in, out, maxMessageBytes, client = false)
      var more = true
      while (more && accepts.isRunning) {
        WsRelay.binaryMessage(reader.next()) match {
          case Some(envelope) => more = session.onEnvelope(envelope) && !peerGone
          case None => more = false
        }
      }
    } catch {
      case _: Throwable =>
        if (accepts.isRunning && !sock.isClosed) badFrames.incrementAndGet()
    }
  }

  /** Raw ingress stream (one string per received record). */
  def raw: Dataset[String] = ingress.raw

  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  def receivedCount: Long = ingress.receivedCount
  def badFrameCount: Long = badFrames.get()

  def stop(): Unit = accepts.stop()
}
