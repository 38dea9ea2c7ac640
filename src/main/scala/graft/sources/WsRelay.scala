package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
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
    var accept: String = null
    var line = WsFrames.readHeaderLine(in)
    while (line.nonEmpty) {
      val idx = line.indexOf(':')
      if (idx > 0 && line.substring(0, idx).trim.equalsIgnoreCase("Sec-WebSocket-Accept"))
        accept = line.substring(idx + 1).trim
      line = WsFrames.readHeaderLine(in)
    }
    require(accept == WsFrames.acceptKey(wsKey),
      s"Sec-WebSocket-Accept mismatch: got '$accept'")
  }

  private def freshMask(): Array[Byte] = {
    val m = new Array[Byte](4)
    java.util.concurrent.ThreadLocalRandom.current().nextBytes(m)
    m
  }

  /** Read WS frames until one binary MESSAGE completes (accumulating
    * continuations), transparently answering pings. Returns None on a
    * clean close frame. Used by the writer to await acks — text frames on
    * this edge are a protocol error. */
  private def readBinaryMessage(in: DataInputStream, out: DataOutputStream,
                                masked: Boolean,
                                maxMessageBytes: Int = 1 << 20): Option[Array[Byte]] = {
    val pending = new java.io.ByteArrayOutputStream()
    var inMessage = false
    while (true) {
      // acks are a few hundred bytes — a tight frame AND message bound
      // keeps a compromised receiver from ballooning the writer task
      val f = WsFrames.readFrame(in, maxMessageBytes)
      f.opcode match {
        case WsFrames.OpBinary | 0x0 =>
          require(inMessage == (f.opcode == 0x0),
            s"fragmentation violation: opcode ${f.opcode} while inMessage=$inMessage")
          require(pending.size.toLong + f.payload.length <= maxMessageBytes,
            s"message exceeds $maxMessageBytes bytes")
          inMessage = true
          pending.write(f.payload)
          if (f.fin) return Some(pending.toByteArray)
        case WsFrames.OpPing =>
          out.synchronized {
            out.write(WsFrames.encode(WsFrames.OpPong, f.payload,
              maskKey = if (masked) Some(freshMask()) else None))
            out.flush()
          }
        case WsFrames.OpPong => () // unsolicited pong: ignore
        case WsFrames.OpClose => return None
        case other => throw new java.io.IOException(
          s"unexpected opcode $other on a relay connection")
      }
    }
    None // unreachable
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
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      new RelayProto.EnvelopeSender(ackMode,
        send = { e =>
          out.write(WsFrames.encode(WsFrames.OpBinary,
            RelayProto.encodeEnvelope(e), maskKey = Some(freshMask())))
          out.flush()
        },
        readAck = () =>
          RelayProto.decodeAck(readBinaryMessage(in, out, masked = true)
            .getOrElse(throw new java.io.IOException(
              "connection closed while awaiting ack"))))
        .sendAll(RelayWriter.sealedChunks(it, maxChunkBytes, compression, key))
      out.write(WsFrames.encode(WsFrames.OpClose, Array.emptyByteArray,
        maskKey = Some(freshMask())))
      out.flush()
    }
  }
}

/** S12 WebSocket receiving relay: accept Upgrade'd connections, treat each
  * binary message as one RelayEnvelope, unwrap per its declared sealing
  * and feed an [[Ingress]] buffer (memory mode); acks ride back as binary
  * messages per `ackMode`. The envelope/ack brain is
  * [[RelayProto.EnvelopeSession]], shared with the socket edge; this
  * class owns only the RFC 6455 transport: handshake, fragmentation
  * reassembly, ping/pong, close echo, and the per-message size cap (the
  * reference's maxMessageBytes guard, `receivingrelay_stream.go:81-90` —
  * checked per FRAME here so a hostile peer cannot OOM the reassembly
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
      val rawOut = new BufferedOutputStream(sock.getOutputStream)
      val wsKey = WsFrames.readUpgradeKey(in)
      rawOut.write(
        ("HTTP/1.1 101 Switching Protocols\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Accept: ${WsFrames.acceptKey(wsKey)}\r\n\r\n").getBytes(UTF_8))
      rawOut.flush()
      val out = new DataOutputStream(rawOut)

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

      val pending = new java.io.ByteArrayOutputStream()
      var inMessage = false
      var more = true
      while (more && accepts.isRunning) {
        // frame cap = message cap: a single frame's DECLARED length is
        // bounded before allocation (WsFrames.readFrame), and continuation
        // accumulation is bounded below
        val f = WsFrames.readFrame(in, maxMessageBytes)
        f.opcode match {
          case WsFrames.OpBinary | 0x0 =>
            require(inMessage == (f.opcode == 0x0),
              s"fragmentation violation: opcode ${f.opcode} mid-message=$inMessage")
            require(pending.size.toLong + f.payload.length <= maxMessageBytes,
              s"message exceeds $maxMessageBytes bytes")
            inMessage = true
            pending.write(f.payload)
            if (f.fin) {
              more = session.onEnvelope(pending.toByteArray)
              if (peerGone) more = false
              pending.reset()
              inMessage = false
            }
          case WsFrames.OpPing =>
            out.synchronized {
              out.write(WsFrames.encode(WsFrames.OpPong, f.payload)); out.flush()
            }
          case WsFrames.OpClose =>
            out.synchronized {
              out.write(WsFrames.encode(WsFrames.OpClose, f.payload)); out.flush()
            }
            more = false
          case other =>
            throw new java.io.IOException(
              s"opcode $other is out of the relay contract (binary envelopes only)")
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
