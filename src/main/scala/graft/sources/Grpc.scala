package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** HTTP/2 wire layer for the gRPC relay edge — prior-knowledge framing
  * (RFC 7540 §3.4: both peers speak HTTP/2 from byte one, no Upgrade
  * dance) over either a cleartext socket (h2c) or TLS with ALPN `h2`
  * ([[Tls]] supplies the handshake; both relay endpoints take an
  * optional [[TlsConfig]]/[[MtlsOptions]]) — the framing a stock gRPC
  * peer actually uses for the reference's primary cross-process edge
  * (`proto/electrician_relay.proto:580-583`,
  * `pkg/internal/forwardrelay/stream.go`). Frames, the connection
  * preface, SETTINGS/PING/WINDOW_UPDATE handling, and flow-control
  * accounting are implemented here from the public RFC, in the same
  * blocking-socket style as the repo's RFC 6455 and NATS transports.
  * The connection rules live ONCE, in [[Connection]]: both the writer
  * ([[GrpcRelay]]) and the receiver ([[GrpcRelayReceiver]]) drive one
  * over their socket and keep only their own role's stream logic.
  * ONLY the HPACK header-block codec (RFC 7541 — dynamic table, huffman)
  * is delegated to netty's public `DefaultHttp2HeadersEncoder/Decoder`,
  * which ships on the Spark classpath — hand-rolling the 257-entry
  * huffman table buys nothing but transcription risk.
  *
  * Scope: enough of RFC 7540 for gRPC's use of it — no server push, no
  * priorities (PRIORITY frames are skipped, as the RFC allows), one
  * HEADERS + CONTINUATIONs per block, padding accepted on receive and
  * never sent. */
object Http2 {

  /** The 24-byte client connection preface (RFC 7540 §3.5). */
  val Preface: Array[Byte] = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(UTF_8)

  // frame types (RFC 7540 §6)
  val TData = 0x0
  val THeaders = 0x1
  val TPriority = 0x2
  val TRstStream = 0x3
  val TSettings = 0x4
  val TPing = 0x6
  val TGoAway = 0x7
  val TWindowUpdate = 0x8
  val TContinuation = 0x9

  // flags
  val FEndStream = 0x1
  val FAck = 0x1 // SETTINGS / PING
  val FEndHeaders = 0x4
  val FPadded = 0x8
  val FPriority = 0x20

  // settings identifiers (RFC 7540 §6.5.2)
  val SetHeaderTableSize = 0x1
  val SetMaxConcurrentStreams = 0x3
  val SetInitialWindowSize = 0x4
  val SetMaxFrameSize = 0x5

  /** RFC defaults: connection/stream send window and max frame size. */
  val DefaultWindow = 65535
  val DefaultMaxFrame = 16384

  final case class Frame(tpe: Int, flags: Int, streamId: Int,
                         payload: Array[Byte]) {
    def has(flag: Int): Boolean = (flags & flag) != 0
  }

  /** One frame: 24-bit length, type, flags, 31-bit stream id, payload.
    * Callers synchronize on `out` — frames from concurrent acks must not
    * interleave mid-frame. */
  def writeFrame(out: DataOutputStream, tpe: Int, flags: Int, streamId: Int,
                 payload: Array[Byte]): Unit = {
    require(payload.length < (1 << 24), s"frame too large: ${payload.length}")
    out.write((payload.length >>> 16) & 0xff)
    out.write((payload.length >>> 8) & 0xff)
    out.write(payload.length & 0xff)
    out.write(tpe)
    out.write(flags)
    out.writeInt(streamId & 0x7fffffff)
    out.write(payload)
  }

  /** Read one frame; the DECLARED length is bounded before allocation
    * (the WsFrames.readFrame rule — a hostile peer must not size our
    * buffers). */
  def readFrame(in: DataInputStream, maxLen: Int): Frame = {
    val b0 = in.read()
    if (b0 < 0) throw new EOFException("connection closed between frames")
    val len = (b0 << 16) | (in.readUnsignedByte() << 8) | in.readUnsignedByte()
    val tpe = in.readUnsignedByte()
    val flags = in.readUnsignedByte()
    val streamId = in.readInt() & 0x7fffffff
    require(len <= maxLen, s"frame of $len bytes exceeds cap $maxLen")
    val payload = new Array[Byte](len)
    in.readFully(payload)
    Frame(tpe, flags, streamId, payload)
  }

  /** Strip RFC 7540 §6.1/§6.2 padding and the optional priority block
    * from a HEADERS/DATA payload. */
  def stripPadding(f: Frame): Array[Byte] = {
    var start = 0
    var end = f.payload.length
    if (f.has(FPadded)) {
      require(end >= 1, "padded frame without pad length")
      val pad = f.payload(0) & 0xff
      start = 1
      require(end - start >= pad, s"pad $pad exceeds frame")
      end -= pad
    }
    if (f.tpe == THeaders && f.has(FPriority)) {
      require(end - start >= 5, "priority block truncated")
      start += 5
    }
    java.util.Arrays.copyOfRange(f.payload, start, end)
  }

  def settingsPayload(pairs: Seq[(Int, Long)]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val o = new DataOutputStream(b)
    pairs.foreach { case (id, v) => o.writeShort(id); o.writeInt(v.toInt) }
    b.toByteArray
  }

  def parseSettings(payload: Array[Byte]): Seq[(Int, Long)] = {
    require(payload.length % 6 == 0, s"SETTINGS length ${payload.length}")
    val in = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    (0 until payload.length / 6).map { _ =>
      (in.readUnsignedShort(), in.readInt().toLong & 0xffffffffL)
    }
  }

  /** Parse a WINDOW_UPDATE increment, validating the frame length first
    * (a truncated payload is a protocol error, not an index crash). */
  def windowIncrement(f: Frame): Long = {
    if (f.payload.length != 4)
      throw new IOException(
        s"WINDOW_UPDATE payload must be 4 bytes, got ${f.payload.length}")
    (((f.payload(0) & 0x7f) << 24) | ((f.payload(1) & 0xff) << 16) |
      ((f.payload(2) & 0xff) << 8) | (f.payload(3) & 0xff)).toLong
  }

  def windowUpdatePayload(increment: Int): Array[Byte] = {
    require(increment > 0, s"window increment must be positive: $increment")
    val b = new Array[Byte](4)
    b(0) = ((increment >>> 24) & 0x7f).toByte
    b(1) = ((increment >>> 16) & 0xff).toByte
    b(2) = ((increment >>> 8) & 0xff).toByte
    b(3) = (increment & 0xff).toByte
    b
  }

  /** HPACK header-block codec — netty's public RFC 7541 implementation
    * (ships with Spark at /opt/spark/jars). One codec instance per
    * connection per direction, as HPACK's dynamic table demands. */
  final class HeaderCodec {
    import io.netty.handler.codec.http2.{DefaultHttp2Headers, DefaultHttp2HeadersDecoder, DefaultHttp2HeadersEncoder}
    private val enc = new DefaultHttp2HeadersEncoder()
    private val dec = new DefaultHttp2HeadersDecoder(true)

    def encode(streamId: Int, headers: Seq[(String, String)]): Array[Byte] = {
      val h = new DefaultHttp2Headers()
      headers.foreach { case (k, v) => h.add(k, v) }
      val buf = io.netty.buffer.Unpooled.buffer()
      try {
        enc.encodeHeaders(streamId, h, buf)
        val out = new Array[Byte](buf.readableBytes())
        buf.readBytes(out)
        out
      } finally { buf.release(); () }
    }

    /** Cap the ENCODER's dynamic table at the size the peer's SETTINGS
      * advertised (RFC 7541 §4.2) — indexing beyond it is a
      * COMPRESSION_ERROR at a strict peer. */
    def limitEncoderTable(n: Long): Unit = enc.maxHeaderTableSize(n)

    def decode(streamId: Int, block: Array[Byte]): Seq[(String, String)] = {
      val buf = io.netty.buffer.Unpooled.wrappedBuffer(block)
      try {
        val h = dec.decodeHeaders(streamId, buf)
        val out = Seq.newBuilder[(String, String)]
        h.forEach(e => out += ((e.getKey.toString, e.getValue.toString)))
        out.result()
      } finally { buf.release(); () }
    }
  }

  /** Send-side flow-control ledger for one connection: the peer's
    * connection window plus per-stream windows, fed by its SETTINGS
    * (INITIAL_WINDOW_SIZE re-bases OPEN streams too, §6.9.2) and
    * WINDOW_UPDATEs; [[Connection.sendData]] spends it. */
  final class SendWindows {
    var conn: Long = DefaultWindow
    var initial: Long = DefaultWindow
    var maxFrame: Int = DefaultMaxFrame
    private val streams = mutable.Map[Int, Long]()
    def stream(id: Int): Long = streams.getOrElseUpdate(id, initial)
    def consume(id: Int, n: Int): Unit = {
      conn -= n; streams(id) = stream(id) - n
    }
    /** Forget a finished stream's ledger entry (a long-lived multiplexed
      * connection must not grow per-rpc state here either). */
    def drop(id: Int): Unit = { streams -= id; () }
    def onSettings(pairs: Seq[(Int, Long)]): Unit = pairs.foreach {
      case (SetInitialWindowSize, v) =>
        val delta = v - initial
        initial = v
        streams.keys.foreach(id => streams(id) = streams(id) + delta)
      case (SetMaxFrameSize, v) =>
        // RFC 7540 §6.5.2: legal range [2^14, 2^24-1]; outside it is a
        // connection error. Unvalidated, >2^31 would go negative after
        // .toInt (copyOfRange crash) and 0 would loop sendData forever
        // emitting empty DATA frames.
        if (v < 16384 || v > 0xffffff)
          throw new IOException(s"SETTINGS_MAX_FRAME_SIZE $v outside [16384, 2^24-1]")
        maxFrame = v.toInt
      case _ => ()
    }
    def onWindowUpdate(id: Int, inc: Long): Unit =
      if (id == 0) conn += inc else streams(id) = stream(id) + inc
  }

  /** What [[Connection.next]] hands its owner: nothing (a control frame
    * answered in place, or a header-block fragment), a complete header
    * block, or any other frame. */
  private[sources] sealed trait Inbound
  private[sources] case object Handled extends Inbound
  private[sources] final case class HeaderBlock(stream: Int,
      headers: Seq[(String, String)], endStream: Boolean) extends Inbound
  private[sources] final case class Other(f: Frame) extends Inbound

  /** The connection half of HTTP/2 that both relay endpoints share: over
    * one connection's `in`/`out` it owns the HPACK codec and the send
    * windows, answers control frames, assembles header blocks, credits
    * received DATA and sends DATA under flow control. Stream state stays
    * with the owner. `maxMessageBytes` caps a header block; a frame may
    * carry 1 KiB more (padding). */
  private[sources] final class Connection(in: DataInputStream,
                                          val out: DataOutputStream,
                                          maxMessageBytes: Int) {
    val codec = new HeaderCodec
    val windows = new SendWindows
    /** The peer's first non-ACK SETTINGS has been applied. */
    var peerSettings = false
    private val block = new java.io.ByteArrayOutputStream()
    private var blockStream = 0 // 0: no header block open
    private var blockEnd = false

    /** Read + handle one frame. SETTINGS (applied to the windows and the
      * HPACK encoder table, RFC 7541 §4.2, then ACKed), PING and
      * WINDOW_UPDATE for stream 0 or a stream `live` reports are answered
      * here; credit for a finished stream is stale and ignored. A HEADERS
      * block and its CONTINUATIONs must stay on one stream and under the
      * cap; the decoded block is returned at END_HEADERS. */
    def next(live: Int => Boolean): Inbound = {
      val f = readFrame(in, maxMessageBytes + 1024)
      f.tpe match {
        case TSettings if !f.has(FAck) =>
          val pairs = parseSettings(f.payload)
          windows.onSettings(pairs)
          pairs.collectFirst { case (SetHeaderTableSize, v) => v }
            .foreach(codec.limitEncoderTable)
          writeFrame(out, TSettings, FAck, 0, Array.emptyByteArray)
          out.flush()
          peerSettings = true
          Handled
        case TPing if !f.has(FAck) =>
          writeFrame(out, TPing, FAck, 0, f.payload)
          out.flush()
          Handled
        case TSettings | TPing => Handled
        case TWindowUpdate =>
          if (f.streamId == 0 || live(f.streamId))
            windows.onWindowUpdate(f.streamId, windowIncrement(f))
          Handled
        case THeaders | TContinuation =>
          if (f.tpe == THeaders) {
            block.reset()
            blockStream = f.streamId
            blockEnd = f.has(FEndStream)
          } else if (blockStream == 0 || blockStream != f.streamId)
            throw new IOException("continuation stream mismatch")
          val bytes = if (f.tpe == THeaders) stripPadding(f) else f.payload
          if (block.size.toLong + bytes.length > maxMessageBytes)
            throw new IOException(s"header block exceeds $maxMessageBytes bytes")
          block.write(bytes)
          if (!f.has(FEndHeaders)) Handled
          else {
            val hs = codec.decode(blockStream, block.toByteArray)
            block.reset()
            val done = HeaderBlock(blockStream, hs, blockEnd)
            blockStream = 0
            done
          }
        case _ => Other(f)
      }
    }

    /** A DATA frame's body, padding stripped. Its bytes are credited back
      * on the connection window always, and on the stream window only
      * while the stream is `open` (RFC 7540 §5.1: nothing but PRIORITY on
      * a CLOSED stream), so a long stream never starves (§6.9). */
    def data(f: Frame, open: Boolean): Array[Byte] = {
      val body = stripPadding(f)
      if (f.payload.length > 0) {
        writeFrame(out, TWindowUpdate, 0, 0, windowUpdatePayload(f.payload.length))
        if (open)
          writeFrame(out, TWindowUpdate, 0, f.streamId,
            windowUpdatePayload(f.payload.length))
        out.flush()
      }
      body
    }

    /** Send `bytes` on `stream` as DATA frames under the peer's flow
      * control (empty `bytes` + `endStream`: a lone END_STREAM frame).
      * While there is no credit `await` runs, pumping frames; when it
      * returns false the send is abandoned. */
    def sendData(stream: Int, bytes: Array[Byte], endStream: Boolean)
                (await: () => Boolean): Unit = {
      def avail = math.min(windows.conn, windows.stream(stream))
      var off = 0
      while (off < bytes.length || (endStream && bytes.length == 0 && off == 0)) {
        // RFC 7540 §6.9: split to the AVAILABLE window — a conformant peer
        // may hold the stream window below max-frame-size forever, so
        // waiting for a full frame's worth of credit would livelock
        while (bytes.length > 0 && avail <= 0) if (!await()) return
        val n = math.min(math.min(bytes.length - off, windows.maxFrame).toLong,
          math.max(avail, 0L)).toInt
        writeFrame(out, TData, if (endStream && off + n >= bytes.length) FEndStream
          else 0, stream, java.util.Arrays.copyOfRange(bytes, off, off + n))
        windows.consume(stream, n)
        off += n
        // flush EVERY frame before a possible credit wait: a partial
        // frame parked in the output buffer is credit the peer can never
        // grant (it credits on receipt) — buffered-unflushed + blocked
        // read = deadlock
        out.flush()
        if (bytes.length == 0) return // lone END_STREAM frame
      }
    }
  }
}

/** gRPC's length-prefixed message layer over HTTP/2 DATA bytes (the
  * public gRPC-over-HTTP/2 spec): 1-byte compressed flag + 4-byte
  * big-endian length + message. The relay never uses gRPC-level
  * compression — sealing (gzip/zstd/… + AES-GCM) lives INSIDE
  * WrappedPayload exactly as on the socket/WS/NATS edges, so the frame
  * flag is always 0 and a compressed-flag frame from a peer is an
  * explicit error (we advertise no grpc-encoding). */
object GrpcWire {

  def message(body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + body.length)
    out(0) = 0
    out(1) = ((body.length >>> 24) & 0xff).toByte
    out(2) = ((body.length >>> 16) & 0xff).toByte
    out(3) = ((body.length >>> 8) & 0xff).toByte
    out(4) = (body.length & 0xff).toByte
    System.arraycopy(body, 0, out, 5, body.length)
    out
  }

  /** Reassembles gRPC messages from DATA payload fragments; the declared
    * message length is capped BEFORE buffering past it. Offset-tracked
    * (compact-on-demand) rather than copy-per-poll: the receiver polls
    * after EVERY 16 KiB DATA frame, and a toByteArray-per-poll buffer
    * would memcpy O(message²) reassembling a multi-frame message. */
  final class MessageBuffer(maxMessageBytes: Int) {
    private var arr = new Array[Byte](8192)
    private var start = 0
    private var end = 0
    private def size = end - start
    def feed(b: Array[Byte], off: Int = 0, len: Int = -1): Unit = {
      val n = if (len < 0) b.length - off else len
      // headroom: a partial capped message plus one more frame may sit in
      // the buffer before poll() drains — the DECLARED length check in
      // poll() is the real cap; this bound only stops unbounded growth
      require(size.toLong + n <= maxMessageBytes.toLong * 2 + 10,
        s"gRPC message exceeds $maxMessageBytes bytes")
      if (end + n > arr.length) {
        // compact first; grow only if the live bytes still don't fit
        System.arraycopy(arr, start, arr, 0, size)
        end = size; start = 0
        if (end + n > arr.length) {
          val grown = new Array[Byte](math.max(arr.length * 2, end + n))
          System.arraycopy(arr, 0, grown, 0, end)
          arr = grown
        }
      }
      System.arraycopy(b, off, arr, end, n)
      end += n
    }
    def poll(): Option[Array[Byte]] = {
      if (size < 5) return None
      require(arr(start) == 0, s"compressed gRPC frame (flag ${arr(start)}) — " +
        "no grpc-encoding was negotiated; sealing rides inside the payload")
      val len = ((arr(start + 1) & 0xff) << 24) | ((arr(start + 2) & 0xff) << 16) |
        ((arr(start + 3) & 0xff) << 8) | (arr(start + 4) & 0xff)
      require(len >= 0 && len <= maxMessageBytes,
        s"gRPC message of $len bytes exceeds cap $maxMessageBytes")
      if (size < 5 + len) None
      else {
        val out = java.util.Arrays.copyOfRange(arr, start + 5, start + 5 + len)
        start += 5 + len
        if (start == end) { start = 0; end = 0 }
        Some(out)
      }
    }
    def isEmpty: Boolean = size == 0
  }
}

/** K5 gRPC forward-relay writer: each partition opens one h2c connection,
  * POSTs `/electrician.RelayService/StreamReceive`, and streams
  * RelayEnvelope messages; StreamAcknowledgments flow back as response
  * messages per `ackMode` — the reference's primary relay edge
  * (`pkg/internal/forwardrelay/stream.go`) over genuine gRPC framing.
  * The envelope/ack semantics and sealing are [[RelayProto]] /
  * [[SealedRelay.seal]], identical to the socket/WS/NATS edges; this
  * object owns only the HTTP/2 + gRPC message transport. */
object GrpcRelay {

  val StreamPath = "/electrician.RelayService/StreamReceive"
  val UnaryPath = "/electrician.RelayService/Receive"

  /** One request stream's client-side state over an [[Http2.Connection]]:
    * [[pump]] processes one incoming frame (stream DATA lands in `data`,
    * response headers then trailers in their fields, `streamEnded` flips
    * on END_STREAM; GOAWAY and RST_STREAM fail the write). */
  private final class ClientConn(sock: Socket, streamId: Int, maxMessageBytes: Int,
                                 ackTimeoutMs: Int, creditTimeoutMs: Int) {
    val http = new Http2.Connection(
      new DataInputStream(new BufferedInputStream(sock.getInputStream)),
      new DataOutputStream(new BufferedOutputStream(sock.getOutputStream)),
      maxMessageBytes)
    val data = new GrpcWire.MessageBuffer(maxMessageBytes)
    var headers: Seq[(String, String)] = Nil
    var trailers: Seq[(String, String)] = Nil
    var streamEnded = false

    /** Read + handle one frame. */
    def pump(): Unit = http.next(_ == streamId) match {
      case Http2.HeaderBlock(`streamId`, hs, endStream) =>
        if (headers.isEmpty) headers = hs else trailers = hs
        if (endStream) streamEnded = true
      case Http2.Other(f) => f.tpe match {
        case Http2.TData =>
          val body = http.data(f, open = f.streamId == streamId)
          if (f.streamId == streamId) {
            data.feed(body)
            if (f.has(Http2.FEndStream)) streamEnded = true
          }
        case Http2.TGoAway =>
          throw new IOException("server sent GOAWAY mid-stream")
        case Http2.TRstStream =>
          throw new IOException(s"stream reset by server (code ${
            if (f.payload.length >= 4) f.payload(3) & 0xff else -1})")
        case _ => () // PRIORITY, other streams: skip
      }
      case _ => ()
    }

    /** Connection preface + our SETTINGS, then wait for the server's
      * preface SETTINGS (its first frame, RFC 7540 §3.5) before opening
      * the stream with `requestHeaders`. DATA sent earlier is sized to the
      * default 64 KiB window; a peer advertising a smaller one then holds
      * our stream window below zero, and a netty server that consumed
      * those bytes before our ack never re-credits them — the writer
      * would stall in its credit wait. */
    def open(requestHeaders: Seq[(String, String)]): Unit = {
      http.out.write(Http2.Preface)
      Http2.writeFrame(http.out, Http2.TSettings, 0, 0, Array.emptyByteArray)
      http.out.flush()
      while (!http.peerSettings) pump()
      Http2.writeFrame(http.out, Http2.THeaders, Http2.FEndHeaders, streamId,
        http.codec.encode(streamId, requestHeaders))
      http.out.flush()
    }

    /** Send gRPC message bytes as DATA frames. A credit wait is receiver
      * BACKPRESSURE, not an overdue ack — it may lawfully outlast
      * ackTimeoutMs (e.g. a receiver draining a slow sink), so its reads
      * get their own, larger timeout. */
    def sendData(bytes: Array[Byte], endStream: Boolean): Unit =
      http.sendData(streamId, bytes, endStream) { () =>
        sock.setSoTimeout(creditTimeoutMs)
        try pump() finally sock.setSoTimeout(ackTimeoutMs)
        true
      }

    /** Block until one full gRPC message (an ack) is available. */
    def readMessage(): Array[Byte] = {
      var m = data.poll()
      while (m.isEmpty) {
        // stream over and no COMPLETE message decodable (empty buffer or
        // a truncated tail alike): no more frames will ever arrive
        if (streamEnded)
          throw new IOException("stream ended while awaiting ack" +
            (if (data.isEmpty) "" else " (truncated message)") +
            trailers.find(_._1 == "grpc-message").map(m => s": ${m._2}")
              .getOrElse(""))
        pump()
        m = data.poll()
      }
      m.get
    }

    /** Block until trailers (or the stream end) arrive; verify
      * grpc-status 0. */
    def awaitTrailers(): Unit = {
      while (!streamEnded) pump()
      val status = (trailers ++ headers).collectFirst {
        case ("grpc-status", v) => v
      }
      require(status.contains("0"), s"grpc-status ${status.getOrElse("missing")}" +
        (trailers ++ headers).collectFirst { case ("grpc-message", m) => s": $m" }
          .getOrElse(""))
    }
  }

  /** Write a DataFrame through the relay's gRPC edge. Parameter contract
    * mirrors [[WsRelay.writeWsProto]]/[[SealedRelay.writeSocketSealed]]:
    * sealing (`compression`, `key`) rides inside WrappedPayload;
    * `ackMode` none | per-frame | batch. A non-empty `tls` switches the
    * edge to TLS with ALPN `h2` (the reference relay's default posture,
    * `forwardrelay/auth_options.go:14-15` — TLS on unless explicitly
    * insecure), the client certificate doubling as the mTLS identity;
    * `creditTimeoutMs` separately bounds flow-control backpressure
    * stalls (which may lawfully outlast an ack timeout). */
  def writeGrpcProto(df: DataFrame, host: String, port: Int,
                     compression: Int = graft.functions.Codecs.CompressNone,
                     key: Option[Array[Byte]] = None,
                     maxChunkBytes: Int = 4 << 20,
                     ackMode: String = "none",
                     ackTimeoutMs: Int = 30000,
                     tls: Option[TlsConfig] = None,
                     creditTimeoutMs: Int = 600000): Unit = {
    RelayWriter.requireSeal(compression, key, maxChunkBytes)
    RelayProto.requireAckMode(ackMode)
    // the TLS socket is built executor-side from the serializable config
    val connect = tls.fold(RelayWriter.socket(host, port))(
      RelayWriter.tlsSocket(_, host, port, alpn = Seq("h2")))
    RelayWriter.foreachConnection(df, connect) { (sock, it) =>
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(ackTimeoutMs)
      val conn = new ClientConn(sock, streamId = 1,
        maxMessageBytes = maxChunkBytes + 4096,
        ackTimeoutMs = ackTimeoutMs, creditTimeoutMs = creditTimeoutMs)
      conn.open(Seq(
        ":method" -> "POST",
        ":scheme" -> (if (tls.isDefined) "https" else "http"),
        ":path" -> StreamPath, ":authority" -> s"$host:$port",
        "content-type" -> "application/grpc",
        "te" -> "trailers"))
      new RelayProto.EnvelopeSender(ackMode,
        send = e => conn.sendData(GrpcWire.message(RelayProto.encodeEnvelope(e)),
          endStream = false),
        readAck = () => RelayProto.decodeAck(conn.readMessage()),
        halfClose = () => conn.sendData(Array.emptyByteArray, endStream = true))
        .sendAll(RelayWriter.sealedChunks(it, maxChunkBytes, compression, key))
      conn.awaitTrailers()
      // polite shutdown (RFC 7540 §6.8) so the receiver's read loop
      // distinguishes a finished peer from a dropped one
      Http2.writeFrame(conn.http.out, Http2.TGoAway, 0, 0, new Array[Byte](8))
      conn.http.out.flush()
    }
  }
}

/** S11-over-gRPC receiving relay: accept h2c connections, serve
  * `RelayService.StreamReceive` (each gRPC message one RelayEnvelope,
  * acks as response messages) and the unary `RelayService.Receive`.
  * The envelope/ack brain is [[RelayProto.EnvelopeSession]] — the SAME
  * as the socket/WS/NATS edges; the connection rules are
  * [[Http2.Connection]]'s, and this class owns only the server role:
  * the preface check and its SETTINGS, HEADERS routing, per-stream gRPC
  * message reassembly, trailers. Streams multiplex —
  * a stock gRPC client may interleave several on one connection.
  * Records land in an [[Ingress]] buffer (memory mode). */
final class GrpcRelayReceiver(spark: SparkSession, port: Int,
                              key: Option[Array[Byte]] = None,
                              maxMessageBytes: Int = SealedRelay.DefaultMaxFrameBytes,
                              maxInflatedBytes: Int = SealedRelay.DefaultMaxInflatedBytes,
                              ackMode: String = "none",
                              tls: Option[TlsConfig] = None,
                              mtls: Option[MtlsOptions] = None) {
  require(maxMessageBytes > 0, s"maxMessageBytes must be positive: $maxMessageBytes")
  require(maxInflatedBytes >= maxMessageBytes,
    s"maxInflatedBytes ($maxInflatedBytes) must be at least maxMessageBytes ($maxMessageBytes)")
  RelayProto.requireAckMode(ackMode)
  RelayProto.requireKey(key)
  require(mtls.isEmpty || tls.isDefined,
    "mTLS policy requires a TLS server config")

  private val ingress = new Ingress(spark)
  // TLS arm = the reference receiving relay's default posture
  // (`receivingrelay/tls.go`, `auth_options.go:14-24`): terminate TLS
  // with ALPN h2, require + verify a client certificate when `mtls` is
  // set, and authorize its principal BEFORE any HTTP/2 byte is parsed.
  private val server: ServerSocket = tls match {
    case Some(cfg) => Tls.serverSocket(cfg, port, mtls)
    case None => new ServerSocket(port)
  }
  private val badFrames = new AtomicLong(0)
  private val rejectedPeers = new AtomicLong(0)
  private val admittedPeers = new AtomicLong(0)

  def boundPort: Int = server.getLocalPort

  private val accepts = new AcceptLoop(server, "graft-grpcrelay")(serve)
  accepts.start()

  /** Per-stream request state. */
  private final class StreamState(val id: Int) {
    var path: String = ""
    var responded = false
    val data = new GrpcWire.MessageBuffer(maxMessageBytes)
    var session: RelayProto.EnvelopeSession = _
    var closed = false
    var endPending = false // peer half-closed; handled by processPending
    var dirty = false      // new bytes since the last drain
  }

  private def serve(sock: Socket): Unit = {
    var admitted = tls.isEmpty // cleartext arm has no admission gate
    try {
      sock match {
        case ssl: javax.net.ssl.SSLSocket =>
          // handshake (rejects certs the CA didn't sign) + ALPN h2 check,
          // then principal policy — all before the first HTTP/2 byte.
          // The admission gate is TIME-BOXED: a silent TCP peer (scanner,
          // slowloris) must not pin this thread + fd forever
          ssl.setSoTimeout(15000)
          Tls.serverHandshakeAlpn(ssl, Seq("h2"))
          mtls.foreach(Tls.authorize(ssl, _))
          ssl.setSoTimeout(0) // admitted: back to the blocking serve loop
          admitted = true
          admittedPeers.incrementAndGet()
        case _ => ()
      }
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      val http = new Http2.Connection(in, out, maxMessageBytes)
      val codec = http.codec
      // prior-knowledge preface, then our SETTINGS
      val pre = new Array[Byte](Http2.Preface.length)
      in.readFully(pre)
      require(java.util.Arrays.equals(pre, Http2.Preface),
        "not an HTTP/2 prior-knowledge connection")
      Http2.writeFrame(out, Http2.TSettings, 0, 0, Http2.settingsPayload(Seq(
        Http2.SetMaxFrameSize -> Http2.DefaultMaxFrame.toLong,
        Http2.SetInitialWindowSize -> Http2.DefaultWindow.toLong)))
      out.flush()

      // OPEN streams only: closed ones are pruned (a long-lived
      // multiplexed channel must not grow state per finished rpc), and
      // `maxStreamSeen` tells late DATA for a pruned stream (discard +
      // credit) apart from DATA for a stream that never existed (error)
      val streams = mutable.Map[Int, StreamState]()
      var maxStreamSeen = 0
      var more = true

      def respondHeadersOnce(s: StreamState): Unit = if (!s.responded) {
        Http2.writeFrame(out, Http2.THeaders, Http2.FEndHeaders, s.id,
          codec.encode(s.id, Seq(":status" -> "200",
            "content-type" -> "application/grpc")))
        out.flush()
        s.responded = true
      }
      // acks are flow-controlled DATA (RFC 7540 §6.9): when the peer's
      // window is short, pump frames — pumpOnce DEFERS all stream work
      // (drains/ends), so waiting here cannot re-enter a send. A reset
      // arriving mid-ack abandons the rest (the peer stopped listening).
      def sendMessage(s: StreamState, body: Array[Byte]): Unit = {
        if (s.closed) return // RST'd stream: the peer stopped listening
        respondHeadersOnce(s)
        http.sendData(s.id, GrpcWire.message(body), endStream = false) { () =>
          if (more) pumpOnce() // may mark s.closed via an RST_STREAM it reads
          if (!s.closed && !more) throw new IOException("peer went away mid-ack")
          !s.closed
        }
      }
      def sendTrailers(s: StreamState, status: Int, message: String): Unit = {
        if (s.closed) return // already reset/answered: nothing to send
        respondHeadersOnce(s)
        // HEADERS frames are not flow-controlled — trailers never block
        Http2.writeFrame(out, Http2.THeaders,
          Http2.FEndHeaders | Http2.FEndStream, s.id,
          codec.encode(s.id, Seq("grpc-status" -> status.toString) ++
            (if (message.isEmpty) Nil else Seq("grpc-message" -> message))))
        out.flush()
        s.closed = true
      }
      def newSession(s: StreamState): RelayProto.EnvelopeSession =
        new RelayProto.EnvelopeSession(key, maxInflatedBytes, ackMode,
          ingress.feed,
          a => try sendMessage(s, RelayProto.encodeAck(a))
          catch { case _: IOException => () })

      def onHeaders(id: Int, hs: Seq[(String, String)], endStream: Boolean): Unit = {
        val s = streams.getOrElseUpdate(id, new StreamState(id))
        maxStreamSeen = math.max(maxStreamSeen, id)
        s.path = hs.collectFirst { case (":path", p) => p }.getOrElse("")
        if (s.path != GrpcRelay.StreamPath && s.path != GrpcRelay.UnaryPath) {
          // fail ONLY this stream (grpc UNIMPLEMENTED), never the
          // connection: a stock client multiplexes unrelated rpcs (health
          // checks, reflection) over the same channel
          sendTrailers(s, 12, s"unknown rpc ${s.path}")
        } else {
          s.session = newSession(s)
          if (endStream) s.endPending = true // handled by processPending
        }
      }
      def drain(s: StreamState): Unit = {
        var m = s.data.poll()
        while (m.isDefined && !s.closed) {
          if (s.path == GrpcRelay.UnaryPath) {
            // unary Receive: the message IS a WrappedPayload; ack + close
            // (decoded arm handed straight to the shared session brain —
            // no encode/decode round-trip of a possibly-MiB payload)
            val more = s.session.onDecoded(
              RelayProto.EnvelopePayload(RelayProto.decode(m.get)))
            if (ackMode != "per-frame") // unary always answers one ack
              sendMessage(s, RelayProto.encodeAck(RelayProto.StreamAck(
                success = true, okCount = 1)))
            sendTrailers(s, 0, "")
            require(more) // a payload envelope never closes the session
          } else if (!s.session.onEnvelope(m.get)) {
            sendTrailers(s, 0, "")
          }
          m = if (s.closed) None else s.data.poll()
        }
      }
      def onEndStream(s: StreamState): Unit = if (!s.closed) {
        if (!s.data.isEmpty) {
          // the peer half-closed mid-message: acknowledging the stream as
          // complete would silently absorb its lost record — answer the
          // gRPC INTERNAL status naming the truncation instead
          sendTrailers(s, 13, "truncated gRPC message at end of stream")
        } else {
          // half-close without an explicit EnvelopeClose (a stock peer
          // may just END_STREAM): synthesize the close so batch acks fire
          if (s.path == GrpcRelay.StreamPath)
            s.session.onDecoded(RelayProto.EnvelopeClose("end-of-stream"))
          if (!s.closed) sendTrailers(s, 0, "")
        }
      }

      /** Read + handle ONE frame; stream-level work (drains, end-of-
        * stream) is only FLAGGED — [[processPending]] runs it from the
        * main loop, so a send waiting on flow-control credit can pump
        * safely without re-entrant sends. */
      def pumpOnce(): Unit = {
        val inbound =
          try http.next(streams.contains)
          catch {
            case e: EOFException =>
              // a stock peer may close the TCP connection without GOAWAY;
              // that is a clean end IFF every stream it opened finished
              // (open streams were pruned on close, so "none left" is the
              // check) — vacuously true for a probe that opened none
              if (streams.isEmpty) { more = false; return }
              else throw e
          }
        inbound match {
          case Http2.HeaderBlock(id, hs, endStream) => onHeaders(id, hs, endStream)
          case Http2.Other(f) => f.tpe match {
            case Http2.TData =>
              val stream = streams.get(f.streamId)
              if (stream.isEmpty && f.streamId > maxStreamSeen)
                throw new IOException(s"DATA on unopened stream ${f.streamId}")
              // late DATA for a finished/reset stream: credit + discard
              val open = stream.exists(!_.closed)
              val body = http.data(f, open)
              stream.foreach { s =>
                if (open) { s.data.feed(body); s.dirty = true }
                if (f.has(Http2.FEndStream)) s.endPending = true
              }
            case Http2.TGoAway => more = false
            case Http2.TRstStream =>
              streams.get(f.streamId).foreach(_.closed = true)
            case _ => () // PRIORITY etc.
          }
          case Http2.Handled => ()
        }
      }
      /** Run flagged stream work to a FIXPOINT and prune finished
        * streams: a drain's credit wait pumps frames that may flag NEW
        * work (another stream's DATA/END_STREAM), which must not starve
        * until the next inbound frame. */
      def processPending(): Unit = {
        var again = true
        while (again) {
          val work = streams.values
            .filter(s => !s.closed && (s.dirty || s.endPending)).toSeq
          work.foreach { s =>
            s.dirty = false
            if (!s.closed && !s.data.isEmpty) drain(s)
            if (!s.closed && s.endPending) onEndStream(s)
          }
          streams.filterInPlace { (id, s) =>
            if (s.closed) http.windows.drop(id) // finished rpc: forget ledger too
            !s.closed
          }
          again = work.nonEmpty &&
            streams.values.exists(s => !s.closed && (s.dirty || s.endPending))
        }
      }

      while (more && accepts.isRunning) {
        pumpOnce()
        processPending()
      }
    } catch {
      case _: Throwable =>
        // shutdown interrupting an in-flight admission is not a rejected
        // peer. Guard on `running` ALONE: a genuinely failed handshake
        // leaves the socket closed by JSSE itself, so the frame counter's
        // !isClosed arm would swallow real rejections here.
        if (!admitted) {
          if (accepts.isRunning) rejectedPeers.incrementAndGet()
        } else if (accepts.isRunning && !sock.isClosed) badFrames.incrementAndGet()
    }
  }

  /** Raw ingress stream (one string per received record). */
  def raw: Dataset[String] = ingress.raw

  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  def receivedCount: Long = ingress.receivedCount
  def badFrameCount: Long = badFrames.get()
  def admittedCount: Long = admittedPeers.get()
  def rejectedCount: Long = rejectedPeers.get()

  def stop(): Unit = accepts.stop()
}
