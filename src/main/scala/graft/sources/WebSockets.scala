package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, IOException, OutputStream}
import java.net.{ServerSocket, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, CompletionStage, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** WebSocket edge adapters (SURVEY §2.1 S8/S10, §2.6 K6) on JDK-only
  * primitives — no new dependencies:
  *
  *  - [[WsFrames]]: RFC 6455 frame + handshake codec (pure functions,
  *    property-tested across the 7/16/64-bit length encodings) and the
  *    one message reader every endpoint here receives through.
  *  - [[WsServerHub]] (S10 server jack + K6 broadcast): a real
  *    protocol-terminating listener — HTTP Upgrade handshake, masked
  *    client-frame decode, ping/pong, close handshake — that feeds
  *    received text messages into an [[Ingress]] buffer exactly like
  *    [[HttpPollSource]], and can push text frames to every connected
  *    peer (the reference's WS broadcast server,
  *    `/root/reference/pkg/internal/adapter/wsserver/serve.go`,
  *    `jack/websocket/serve.go:17-147`).
  *  - [[WsClientSource]] (S8 client): `java.net.http.HttpClient`'s
  *    built-in RFC 6455 client (an INDEPENDENT protocol implementation —
  *    its handshake/masking validating against our server is part of the
  *    e2e test's point), buffering server-pushed messages into an [[Ingress]]
  *    MemoryStream (`/root/reference/pkg/internal/adapter/
  *    websocketclient/serve.go:14-45`).
  *
  * Driver-ingress by design, like the reference's single-listener jacks
  * and the HTTP poll source: WS payloads are control-plane sized
  * (notifications, sensor pushes, UI fan-out); the high-volume edges stay
  * Kafka/files. Spark distributes everything downstream of the buffer.
  */
object WsFrames {

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  /** Sec-WebSocket-Accept for a client's Sec-WebSocket-Key (RFC 6455 §4.2.2). */
  def acceptKey(clientKey: String): String =
    Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1")
        .digest((clientKey + WsGuid).getBytes(UTF_8)))

  private[sources] val OpContinuation = 0x0
  val OpText = 0x1
  val OpBinary = 0x2
  val OpClose = 0x8
  val OpPing = 0x9
  val OpPong = 0xA

  /** Max HTTP header-line length accepted during the handshake — the same
    * hostile-peer bound every other pre-auth read path carries (NATS
    * control lines, frame caps): an unauthenticated peer streaming bytes
    * with no '\n' must hit a loud error, not grow a StringBuilder forever. */
  val MaxHeaderLine = 8192
  /** Max header lines per upgrade request (same hostile-peer rationale). */
  val MaxHeaderLines = 256

  /** Read one HTTP header line (handshake phase only — before framing). */
  def readHeaderLine(in: DataInputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != -1 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      if (sb.length > MaxHeaderLine)
        throw new IOException(s"handshake header line exceeds $MaxHeaderLine bytes")
      c = in.read()
    }
    sb.result()
  }

  /** Read an HTTP header block up to its blank line as (name, value)
    * pairs, bounded by [[MaxHeaderLines]] (a peer streaming header lines
    * forever must hit a loud error, not pin the reading thread). Lines
    * without a ':' are skipped. */
  private[sources] def readHeaders(in: DataInputStream): Vector[(String, String)] = {
    val headers = Vector.newBuilder[(String, String)]
    var n = 0
    var line = readHeaderLine(in)
    while (line.nonEmpty) {
      n += 1
      if (n > MaxHeaderLines)
        throw new IOException(s"handshake exceeds $MaxHeaderLines header lines")
      val idx = line.indexOf(':')
      if (idx > 0) headers += line.substring(0, idx).trim -> line.substring(idx + 1).trim
      line = readHeaderLine(in)
    }
    headers.result()
  }

  /** The last value of header `name` (case-insensitive), or null. */
  private[sources] def header(headers: Seq[(String, String)], name: String): String =
    headers.findLast(_._1.equalsIgnoreCase(name)).map(_._2).orNull

  /** Consume a client Upgrade request; returns its Sec-WebSocket-Key and
    * ALL request headers (the auth policy input — the reference jack
    * authorizes static headers / bearer tokens during the upgrade,
    * `jack/websocket/serve.go` + `auth_policy.go`). */
  def readUpgrade(in: DataInputStream): (String, Map[String, String]) = {
    val headers = readHeaders(in)
    val key = header(headers, "Sec-WebSocket-Key")
    require(key != null, "upgrade request carries no Sec-WebSocket-Key")
    (key, headers.toMap)
  }

  /** Server half of the upgrade: answer `101` with the accept key for the
    * client's Sec-WebSocket-Key (RFC 6455 §4.2.2) and flush. */
  private[sources] def writeSwitchingProtocols(out: OutputStream, clientKey: String): Unit = {
    out.write(
      ("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: ${acceptKey(clientKey)}\r\n\r\n").getBytes(UTF_8))
    out.flush()
  }

  /** Key-only form (codec tests, simple peers). */
  def readUpgradeKey(in: DataInputStream): String = readUpgrade(in)._1

  /** Encode one frame (final unless `fin = false` — continuation frames
    * then carry opcode 0x0). Server→client frames are unmasked; a client
    * MUST mask (RFC 6455 §5.3) — pass a key to take that path. */
  def encode(opcode: Int, payload: Array[Byte],
             maskKey: Option[Array[Byte]] = None,
             fin: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 14)
    out.write((if (fin) 0x80 else 0x00) | (opcode & 0x0F))
    val maskBit = if (maskKey.isDefined) 0x80 else 0x00
    val n = payload.length
    if (n < 126) out.write(maskBit | n)
    else if (n < 65536) {
      out.write(maskBit | 126); out.write(n >> 8); out.write(n & 0xFF)
    } else {
      out.write(maskBit | 127)
      var i = 7
      while (i >= 0) { out.write(((n.toLong >> (8 * i)) & 0xFF).toInt); i -= 1 }
    }
    maskKey match {
      case Some(key) =>
        require(key.length == 4, "mask key must be 4 bytes")
        out.write(key)
        var i = 0
        while (i < n) { out.write(payload(i) ^ key(i % 4)); i += 1 }
      case None => out.write(payload, 0, n)
    }
    out.toByteArray
  }

  final case class Frame(fin: Boolean, opcode: Int, payload: Array[Byte])

  /** Default per-frame payload cap: the declared length comes from an
    * UNAUTHENTICATED peer and is allocated before any validation, so it
    * must be bounded BEFORE `new Array` — same rule as
    * [[SealedRelay.DefaultMaxFrameBytes]] (and the same 64 MiB). */
  val DefaultMaxFramePayload: Int = 64 << 20

  /** Read one frame (blocking). Throws EOFException on a half-closed peer,
    * and rejects frames whose DECLARED length exceeds `maxPayloadBytes`
    * before allocating. */
  def readFrame(in: DataInputStream,
                maxPayloadBytes: Int = DefaultMaxFramePayload): Frame = {
    val b0 = in.readUnsignedByte()
    val b1 = in.readUnsignedByte()
    val masked = (b1 & 0x80) != 0
    val len7 = b1 & 0x7F
    val len: Long =
      if (len7 < 126) len7
      else if (len7 == 126) in.readUnsignedShort().toLong
      else in.readLong()
    // the 64-bit form is unsigned on the wire: a high-bit length reads as
    // negative and must be a protocol error, not a NegativeArraySizeException
    require(len >= 0 && len <= maxPayloadBytes,
      s"bad frame length $len (cap $maxPayloadBytes)")
    val key = if (masked) { val k = new Array[Byte](4); in.readFully(k); k } else null
    val payload = new Array[Byte](len.toInt)
    in.readFully(payload)
    if (masked) {
      var i = 0
      while (i < payload.length) { payload(i) = (payload(i) ^ key(i % 4)).toByte; i += 1 }
    }
    Frame((b0 & 0x80) != 0, b0 & 0x0F, payload)
  }

  /** A fresh client mask key (RFC 6455 §5.3). */
  private[sources] def freshMask(): Array[Byte] = {
    val m = new Array[Byte](4)
    java.util.concurrent.ThreadLocalRandom.current().nextBytes(m)
    m
  }

  /** One complete data message: the opcode of its first frame (text or
    * binary) and the reassembled payload. */
  private[sources] final case class Message(opcode: Int, payload: Array[Byte])

  /** The receive side of one connection (RFC 6455 §5.4–5.5), one reader
    * thread per connection. Enforces fragment order (a continuation needs
    * an open message; a data frame may not arrive inside one) and caps
    * each frame's declared length and each message at `maxMessageBytes`.
    * Ping gets Pong and Close gets Close, masked when `client`, written
    * under `out.synchronized` because a broadcast may share the stream.
    * Unsolicited Pong is ignored; any other opcode fails the connection. */
  private[sources] final class MessageReader(in: DataInputStream, out: OutputStream,
                                             maxMessageBytes: Int, client: Boolean) {
    private val pending = new java.io.ByteArrayOutputStream()
    private var openOpcode = -1 // the fragmented message in progress, or -1

    /** The next complete data message, or None once the peer sent Close
      * (answered before returning). Throws on a protocol violation. */
    def next(): Option[Message] = {
      while (true) {
        val f = readFrame(in, maxMessageBytes)
        f.opcode match {
          case OpText | OpBinary =>
            if (openOpcode != -1)
              throw new IOException(s"data frame (opcode ${f.opcode}) inside an open message")
            // the common unfragmented case hands the frame's own buffer over
            if (f.fin) return Some(Message(f.opcode, f.payload))
            openOpcode = f.opcode
            pending.write(f.payload)
          case OpContinuation =>
            if (openOpcode == -1)
              throw new IOException("continuation frame with no open message")
            if (pending.size.toLong + f.payload.length > maxMessageBytes)
              throw new IOException(s"message exceeds $maxMessageBytes bytes")
            pending.write(f.payload)
            if (f.fin) {
              val m = Message(openOpcode, pending.toByteArray)
              pending.reset()
              openOpcode = -1
              return Some(m)
            }
          case OpPing => reply(OpPong, f.payload)
          case OpPong => ()
          case OpClose =>
            reply(OpClose, f.payload)
            return None
          case other => throw new IOException(s"unexpected opcode $other")
        }
      }
      None // unreachable
    }

    private def reply(opcode: Int, payload: Array[Byte]): Unit = out.synchronized {
      out.write(encode(opcode, payload, maskKey = if (client) Some(freshMask()) else None))
      out.flush()
    }
  }
}

/** S10 + K6: WebSocket server hub — ingress jack (received text messages
  * flow into a streaming source buffer) and broadcast sink (text frames
  * pushed to every connected peer). Binary messages are out of the jack's
  * contract: each is skipped whole, all its fragments included, and the
  * connection stays open. `port = 0` binds an ephemeral port (see
  * [[boundPort]]).
  *
  * Restart contract: [[Ingress]]'s, selected by `spoolDir` and
  * `spoolSegment` (segment mode is fire-and-forget here — WS has no
  * app-level ack). In the spool modes each completed text message must
  * be one JSON OBJECT (the reference jack's decode contract,
  * `jack/websocket/codec.go`) and is re-rendered compact
  * ([[Spool.jsonLine]]); non-JSON or a spool-write failure drops the
  * peer loudly, so it reconnects and resends. A message in flight when
  * the process dies is lost (the peer only learns via the dropped
  * connection), but every message the hub COUNTED RECEIVED survives
  * (WebSocketSpec kills and restarts the query mid-backlog).
  *
  * Security (the reference jack's upgrade-time stack, `jack/websocket/
  * tls.go` + `auth.go`/`auth_policy.go`): `tls` terminates TLS on the
  * listener via the existing [[TlsConfig]] loader; `mtls` additionally
  * requires a CA-valid client certificate at the handshake AND runs the
  * presented principal through the [[MtlsOptions]] policy before the
  * upgrade completes (same fence as the HTTP jack — CA-valid but
  * unlisted is refused). The upgrade request's headers feed the
  * EXISTING auth policy ([[Auth.authorize]]: static headers, then the
  * bearer validator); failures answer `401` instead of `101` when
  * `authRequired`, soft-PASS with the reason counted when not. */
final class WsServerHub(spark: SparkSession, port: Int,
                        spoolDir: Option[String] = None,
                        spoolMaxFilesPerTrigger: Option[Int] = None,
                        staticHeaders: Map[String, String] = Map.empty,
                        validator: Option[String => Either[String, Unit]] = None,
                        authRequired: Boolean = true,
                        tls: Option[TlsConfig] = None,
                        mtls: Option[MtlsOptions] = None,
                        spoolSegment: Option[Spool.SegmentPolicy] = None) {

  // half-configured security must fail fast, not silently downgrade
  // (the HttpServerJack rule)
  require(tls.isDefined || mtls.isEmpty, "mtls requires a TlsConfig (tls = Some(...))")

  private val ingress = new Ingress(spark, spoolDir, spoolMaxFilesPerTrigger, spoolSegment)
  private val server: ServerSocket = tls match {
    case Some(cfg) =>
      val s = Tls.sslContext(cfg).getServerSocketFactory
        .createServerSocket(port).asInstanceOf[javax.net.ssl.SSLServerSocket]
      s.setEnabledProtocols(Tls.protocolRange(cfg))
      if (mtls.isDefined) s.setNeedClientAuth(true)
      s
    case None => new ServerSocket(port)
  }
  // upgraded peers only: the broadcast targets
  private val conns = new ConcurrentHashMap[Socket, OutputStream]()
  private val broadcastCount = new AtomicLong(0)
  private val rejected = new AtomicLong(0)
  private val softFailures = new AtomicLong(0)

  def boundPort: Int = server.getLocalPort

  private val accepts = new AcceptLoop(server, "graft-ws")(serve)
  accepts.start()

  /** Per-connection: HTTP Upgrade handshake, then the message loop
    * ([[WsFrames.MessageReader]]: fragment reassembly, ping/pong, close
    * echo). Each text message lands in the source buffer; binary messages
    * are out of the jack's contract and skipped whole. */
  private def serve(sock: Socket): Unit = {
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new BufferedOutputStream(sock.getOutputStream)
      val (key, headers) = WsFrames.readUpgrade(in)
      // mTLS principal policy BEFORE the header policy: the handshake
      // proved CA validity, but a CA-valid-yet-unlisted principal must
      // not reach the upgrade (the HttpServerJack ordering)
      if (mtls.isDefined) {
        // only POLICY refusals answer 401: SecurityException (principal
        // policy), SSLPeerUnverifiedException (no client cert in the
        // session), IllegalArgumentException (empty chain). Anything
        // else is an operational error and propagates to the
        // connection-level catch instead of masquerading as a refusal.
        val refusal =
          try {
            Tls.authorizeSession(
              sock.asInstanceOf[javax.net.ssl.SSLSocket].getSession, mtls.get)
            None
          } catch {
            case e @ (_: SecurityException
                      | _: javax.net.ssl.SSLPeerUnverifiedException
                      | _: IllegalArgumentException) =>
              Some(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
          }
        // plain if, not refusal.foreach { ... return }: a non-local
        // return from a lambda is a control-flow THROW the outer catch
        // would intercept (the HttpServerJack rule)
        if (refusal.isDefined) {
          rejected.incrementAndGet()
          System.err.println(s"[graft-ws] mTLS principal refused: ${refusal.get}")
          out.write("HTTP/1.1 401 Unauthorized\r\n\r\n".getBytes(UTF_8))
          out.flush()
          return
        }
      }
      Auth.authorize(headers, staticHeaders, validator, authRequired,
        onSoftFail = _ => softFailures.incrementAndGet()) match {
        case Left(_) =>
          rejected.incrementAndGet()
          out.write("HTTP/1.1 401 Unauthorized\r\n\r\n".getBytes(UTF_8))
          out.flush()
          return
        case Right(()) => ()
      }
      WsFrames.writeSwitchingProtocols(out, key)
      conns.put(sock, out)
      // one 64 MiB bound per frame and per message; text is decoded once
      // per reassembled message, as RFC 6455 §5.4 lets a fragmentation
      // boundary split a multi-byte UTF-8 sequence
      val reader = new WsFrames.MessageReader(in, out,
        WsFrames.DefaultMaxFramePayload, client = false)
      var open = true
      while (open && accepts.isRunning) {
        reader.next() match {
          case Some(WsFrames.Message(WsFrames.OpText, bytes)) =>
            val msg = new String(bytes, UTF_8)
            // a normalization or spool failure throws to the
            // connection-level catch, dropping this peer loudly; a
            // pretty-printed message would otherwise split into several
            // rows at the line-oriented file source
            ingress.offer(if (spoolDir.isDefined) Spool.jsonLine(msg) else msg)
          case Some(_) => ()
          case None => open = false
        }
      }
    } catch { case _: Throwable => () } // connection-level failure drops the peer only
    finally conns.remove(sock)
  }

  /** Raw ingress stream (one string per received text message). */
  def raw: Dataset[String] = ingress.raw

  /** Typed ingress: each message JSON-decoded to `schema` fields. */
  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  /** K6 broadcast: push each record to every connected peer as one text
    * frame. Returns the number of frames written (records × live peers). A
    * peer that fails mid-broadcast is dropped, not retried — the
    * reference's broadcast loop likewise treats send failure as
    * disconnect. Driver-side fan-out by design (see class doc): feed from
    * `foreachBatch` with `df.toJSON.toLocalIterator` for streaming use. */
  def broadcast(records: IterableOnce[String]): Long = {
    var sent = 0L
    records.iterator.foreach { r =>
      val frame = WsFrames.encode(WsFrames.OpText, r.getBytes(UTF_8))
      conns.forEach { (sock, out) =>
        try {
          out.synchronized { out.write(frame); out.flush() }
          sent += 1
        } catch {
          case _: Throwable =>
            conns.remove(sock); try sock.close() catch { case _: Throwable => () }
        }
      }
    }
    broadcastCount.addAndGet(sent)
    sent
  }

  def connectionCount: Int = conns.size()
  def receivedCount: Long = ingress.receivedCount
  def broadcastFrames: Long = broadcastCount.get()
  def rejectedCount: Long = rejected.get()
  def softFailureCount: Long = softFailures.get()

  /** Surface the hub's ingress counters on a meter registry (see
    * [[WsClientSource.registerMeters]]). */
  def registerMeters(m: graft.streaming.MeterListener,
                     prefix: String = "ws_hub"): Unit = {
    m.registerGauge(s"$prefix.connections", () => conns.size().toLong)
    m.registerGauge(s"$prefix.received", () => ingress.receivedCount)
    m.registerGauge(s"$prefix.rejected", () => rejected.get())
    m.registerGauge(s"$prefix.broadcast_frames", () => broadcastCount.get())
  }

  def stop(): Unit = {
    accepts.stop() // closes every accepted socket, upgraded or not
    conns.clear()
    ingress.close()
  }
}

/** S8 WebSocket client source: connect to a ws:// endpoint and buffer
  * server-pushed text messages into a streaming source. The underlying
  * client is the JDK's own RFC 6455 implementation, so its handshake and
  * mandatory client-side masking exercise [[WsServerHub]]'s decode path
  * from an independent implementation in the e2e test.
  *
  * Restart contract: [[Ingress]]'s, with the same decode rule as
  * [[WsServerHub]] in the spool modes (memory mode recovers by
  * reconnect-and-resubscribe). A spool failure aborts the websocket
  * (loud — [[closeReason]] carries the error) rather than buffering in
  * memory.
  *
  * `tls` routes a `wss://` dial through the existing [[TlsConfig]]
  * loader (CA trust + optional client certificate for mTLS — the
  * reference client's `websocketclient/tls.go`); `headers` ride the
  * upgrade request (bearer tokens, static auth headers). */
final class WsClientSource(spark: SparkSession, url: String,
                           spoolDir: Option[String] = None,
                           spoolMaxFilesPerTrigger: Option[Int] = None,
                           tls: Option[TlsConfig] = None,
                           headers: Map[String, String] = Map.empty,
                           spoolSegment: Option[Spool.SegmentPolicy] = None) {

  private val ingress = new Ingress(spark, spoolDir, spoolMaxFilesPerTrigger, spoolSegment)
  private val closed = new AtomicReference[String](null)
  private val ws = new AtomicReference[java.net.http.WebSocket](null)
  private val userStopped = new AtomicBoolean(false)
  private val reconnects = new AtomicLong(0)
  // every observed drop bumps this; the supervisor re-dials while its
  // handled count lags. A counter, not the reason STRING: two drops
  // with the same message (the common flap — same IOException text)
  // must still read as two events, or clearing the first would blind
  // the supervisor to the second
  private val drops = new AtomicLong(0)

  private final class Listener extends java.net.http.WebSocket.Listener {
    private val pending = new StringBuilder
    override def onText(w: java.net.http.WebSocket, data: CharSequence,
                        last: Boolean): CompletionStage[_] = {
      pending.append(data)
      if (last) {
        val msg = pending.result()
        // a spool (or normalization — see WsServerHub's note) failure
        // must be loud, not a silent in-memory fallback — abort the
        // socket so the peer sees the drop and [[closeReason]] carries
        // the cause
        try ingress.offer(if (spoolDir.isDefined) Spool.jsonLine(msg) else msg)
        catch {
          case e: Exception =>
            closed.set(s"spool failure: ${e.getMessage}")
            // abort() suppresses further listener invocations, so
            // the drop must be signalled here
            drops.incrementAndGet()
            try w.abort() catch { case _: Throwable => () }
            return null
        }
        pending.clear()
      }
      w.request(1)
      null
    }
    override def onClose(w: java.net.http.WebSocket, statusCode: Int,
                         reason: String): CompletionStage[_] = {
      closed.set(s"$statusCode $reason")
      drops.incrementAndGet()
      null
    }
    // an abrupt server death surfaces as onError (IOException), not
    // onClose — without this override the drop would be invisible to
    // [[superviseReconnect]]'s watch
    override def onError(w: java.net.http.WebSocket, error: Throwable): Unit = {
      closed.set(s"error: ${Option(error.getMessage).getOrElse(error.getClass.getName)}")
      drops.incrementAndGet()
    }
  }

  /** Connect (blocking, with timeout). Clears [[closeReason]] up front:
    * a successful (re-)dial must not leave the LAST drop's reason
    * reported against a healthy connection — a stale failure signal for
    * anything monitoring it. Cleared before the dial (not after) so a
    * new socket that drops immediately still lands its reason. A dial
    * that fails outright throws AND records its own reason: the up-front
    * clear must not leave a false-healthy None behind for the rest of an
    * outage while the supervisor flaps through failed re-dials (the
    * inverse of the stale-reason bug the clear exists for). CAS, not
    * set: if the embryonic socket's listener already landed a reason,
    * that one is more specific — keep it. */
  def connect(timeoutMillis: Long = 10000): Unit = {
    closed.set(null)
    val clientBuilder = java.net.http.HttpClient.newBuilder()
    tls.foreach(cfg => clientBuilder.sslContext(Tls.sslContext(cfg)))
    val wsBuilder = clientBuilder.build().newWebSocketBuilder()
    headers.foreach { case (k, v) => wsBuilder.header(k, v) }
    val built =
      try wsBuilder
        .buildAsync(URI.create(url), new Listener)
        .orTimeout(timeoutMillis, TimeUnit.MILLISECONDS)
        .join()
      catch {
        case e: Throwable =>
          closed.compareAndSet(null,
            s"dial failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
          throw e
      }
    ws.set(built)
  }

  def raw: Dataset[String] = ingress.raw
  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  /** Send one text message (the client half is bidirectional in the
    * reference adapter too). */
  def send(text: String): Unit = {
    val w = ws.get()
    require(w != null, "not connected")
    w.sendText(text, true).join()
  }

  def receivedCount: Long = ingress.receivedCount
  def closeReason: Option[String] = Option(closed.get())
  def reconnectCount: Long = reconnects.get()
  def dropCount: Long = drops.get()

  /** Surface this connection's churn on a meter registry — the reference
    * sensor's component events to meters
    * (`/root/reference/pkg/internal/sensor/metrics.go:12-35`). Live
    * gauges: an operator watching the meter sees reconnects/drops the
    * moment they happen, not at the next frame. */
  def registerMeters(m: graft.streaming.MeterListener,
                     prefix: String = "ws_client"): Unit = {
    m.registerGauge(s"$prefix.reconnects", () => reconnects.get())
    m.registerGauge(s"$prefix.drops", () => drops.get())
    m.registerGauge(s"$prefix.received", () => ingress.receivedCount)
  }

  /** Circuit-breaker-gated reconnect supervision — the reference
    * generator restarts a failed connector on its control-loop tick
    * unless the breaker is open
    * (`/root/reference/pkg/internal/generator/internal.go:89-117`); for
    * a PUSH transport the analogue is re-dialing the subscription when
    * the socket drops. A daemon thread watches [[closeReason]] every
    * `tickMs` and re-dials behind `breaker` with exponential backoff,
    * until [[stop]] or the cumulative `maxReconnects` budget is spent
    * (the QuerySupervisor budget shape — a flapping endpoint must not
    * be hidden by infinite silent redials).
    *
    * Honesty note (push transport): frames the server pushes while the
    * client is DOWN are lost — RFC 6455 has no replay protocol; the
    * contract is that every frame the client RECEIVED is spooled
    * exactly once and the subscription resumes after the gap. Gap-free
    * ingest belongs to the pull edges (graft-http/graft-jdbc cursors,
    * Kafka offsets), where the mark, not the connection, carries
    * progress. */
  def superviseReconnect(breaker: graft.reliability.CircuitBreaker,
                         maxReconnects: Int = 5, tickMs: Long = 50,
                         backoffMs: Long = 100,
                         connectTimeoutMillis: Long = 10000,
                         sleep: Long => Unit = Thread.sleep): Thread = {
    val t = new Thread(() => {
      var attempts = 0
      // 0, not drops.get(): a drop that happened BEFORE supervision
      // started (connect, server died, then supervise) must trigger an
      // immediate re-dial, not be grandfathered in as handled
      var handled = 0L
      while (!userStopped.get() && attempts < maxReconnects) {
        val d = drops.get()
        if (d == handled || !breaker.allow) sleep(tickMs)
        else {
          attempts += 1
          try {
            connect(connectTimeoutMillis)
            // handled = the count OBSERVED BEFORE the dial: a drop
            // landing during the dial (the fresh listener shares the
            // counter) keeps d < drops and the next tick re-dials —
            // the counter form of the reason-string CAS, immune to two
            // flaps carrying the identical message
            handled = d
            reconnects.incrementAndGet()
            // a user stop racing the dial: stop()'s getAndSet may have
            // missed the socket this dial just installed — re-run the
            // close path so nothing live leaks past stop()
            if (userStopped.get()) {
              val w = ws.getAndSet(null)
              if (w != null) { try w.abort() catch { case _: Throwable => () } }
            }
          } catch {
            case _: Exception =>
              breaker.recordErrors(1)
              sleep(math.min(backoffMs * (1L << math.min(attempts, 10)), 5000L))
          }
        }
      }
    }, "graft-wsc-reconnect")
    t.setDaemon(true)
    t.start()
    t
  }

  def stop(): Unit = {
    userStopped.set(true) // before the close: the supervisor must not
                          // treat a user stop as a drop and re-dial
    val w = ws.getAndSet(null)
    if (w != null) {
      try w.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "bye")
        .orTimeout(2, TimeUnit.SECONDS).join()
      catch { case _: Throwable => () }
    }
    ingress.close()
  }
}
