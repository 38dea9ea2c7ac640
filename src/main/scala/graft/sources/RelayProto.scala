package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Wire-level parity with the reference relay's protobuf envelope: a
  * hand-rolled proto3 codec for the `WrappedPayload` message subset the
  * reference's wrap/unwrap actually populates
  * (`/root/reference/proto/electrician_relay.proto:16-92`;
  * populate sites `forwardrelay/payload.go:50-109`). The proto3 wire
  * format — varints, `(field << 3) | wireType` tags, length-delimited
  * submessages, zero-defaults omitted, unknown fields skipped — is public
  * and stable, so a 200-line codec gives byte-compatible envelopes without
  * a protobuf-java dependency (absent from this classpath).
  *
  * Field numbers mirror the .proto exactly; messages NOT populated by the
  * reference writer (routing/qos/auth options etc.) are not modeled but
  * are skipped cleanly on decode, so envelopes from a full reference
  * encoder still parse here (forward compatibility is the point of the
  * wire format).
  */
object RelayProto {

  // --- message model (the populated subset) ---------------------------

  /** google.protobuf.Timestamp: seconds=1, nanos=2. */
  final case class PTimestamp(seconds: Long, nanos: Int)

  /** VersionInfo: major=1, minor=2 (proto:101-104). */
  final case class VersionInfo(major: Int, minor: Int)

  /** PerformanceOptions: use_compression=1, compression_algorithm=2,
    * compression_level=3 (proto:106-110). Algorithm ids are the
    * CompressionAlgorithm enum = [[graft.functions.Codecs]] ids. */
  final case class PerformanceOptions(useCompression: Boolean,
                                      compressionAlgorithm: Int,
                                      compressionLevel: Int)

  /** SecurityOptions: enabled=1, suite=2 (proto:88-91); suite 1 = AES-GCM. */
  final case class SecurityOptions(enabled: Boolean, suite: Int)
  val SuiteNone = 0
  val SuiteAesGcm = 1

  /** ErrorInfo: code=1, message=2, details=3 repeated (proto:61-65). */
  final case class ErrorInfo(code: Int, message: String, details: Seq[String])

  /** MessageMetadata subset: headers=1 map, content_type=2, version=3,
    * performance=4, trace_id=5, priority=6, security=7 (proto:67-86). */
  final case class MessageMetadata(headers: Map[String, String] = Map.empty,
                                   contentType: String = "",
                                   version: Option[VersionInfo] = None,
                                   performance: Option[PerformanceOptions] = None,
                                   traceId: String = "",
                                   priority: Int = 0,
                                   security: Option[SecurityOptions] = None)

  /** WrappedPayload subset: id=1, timestamp=2, payload=3, metadata=4,
    * error_info=5, seq=6, payload_encoding=7, payload_type=8
    * (proto:16-45). */
  final case class WrappedPayload(id: String = "",
                                  timestamp: Option[PTimestamp] = None,
                                  payload: Array[Byte] = Array.emptyByteArray,
                                  metadata: Option[MessageMetadata] = None,
                                  errorInfo: Option[ErrorInfo] = None,
                                  seq: Long = 0L,
                                  payloadEncoding: Int = 0,
                                  payloadType: String = "")

  /** StreamAcknowledgment subset: success=1, message=2, stream_id=4,
    * id=5, seq=6, code=7, retryable=8, last_seq=9, ok_count=10,
    * err_count=11 (proto:585-597) — the receiver→writer half of the
    * `StreamReceive` contract. */
  final case class StreamAck(success: Boolean,
                             message: String = "",
                             streamId: String = "",
                             id: String = "",
                             seq: Long = 0L,
                             code: Int = 0,
                             retryable: Boolean = false,
                             lastSeq: Long = 0L,
                             okCount: Long = 0L,
                             errCount: Long = 0L)

  /** RelayEnvelope oneof (proto:572-578): the arms this engine speaks.
    * `StreamOpen` (arm 1) is session negotiation the socket edge does not
    * need — encountering it on decode is an explicit error, not a silent
    * skip (skipping a oneof arm would mis-read the stream's intent). */
  sealed trait Envelope extends Serializable
  final case class EnvelopePayload(payload: WrappedPayload) extends Envelope
  final case class EnvelopeClose(reason: String) extends Envelope

  /** AES-GCM key length rule shared by every relay writer and receiver: a
    * bad key fails at construction, not as a per-frame cipher error. */
  def requireKey(key: Option[Array[Byte]]): Unit =
    key.foreach(k => require(Set(16, 24, 32).contains(k.length),
      s"AES key must be 16/24/32 bytes, got ${k.length}"))

  /** The ack modes of the `StreamReceive` contract; writer and receiver
    * must agree the way the AES key must. */
  def requireAckMode(ackMode: String): Unit =
    require(Set("none", "per-frame", "batch").contains(ackMode),
      s"unknown ackMode '$ackMode' — none | per-frame | batch")

  /** Per-connection writer state for one RelayEnvelope stream — the
    * writer twin of [[EnvelopeSession]]: every payload goes out as an
    * `EnvelopePayload`, the stream ends with `EnvelopeClose`, and the
    * acks are checked per `ackMode`:
    *  - "none": fire-and-forget (per-batch at-least-once via task retry);
    *  - "per-frame": one ack read after every payload — `success` and the
    *    seq echo are REQUIRED or the send fails;
    *  - "batch": one ack after the close whose ok_count must equal the
    *    payloads sent (the reference's after-batch commit shape).
    * `send` writes one envelope in the transport's framing, `readAck`
    * blocks for the next acknowledgment (bounded by the transport's own
    * timeout, so a mode mismatch fails instead of hanging), and
    * `halfClose` runs after the close envelope, before the batch ack
    * (gRPC ends its request stream there). */
  final class EnvelopeSender(ackMode: String,
                             send: Envelope => Unit,
                             readAck: () => StreamAck,
                             halfClose: () => Unit = () => ()) {
    requireAckMode(ackMode)

    /** Send every payload, then the close. */
    def sendAll(payloads: Iterator[WrappedPayload]): Unit = {
      var sent = 0L
      payloads.foreach { wp =>
        send(EnvelopePayload(wp))
        if (ackMode == "per-frame") {
          val ack = readAck()
          require(ack.success && ack.seq == wp.seq,
            s"message ${wp.seq} rejected by receiver (ack seq=${ack.seq}): ${ack.message}")
        }
        sent += 1
      }
      send(EnvelopeClose("end-of-partition"))
      halfClose()
      if (ackMode == "batch") {
        val ack = readAck()
        require(ack.success && ack.okCount == sent,
          s"batch rejected: ok=${ack.okCount}/$sent err=${ack.errCount} ${ack.message}")
      }
    }
  }

  /** Per-connection receiver state for one RelayEnvelope stream — THE ack
    * semantics (per-frame success/failure acks with seq echo, the batch
    * summary on close, the failure-ack-before-drop rule) shared by every
    * envelope transport (raw socket frames, WebSocket binary messages).
    * `feed` ingests one unwrapped NDJSON body; `sendAck` writes one
    * acknowledgment in the transport's own framing and must swallow its
    * own IO failures for SUCCESS acks (records are already ingested — a
    * peer that left without reading acks is not an error) while the
    * failure-path ack is best-effort by construction (the unwrap error is
    * rethrown regardless). */
  final class EnvelopeSession(key: Option[Array[Byte]], maxInflatedBytes: Int,
                              ackMode: String,
                              feed: Array[Byte] => Unit,
                              sendAck: StreamAck => Unit) {
    requireAckMode(ackMode)
    private var okCount = 0L
    private var lastSeq = 0L

    /** Handle one envelope; false = the peer closed the stream. Unwrap
      * failures rethrow (after the per-frame failure ack) so the transport
      * drops and counts the connection its own way. */
    def onEnvelope(bytes: Array[Byte]): Boolean =
      onDecoded(decodeEnvelope(bytes))

    /** [[onEnvelope]] for an arm the transport already decoded (the gRPC
      * unary rpc carries a bare WrappedPayload) — same brain, minus a
      * redundant encode/decode round-trip of the payload. */
    def onDecoded(env: Envelope): Boolean =
      env match {
        case EnvelopePayload(wp) =>
          val body =
            try unwrap(wp, key, maxInflatedBytes)
            catch {
              case e: Throwable =>
                // a failure ack BEFORE the drop: the writer learns which
                // frame died instead of just losing the pipe
                if (ackMode == "per-frame")
                  try sendAck(StreamAck(success = false,
                    message = String.valueOf(e.getMessage), id = wp.id,
                    seq = wp.seq, retryable = true))
                  catch { case _: Throwable => () }
                throw e
            }
          feed(body)
          okCount += 1
          lastSeq = wp.seq
          if (ackMode == "per-frame")
            sendAck(StreamAck(success = true, id = wp.id, seq = wp.seq,
              lastSeq = wp.seq, okCount = 1))
          true
        case EnvelopeClose(_) =>
          if (ackMode == "batch")
            sendAck(StreamAck(success = true, lastSeq = lastSeq, okCount = okCount))
          false
      }
  }

  // --- wire primitives -------------------------------------------------

  private final class Writer {
    val out = new ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def int(field: Int, v: Long): Unit = if (v != 0) { tag(field, 0); varint(v) }
    // int32 sign-extends to a 10-byte varint on the wire, per spec
    def int32(field: Int, v: Int): Unit = int(field, v.toLong)
    def bool(field: Int, v: Boolean): Unit = if (v) { tag(field, 0); varint(1) }
    def bytes(field: Int, v: Array[Byte]): Unit =
      if (v.nonEmpty) { tag(field, 2); varint(v.length.toLong); out.write(v) }
    def string(field: Int, v: String): Unit = if (v.nonEmpty) bytes(field, v.getBytes(UTF_8))
    /** REPEATED string element: unlike a singular proto3 scalar, every
      * occurrence is emitted — an empty element is a real list entry,
      * not a default to omit (caught by the codec fuzz property). */
    def stringElement(field: Int, v: String): Unit = {
      val b = v.getBytes(UTF_8)
      tag(field, 2); varint(b.length.toLong); out.write(b)
    }
    def message(field: Int, body: Array[Byte]): Unit =
      // an empty submessage is still PRESENT (unlike a zero scalar)
      { tag(field, 2); varint(body.length.toLong); out.write(body) }
    def result: Array[Byte] = out.toByteArray
  }

  /** Bounded reader with unknown-field skipping (wire types 0/1/2/5). */
  private final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (shift < 64) {
        require(pos < end, "truncated varint")
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      throw new IllegalArgumentException("varint longer than 10 bytes")
    }
    def readTag(): (Int, Int) = {
      val t = varint()
      val field = (t >>> 3).toInt; val wire = (t & 7).toInt
      require(field > 0, s"invalid field number $field")
      (field, wire)
    }
    def lenDelimited(): (Int, Int) = { // (start, length)
      val n = varint()
      require(n >= 0 && n <= (end - pos), s"length-delimited field overruns buffer: $n")
      val s = pos; pos += n.toInt; (s, n.toInt)
    }
    def bytesField(): Array[Byte] = { val (s, n) = lenDelimited(); java.util.Arrays.copyOfRange(buf, s, s + n) }
    def stringField(): String = { val (s, n) = lenDelimited(); new String(buf, s, n, UTF_8) }
    def sub(): Reader = { val (s, n) = lenDelimited(); new Reader(buf, s, s + n) }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => require(end - pos >= 8, "truncated fixed64"); pos += 8
      case 2 => lenDelimited(); ()
      case 5 => require(end - pos >= 4, "truncated fixed32"); pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  // --- encoders ---------------------------------------------------------

  private def encodeTimestamp(t: PTimestamp): Array[Byte] = {
    val w = new Writer; w.int(1, t.seconds); w.int32(2, t.nanos); w.result
  }
  private def encodeVersion(v: VersionInfo): Array[Byte] = {
    val w = new Writer; w.int32(1, v.major); w.int32(2, v.minor); w.result
  }
  private def encodePerformance(p: PerformanceOptions): Array[Byte] = {
    val w = new Writer
    w.bool(1, p.useCompression); w.int32(2, p.compressionAlgorithm)
    w.int32(3, p.compressionLevel); w.result
  }
  private def encodeSecurity(s: SecurityOptions): Array[Byte] = {
    val w = new Writer; w.bool(1, s.enabled); w.int32(2, s.suite); w.result
  }
  private def encodeError(e: ErrorInfo): Array[Byte] = {
    val w = new Writer
    w.int32(1, e.code); w.string(2, e.message)
    e.details.foreach(w.stringElement(3, _))
    w.result
  }
  private def encodeMetadata(m: MessageMetadata): Array[Byte] = {
    val w = new Writer
    // map<string,string> = repeated message{key=1, value=2}, sorted for
    // deterministic bytes (proto maps are order-free on the wire)
    m.headers.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val kw = new Writer; kw.string(1, k); kw.string(2, v)
      w.message(1, kw.result)
    }
    w.string(2, m.contentType)
    m.version.foreach(v => w.message(3, encodeVersion(v)))
    m.performance.foreach(p => w.message(4, encodePerformance(p)))
    w.string(5, m.traceId)
    w.int32(6, m.priority)
    m.security.foreach(s => w.message(7, encodeSecurity(s)))
    w.result
  }

  def encode(p: WrappedPayload): Array[Byte] = {
    val w = new Writer
    w.string(1, p.id)
    p.timestamp.foreach(t => w.message(2, encodeTimestamp(t)))
    w.bytes(3, p.payload)
    p.metadata.foreach(m => w.message(4, encodeMetadata(m)))
    p.errorInfo.foreach(e => w.message(5, encodeError(e)))
    w.int(6, p.seq)
    w.int32(7, p.payloadEncoding)
    w.string(8, p.payloadType)
    w.result
  }

  def encodeAck(a: StreamAck): Array[Byte] = {
    val w = new Writer
    w.bool(1, a.success)
    w.string(2, a.message)
    w.string(4, a.streamId)
    w.string(5, a.id)
    w.int(6, a.seq)
    w.int32(7, a.code)
    w.bool(8, a.retryable)
    w.int(9, a.lastSeq)
    w.int(10, a.okCount)
    w.int(11, a.errCount)
    w.result
  }

  def encodeEnvelope(e: Envelope): Array[Byte] = {
    val w = new Writer
    e match {
      case EnvelopePayload(p) => w.message(2, encode(p))
      case EnvelopeClose(reason) =>
        val cw = new Writer; cw.string(1, reason)
        w.message(3, cw.result)
    }
    w.result
  }

  // --- decoders ---------------------------------------------------------

  private def decodeTimestamp(r: Reader): PTimestamp = {
    var sec = 0L; var nanos = 0
    while (r.hasMore) r.readTag() match {
      case (1, 0) => sec = r.varint()
      case (2, 0) => nanos = r.varint().toInt
      case (_, w) => r.skip(w)
    }
    PTimestamp(sec, nanos)
  }
  private def decodeVersion(r: Reader): VersionInfo = {
    var ma = 0; var mi = 0
    while (r.hasMore) r.readTag() match {
      case (1, 0) => ma = r.varint().toInt
      case (2, 0) => mi = r.varint().toInt
      case (_, w) => r.skip(w)
    }
    VersionInfo(ma, mi)
  }
  private def decodePerformance(r: Reader): PerformanceOptions = {
    var uc = false; var alg = 0; var lvl = 0
    while (r.hasMore) r.readTag() match {
      case (1, 0) => uc = r.varint() != 0
      case (2, 0) => alg = r.varint().toInt
      case (3, 0) => lvl = r.varint().toInt
      case (_, w) => r.skip(w)
    }
    PerformanceOptions(uc, alg, lvl)
  }
  private def decodeSecurity(r: Reader): SecurityOptions = {
    var en = false; var suite = 0
    while (r.hasMore) r.readTag() match {
      case (1, 0) => en = r.varint() != 0
      case (2, 0) => suite = r.varint().toInt
      case (_, w) => r.skip(w)
    }
    SecurityOptions(en, suite)
  }
  private def decodeError(r: Reader): ErrorInfo = {
    var code = 0; var msg = ""; val det = Seq.newBuilder[String]
    while (r.hasMore) r.readTag() match {
      case (1, 0) => code = r.varint().toInt
      case (2, 2) => msg = r.stringField()
      case (3, 2) => det += r.stringField()
      case (_, w) => r.skip(w)
    }
    ErrorInfo(code, msg, det.result())
  }
  private def decodeMetadata(r: Reader): MessageMetadata = {
    var m = MessageMetadata()
    val headers = Map.newBuilder[String, String]
    while (r.hasMore) r.readTag() match {
      case (1, 2) =>
        val hr = r.sub(); var k = ""; var v = ""
        while (hr.hasMore) hr.readTag() match {
          case (1, 2) => k = hr.stringField()
          case (2, 2) => v = hr.stringField()
          case (_, w) => hr.skip(w)
        }
        headers += k -> v
      case (2, 2) => m = m.copy(contentType = r.stringField())
      case (3, 2) => m = m.copy(version = Some(decodeVersion(r.sub())))
      case (4, 2) => m = m.copy(performance = Some(decodePerformance(r.sub())))
      case (5, 2) => m = m.copy(traceId = r.stringField())
      case (6, 0) => m = m.copy(priority = r.varint().toInt)
      case (7, 2) => m = m.copy(security = Some(decodeSecurity(r.sub())))
      case (_, w) => r.skip(w)
    }
    m.copy(headers = headers.result())
  }

  def decode(bytes: Array[Byte]): WrappedPayload = {
    val r = new Reader(bytes)
    var p = WrappedPayload()
    while (r.hasMore) r.readTag() match {
      case (1, 2) => p = p.copy(id = r.stringField())
      case (2, 2) => p = p.copy(timestamp = Some(decodeTimestamp(r.sub())))
      case (3, 2) => p = p.copy(payload = r.bytesField())
      case (4, 2) => p = p.copy(metadata = Some(decodeMetadata(r.sub())))
      case (5, 2) => p = p.copy(errorInfo = Some(decodeError(r.sub())))
      case (6, 0) => p = p.copy(seq = r.varint())
      case (7, 0) => p = p.copy(payloadEncoding = r.varint().toInt)
      case (8, 2) => p = p.copy(payloadType = r.stringField())
      case (_, w) => r.skip(w)
    }
    p
  }

  def decodeAck(bytes: Array[Byte]): StreamAck = {
    val r = new Reader(bytes)
    var a = StreamAck(success = false)
    while (r.hasMore) r.readTag() match {
      case (1, 0) => a = a.copy(success = r.varint() != 0)
      case (2, 2) => a = a.copy(message = r.stringField())
      case (4, 2) => a = a.copy(streamId = r.stringField())
      case (5, 2) => a = a.copy(id = r.stringField())
      case (6, 0) => a = a.copy(seq = r.varint())
      case (7, 0) => a = a.copy(code = r.varint().toInt)
      case (8, 0) => a = a.copy(retryable = r.varint() != 0)
      case (9, 0) => a = a.copy(lastSeq = r.varint())
      case (10, 0) => a = a.copy(okCount = r.varint())
      case (11, 0) => a = a.copy(errCount = r.varint())
      case (_, w) => r.skip(w)
    }
    a
  }

  def decodeEnvelope(bytes: Array[Byte]): Envelope = {
    val r = new Reader(bytes)
    var out: Option[Envelope] = None
    while (r.hasMore) r.readTag() match {
      case (1, 2) => throw new IllegalArgumentException(
        "RelayEnvelope StreamOpen arm is not spoken on the socket edge")
      case (2, 2) => out = Some(EnvelopePayload(decode(r.bytesField())))
      case (3, 2) =>
        val cr = r.sub(); var reason = ""
        while (cr.hasMore) cr.readTag() match {
          case (1, 2) => reason = cr.stringField()
          case (_, w) => cr.skip(w)
        }
        out = Some(EnvelopeClose(reason))
      // STRICT, deliberately: RelayEnvelope is a pure oneof, so any other
      // field means the frame is NOT an envelope (e.g. a bare
      // WrappedPayload, whose metadata=4/seq=6 land here) — skipping
      // would let such frames half-parse into garbage arms silently
      case (f, _) => throw new IllegalArgumentException(
        s"unexpected RelayEnvelope field $f — frame is not an envelope")
    }
    out.getOrElse(throw new IllegalArgumentException("empty RelayEnvelope — no oneof arm set"))
  }

  // --- the sealed-payload contract over the envelope ---------------------

  /** Wrap one NDJSON batch as the reference writer does
    * (`forwardrelay/payload.go:50-109`): compress per `algo`, AES-GCM per
    * `key`, with the sealing DECLARED in metadata (performance = algorithm,
    * security = AES-GCM suite) rather than in the outer frame flags. */
  def wrap(body: Array[Byte], id: String, seq: Long, tsEpochMs: Long,
           algo: Int, key: Option[Array[Byte]]): WrappedPayload = {
    val c = graft.functions.Codecs
    val compressed = c.compress(algo, body)
    val sealedBytes = key.fold(compressed)(k =>
      graft.functions.Crypto.aesGcmEncryptBytes(compressed, k))
    WrappedPayload(
      id = id,
      timestamp = Some(PTimestamp(tsEpochMs / 1000, ((tsEpochMs % 1000) * 1000000).toInt)),
      payload = sealedBytes,
      metadata = Some(MessageMetadata(
        contentType = "application/x-ndjson",
        version = Some(VersionInfo(1, 0)),
        performance = Some(PerformanceOptions(
          useCompression = algo != c.CompressNone,
          compressionAlgorithm = algo,
          compressionLevel = 0)),
        security = Some(SecurityOptions(enabled = key.isDefined,
          suite = if (key.isDefined) SuiteAesGcm else SuiteNone)))),
      seq = seq)
  }

  /** Unwrap per the envelope's declared metadata, enforcing the same
    * rules as [[SealedRelay.unwrap]]: a keyed receiver refuses unsealed
    * envelopes (downgrade protection), an unkeyed receiver refuses sealed
    * ones, an unknown suite is rejected, and decompression is bounded. */
  def unwrap(p: WrappedPayload, key: Option[Array[Byte]],
             maxInflatedBytes: Int = SealedRelay.DefaultMaxInflatedBytes): Array[Byte] = {
    val c = graft.functions.Codecs
    val sec = p.metadata.flatMap(_.security).getOrElse(SecurityOptions(enabled = false, SuiteNone))
    val perf = p.metadata.flatMap(_.performance)
      .getOrElse(PerformanceOptions(useCompression = false, c.CompressNone, 0))
    val decrypted =
      if (sec.enabled) {
        require(sec.suite == SuiteAesGcm, s"unknown encryption suite ${sec.suite}")
        val k = key.getOrElse(throw new SecurityException(
          "envelope is AES-GCM sealed but the receiver holds no key"))
        graft.functions.Crypto.aesGcmDecryptBytes(p.payload, k)
      } else {
        if (key.isDefined) throw new SecurityException(
          "unwrap: encryption required — receiver holds a key but the envelope is not sealed")
        p.payload
      }
    val algo = if (perf.useCompression) perf.compressionAlgorithm else c.CompressNone
    c.decompressBounded(algo, decrypted, maxInflatedBytes)
  }
}
