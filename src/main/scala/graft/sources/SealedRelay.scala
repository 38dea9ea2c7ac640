package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sealed relay pair — the reference forward/receiving relay's
  * wrap/unwrap payload contract (`/root/reference/pkg/internal/
  * forwardrelay/payload.go:50-181`: serialize → optional compress →
  * optional AES-GCM, flags carried in message metadata; unwrap reverses
  * it, `receivingrelay/payload.go:15-102`) re-expressed over the framed
  * socket edge (the gRPC transport is [[GrpcRelay]]):
  *
  *  - Serialization is NDJSON (the engine's record codec) instead of gob.
  *  - Compression speaks the reference's FULL algorithm menu
  *    (deflate-as-gzip/snappy/zstd/lz4/brotli,
  *    [[graft.functions.Codecs.compress]], ids = the proto enum — brotli
  *    is the from-scratch RFC 7932 pair); the
  *    frame flags carry the algorithm id. Encryption is
  *    AES-GCM in Spark's native wire format
  *    ([[graft.functions.Crypto.aesGcmEncryptBytes]], 12-byte IV prefix),
  *    so sealed payloads interoperate with `aes_decrypt` everywhere else.
  *  - Frames carry CHUNKED batches of records (the reference wraps per
  *    message; megabyte-granularity sealing is the same trade the K2 CSE
  *    writer makes — amortize the cipher/deflate setup across records —
  *    while bounding writer memory; a connection carries any number of
  *    frames).
  *  - The reference's `validateEncryptionRequirement` (key XOR no-AES is
  *    an error in both directions, `payload.go:36-48`) is enforced at
  *    builder time on both ends.
  *
  * Frame layout: `"GRS1" | flags:1B (bit0 gzip, bit1 aes) | len:4B |
  * payload` — the self-describing metadata subset unwrap actually needs.
  */
object SealedRelay {

  private val Magic = "GRS1".getBytes(UTF_8)
  val FlagGzip = 0x1
  val FlagAes = 0x2

  /** Frame payload is a protobuf [[RelayProto.WrappedPayload]] envelope —
    * the sealing (compression algorithm, AES suite) is declared INSIDE the
    * envelope's MessageMetadata, the reference's actual wire contract,
    * instead of in the frame flag bits. Mutually exclusive with
    * [[FlagGzip]]/[[FlagAes]]: one self-description, not two. */
  val FlagProto = 0x4

  /** Frame payload is an encoded `StreamAcknowledgment` flowing
    * receiver→writer ([[RelayProto.StreamAck]]) — the return half of the
    * reference's `StreamReceive` bidirectional contract. */
  val FlagAck = 0x8

  /** Flags layout: bit0 = compressed (kept as the legacy gzip bit so GRS1
    * frames from older writers still parse), bit1 = AES-GCM, bits 4-6 =
    * compression algorithm id ([[graft.functions.Codecs.CompressDeflate]]
    * etc. — the reference's `CompressionAlgorithm` proto enum values, so
    * frame flags and protobuf metadata agree). Algorithm bits of 0 on a
    * compressed frame mean legacy gzip. */
  def flagsFor(algo: Int, encrypted: Boolean): Int = {
    require(algo >= 0 && algo <= 7, s"algorithm id out of flag range: $algo")
    (if (algo != graft.functions.Codecs.CompressNone) FlagGzip else 0) |
      (if (encrypted) FlagAes else 0) | (algo << 4)
  }

  /** Decode the compression algorithm from frame flags. */
  def algoOf(flags: Int): Int = {
    val c = graft.functions.Codecs
    if ((flags & FlagGzip) == 0) c.CompressNone
    else {
      val a = (flags >> 4) & 7
      if (a == c.CompressNone) c.CompressDeflate // legacy gzip-only writers
      else a
    }
  }

  /** The reference's encryption-requirement rule: enabling AES without a
    * key, or supplying a key without enabling AES, is a config error. */
  def validate(encrypt: Boolean, key: Option[Array[Byte]]): Unit = {
    require(!encrypt || key.isDefined, "encryption enabled but encryption key is empty")
    require(encrypt || key.isEmpty, "encryption key provided but AES-GCM is not enabled")
    RelayProto.requireKey(key)
  }

  /** Seal one payload: compress then encrypt, as configured. The boolean
    * form is the legacy gzip-only surface; the Int form takes any
    * [[graft.functions.Codecs]] algorithm id (the reference's payload
    * compression menu, `forwardrelay/payload.go:111-141`). */
  def seal(body: Array[Byte], gzipped: Boolean, key: Option[Array[Byte]]): (Int, Array[Byte]) =
    seal(body,
      if (gzipped) graft.functions.Codecs.CompressDeflate
      else graft.functions.Codecs.CompressNone, key)

  def seal(body: Array[Byte], algo: Int, key: Option[Array[Byte]]): (Int, Array[Byte]) = {
    val compressed = graft.functions.Codecs.compress(algo, body)
    val sealedBytes = key.fold(compressed)(k =>
      graft.functions.Crypto.aesGcmEncryptBytes(compressed, k))
    (flagsFor(algo, key.isDefined), sealedBytes)
  }

  /** Unwrap one payload per its frame flags. A frame sealed with a key
    * the receiver doesn't hold fails the GCM tag check and throws. A
    * receiver that HOLDS a key refuses unsealed frames outright — the
    * reference's "unwrap: encryption required" rule
    * (`receivingrelay/payload.go:30-33`): the key is the only
    * authentication on this edge, so accepting an attacker-controlled
    * flags=0 frame would be a downgrade-to-plaintext injection hole. */
  def unwrap(flags: Int, payload: Array[Byte], key: Option[Array[Byte]],
             maxInflatedBytes: Int = DefaultMaxInflatedBytes): Array[Byte] = {
    val decrypted =
      if ((flags & FlagAes) != 0) {
        val k = key.getOrElse(throw new SecurityException(
          "frame is AES-GCM sealed but the jack holds no key"))
        graft.functions.Crypto.aesGcmDecryptBytes(payload, k)
      } else {
        if (key.isDefined) throw new SecurityException(
          "unwrap: encryption required — receiver holds a key but the frame is not AES-GCM sealed")
        payload
      }
    graft.functions.Codecs.decompressBounded(algoOf(flags), decrypted, maxInflatedBytes)
  }

  /** Read one [[FlagAck]] frame and decode its StreamAcknowledgment. */
  private def readAck(in: DataInputStream): RelayProto.StreamAck = {
    val (flags, payload) = readFrame(in).getOrElse(
      throw new java.io.IOException("connection closed while awaiting ack"))
    require(flags == FlagAck, s"expected an ack frame, got flags $flags")
    RelayProto.decodeAck(payload)
  }

  /** K5 forward relay, protobuf-envelope variant — the reference's
    * `StreamReceive(stream RelayEnvelope) returns (stream
    * StreamAcknowledgment)` contract (`proto/electrician_relay.proto:
    * 572-597`) over the socket edge: each chunk rides as an
    * `EnvelopePayload(WrappedPayload)` frame (seq-numbered per
    * connection, sealing declared in metadata), and the stream ends with
    * an `EnvelopeClose`. Ack modes and their checks are
    * [[RelayProto.EnvelopeSender]]'s; a mode mismatch (writer expects
    * acks, receiver sends none) fails the task on `ackTimeoutMs` instead
    * of hanging. Same chunking, distribution and validation rules as
    * [[writeSocketSealedWith]]. */
  def writeSocketProto(df: DataFrame, host: String, port: Int,
                       compression: Int,
                       key: Option[Array[Byte]] = None,
                       maxChunkBytes: Int = 4 << 20,
                       ackMode: String = "none",
                       ackTimeoutMs: Int = 30000): Unit = {
    RelayWriter.requireSeal(compression, key, maxChunkBytes)
    RelayProto.requireAckMode(ackMode)
    RelayWriter.foreachConnection(df, RelayWriter.socket(host, port)) { (sock, it) =>
      // fire-and-forget never reads, so it never times out
      if (ackMode != "none" && ackTimeoutMs > 0) sock.setSoTimeout(ackTimeoutMs)
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      // lazy: a BufferedInputStream may read ahead, so it must be created
      // exactly once per connection or later acks lose buffered bytes
      lazy val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      new RelayProto.EnvelopeSender(ackMode,
        send = e => writeFrame(out, FlagProto, RelayProto.encodeEnvelope(e)),
        readAck = () => readAck(in))
        .sendAll(RelayWriter.sealedChunks(it, maxChunkBytes, compression, key))
    }
  }

  def writeFrame(out: DataOutputStream, flags: Int, payload: Array[Byte]): Unit = {
    out.write(Magic)
    out.writeByte(flags)
    out.writeInt(payload.length)
    out.write(payload)
    out.flush()
  }

  /** Default receiver-side frame cap. The declared length is read from an
    * UNAUTHENTICATED peer before any GCM verification, so the allocation
    * it provokes must be small: 64 MiB (vs the writer's 4 MiB default /
    * 512 MiB hard chunk bound) keeps a handful of hostile connections
    * from OOMing the receiver while leaving 16× headroom over any frame
    * a default writer emits. */
  val DefaultMaxFrameBytes: Int = 64 << 20

  /** Cap on the DECOMPRESSED size of one frame (the frame cap bounds only
    * the wire bytes; a ~1000:1 gzip bomb inside an under-cap frame could
    * still provoke a multi-GiB allocation — on an unkeyed receiver, before
    * any authentication at all). 8× the frame cap accommodates any
    * legitimately compressible NDJSON batch; a frame inflating past it is
    * dropped with its connection like any other bad frame. */
  val DefaultMaxInflatedBytes: Int = 512 << 20

  /** Read one frame; None at clean EOF (between frames only — a stream
    * truncated MID-frame, including mid-magic, is an error, not an EOF:
    * readFully alone couldn't tell the two apart). */
  def readFrame(in: DataInputStream,
                maxFrameBytes: Int = DefaultMaxFrameBytes): Option[(Int, Array[Byte])] = {
    val first = in.read()
    if (first < 0) return None // clean EOF at a frame boundary
    val magic = new Array[Byte](4)
    magic(0) = first.toByte
    try in.readFully(magic, 1, 3)
    catch { case _: EOFException =>
      throw new java.io.IOException("stream truncated mid-magic") }
    require(java.util.Arrays.equals(magic, Magic),
      s"bad frame magic ${magic.toSeq} — peer is not a sealed relay")
    val flags = in.readUnsignedByte()
    val len = in.readInt()
    require(len >= 0 && len <= maxFrameBytes, s"bad frame length $len (cap $maxFrameBytes)")
    val payload = new Array[Byte](len)
    in.readFully(payload)
    Some((flags, payload))
  }

  /** K5/S11 sealed forward relay: each partition seals its rows as GRS1
    * flag frames over its own connection ([[RelayWriter.foreachConnection]]),
    * one frame per ≤`maxChunkBytes` NDJSON chunk — [[Chunking]] states why
    * chunks are bounded and how the bound sits under the receiver's frame
    * cap — while the per-frame cipher/deflate setup still amortizes over
    * megabytes. Encryption is keyed by `key`'s presence — one parameter,
    * no flag to keep in lockstep ([[validate]]'s two-field rule applies to
    * surfaces that genuinely carry both fields; here only the key length
    * can fail). */
  def writeSocketSealed(df: DataFrame, host: String, port: Int,
                        gzipped: Boolean = true,
                        key: Option[Array[Byte]] = None,
                        maxChunkBytes: Int = 4 << 20): Unit =
    writeSocketSealedWith(df, host, port,
      if (gzipped) graft.functions.Codecs.CompressDeflate
      else graft.functions.Codecs.CompressNone,
      key, maxChunkBytes)

  /** [[writeSocketSealed]] with an explicit compression algorithm
    * ([[graft.functions.Codecs]] proto-enum ids:
    * deflate/snappy/zstd/lz4/brotli), checked on the driver by
    * [[RelayWriter.requireSeal]]. */
  def writeSocketSealedWith(df: DataFrame, host: String, port: Int,
                            compression: Int,
                            key: Option[Array[Byte]] = None,
                            maxChunkBytes: Int = 4 << 20): Unit = {
    RelayWriter.requireSeal(compression, key, maxChunkBytes)
    RelayWriter.foreachConnection(df, RelayWriter.socket(host, port)) { (sock, it) =>
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      Chunking.chunks(it, maxChunkBytes).foreach { body =>
        val (flags, payload) = seal(body, compression, key)
        writeFrame(out, flags, payload)
      }
    }
  }
}

/** S11 sealed receiving relay: accept framed connections, unwrap
  * (decrypt → decompress) per frame flags, split the NDJSON batch into
  * records, and feed a streaming source buffer — the reference's
  * receiving-relay unwrap loop (`receivingrelay/receive.go:13-97`) with
  * an [[Ingress]] in place of the output submitters. A frame that fails
  * the GCM tag (wrong key) or the magic check drops that connection and
  * counts it; good frames from other peers are unaffected. Compose with
  * [[TlsNdjsonJack]]'s `Tls.serverSocket` for mTLS-on-the-wire — payload
  * sealing and transport auth are independent layers, as in the
  * reference's SecurityOptions vs TLSConfig split. Restart contract:
  * [[Ingress]]'s memory mode — replay-from-peer (the writer's per-batch
  * at-least-once).
  *
  * `ackMode` is the reference's ack-mode config (per-message / batch /
  * none, `receivingrelay/receive.go` ack dispatch) for PROTO-envelope
  * connections: "per-frame" sends a StreamAcknowledgment after every
  * payload frame (failure acks carry retryable=true before the
  * connection drops), "batch" sends one summary ack (last_seq, ok_count)
  * when the writer's EnvelopeClose arrives. Flag-framed GRS1 traffic is
  * never acked, matching the fire-and-forget legacy writers. */
final class SealedReceivingRelay(spark: SparkSession, port: Int,
                                 key: Option[Array[Byte]] = None,
                                 maxFrameBytes: Int = SealedRelay.DefaultMaxFrameBytes,
                                 maxInflatedBytes: Int = SealedRelay.DefaultMaxInflatedBytes,
                                 ackMode: String = "none") {
  require(maxFrameBytes > 0, s"maxFrameBytes must be positive: $maxFrameBytes")
  require(maxInflatedBytes >= maxFrameBytes,
    s"maxInflatedBytes ($maxInflatedBytes) must be at least maxFrameBytes ($maxFrameBytes)")
  RelayProto.requireAckMode(ackMode)
  RelayProto.requireKey(key)

  private val ingress = new Ingress(spark)
  private val server = new ServerSocket(port)
  private val badFrames = new AtomicLong(0)

  def boundPort: Int = server.getLocalPort

  private val accepts = new AcceptLoop(server, "graft-sealed")(serve)
  accepts.start()

  private def serve(sock: Socket): Unit = {
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      // one ack stream per connection, created only if a proto frame asks
      lazy val ackOut = new DataOutputStream(
        new BufferedOutputStream(sock.getOutputStream))
      var peerGone = false
      // success/close acks are best-effort: the records are already
      // ingested, so a peer that closed without reading its acks (e.g. a
      // fire-and-forget writer against an acking receiver) must not count
      // as a bad frame — only mark the pipe dead and stop reading
      def sendAck(a: RelayProto.StreamAck): Unit =
        try SealedRelay.writeFrame(ackOut, SealedRelay.FlagAck, RelayProto.encodeAck(a))
        catch { case _: java.io.IOException => peerGone = true }
      val feed: Array[Byte] => Unit = ingress.feed
      // envelope/ack semantics live in the shared session — this loop owns
      // only the socket framing and the legacy flag-framed path
      val session = new RelayProto.EnvelopeSession(key, maxInflatedBytes,
        ackMode, feed, sendAck)
      var more = true
      while (more && accepts.isRunning) {
        SealedRelay.readFrame(in, maxFrameBytes) match {
          case Some((flags, payload)) =>
            if ((flags & SealedRelay.FlagProto) != 0) {
              // protobuf envelope: sealing is declared in its metadata;
              // outer flag bits must not ALSO claim sealing
              require((flags & (SealedRelay.FlagGzip | SealedRelay.FlagAes)) == 0,
                s"proto frame carries outer sealing flags $flags — ambiguous self-description")
              more = session.onEnvelope(payload)
              if (peerGone) more = false
            } else feed(SealedRelay.unwrap(flags, payload, key, maxInflatedBytes))
          case None => more = false
        }
      }
    } catch {
      // wrong key / bad magic / truncation drops the peer and counts —
      // but a socket torn down by OUR stop() is not the peer's fault and
      // must not pollute the diagnostic counter
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
