package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** K5/S11 gRPC relay edge: genuine HTTP/2 (h2c prior knowledge) + gRPC
  * length-prefixed framing around the shared RelayProto envelope/ack
  * brain — golden wire bytes for the self-generated frames, all three
  * ack modes e2e, the unary Receive rpc, flow-control across
  * multi-frame DATA, stock-peer half-close, and the hostile-input
  * rejections. */
class GrpcRelaySpec extends SparkSpec {

  private val key = Array.tabulate[Byte](32)(i => (i * 11 + 7).toByte)
  private val schema = new StructType().add("id", LongType).add("name", StringType)

  private def df(n: Long) = {
    import spark.implicits._
    (0L until n).map(i => (i, s"rec$i")).toDF("id", "name")
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def failureChain(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(cur.getMessage).append(" | "); cur = cur.getCause }
    sb.result()
  }

  // --- golden wire bytes ---------------------------------------------------

  test("golden wire bytes: preface, SETTINGS, WINDOW_UPDATE, and one gRPC " +
    "DATA frame carrying a fixed envelope match the public grammar") {
    // RFC 7540 §3.5 connection preface, byte-exact
    assert(hex(Http2.Preface) === "505249202a20485454502f322e300d0a0d0a534d0d0a0d0a")
    // SETTINGS(MAX_FRAME_SIZE=16384, INITIAL_WINDOW_SIZE=65535):
    // len=12 type=4 flags=0 stream=0, then two (id16, value32) pairs
    val settings = {
      val b = new java.io.ByteArrayOutputStream()
      Http2.writeFrame(new DataOutputStream(b), Http2.TSettings, 0, 0,
        Http2.settingsPayload(Seq(
          Http2.SetMaxFrameSize -> 16384L, Http2.SetInitialWindowSize -> 65535L)))
      b.toByteArray
    }
    assert(hex(settings) === "00000c040000000000" + "000500004000" + "00040000ffff")
    // WINDOW_UPDATE(stream 3, +65535)
    val wu = {
      val b = new java.io.ByteArrayOutputStream()
      Http2.writeFrame(new DataOutputStream(b), Http2.TWindowUpdate, 0, 3,
        Http2.windowUpdatePayload(65535))
      b.toByteArray
    }
    assert(hex(wu) === "000004080000000003" + "0000ffff")
    // one DATA frame (END_STREAM) with a gRPC message wrapping a FIXED
    // RelayEnvelope: flag 0 + len32 + proto bytes, framed on stream 1
    val env = RelayProto.encodeEnvelope(RelayProto.EnvelopePayload(
      RelayProto.wrap("x".getBytes(UTF_8), id = "g", seq = 1,
        tsEpochMs = 1700000000000L,
        algo = graft.functions.Codecs.CompressNone, key = None)))
    val msg = GrpcWire.message(env)
    val frame = {
      val b = new java.io.ByteArrayOutputStream()
      Http2.writeFrame(new DataOutputStream(b), Http2.TData,
        Http2.FEndStream, 1, msg)
      b.toByteArray
    }
    // 9-byte header: length = env+5, type DATA(0), flags END_STREAM(1)
    assert(frame.length === 9 + 5 + env.length)
    assert(hex(frame.take(9)) ===
      f"${env.length + 5}%06x" + "00" + "01" + "00000001")
    assert(hex(frame.slice(9, 14)) === "00" + f"${env.length}%08x")
    assert(hex(frame) ===
      "000037000100000001" + // header: len 0x37, DATA, END_STREAM, stream 1
      "0000000032" +         // gRPC prefix: flag 0, message len 0x32
      "1230" +               // RelayEnvelope.payload (oneof arm 2), len 0x30
      "0a0167" +             //   id "g"
      "12060880e2cfaa06" +   //   timestamp 1700000000s
      "1a0178" +             //   payload "x"
      "221e12146170706c69636174696f6e2f782d6e646a736f6e" + // metadata: content-type
      "1a020801" + "2200" + "3a00" + // version 0.1, perf/security empty
      "3001")                //   seq 1
  }

  test("gRPC message reassembly: split across feeds, multiple per buffer, " +
    "compressed flag and oversize declared length rejected") {
    val mb = new GrpcWire.MessageBuffer(1024)
    val m1 = GrpcWire.message("hello".getBytes(UTF_8))
    val m2 = GrpcWire.message("world!".getBytes(UTF_8))
    mb.feed(m1, 0, 3) // partial
    assert(mb.poll().isEmpty)
    mb.feed(m1, 3, m1.length - 3)
    mb.feed(m2)
    assert(new String(mb.poll().get, UTF_8) === "hello")
    assert(new String(mb.poll().get, UTF_8) === "world!")
    assert(mb.poll().isEmpty && mb.isEmpty)
    val compressed = GrpcWire.message("x".getBytes(UTF_8))
    compressed(0) = 1
    val mbc = new GrpcWire.MessageBuffer(1024)
    mbc.feed(compressed)
    assert(intercept[IllegalArgumentException](mbc.poll())
      .getMessage.contains("compressed"))
    val big = new GrpcWire.MessageBuffer(16)
    big.feed(GrpcWire.message(new Array[Byte](17)).take(5))
    assert(intercept[IllegalArgumentException](big.poll())
      .getMessage.contains("exceeds cap"))
  }

  // --- e2e over real sockets -------------------------------------------------

  test("e2e fire-and-forget: sealed zstd+AES envelopes ride gRPC DATA " +
    "frames into the stream") {
    val relay = new GrpcRelayReceiver(spark, 0, Some(key))
    val ingress = relay.jsonStream(schema).writeStream
      .format("memory").queryName("grpc_relay").outputMode("append").start()
    try {
      GrpcRelay.writeGrpcProto(df(100), "127.0.0.1", relay.boundPort,
        compression = graft.functions.Codecs.CompressZstd,
        key = Some(key), maxChunkBytes = 128)
      eventually(relay.receivedCount == 100, s"got ${relay.receivedCount}/100")
      ingress.processAllAvailable()
      val rows = spark.table("grpc_relay").collect()
      assert(rows.length == 100)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 100L))
      assert(relay.badFrameCount == 0)
    } finally { ingress.stop(); relay.stop() }
  }

  test("per-frame acks: every message acked with its seq echo; batch acks: " +
    "one summary on close") {
    for (mode <- Seq("per-frame", "batch")) {
      val relay = new GrpcRelayReceiver(spark, 0, Some(key), ackMode = mode)
      try {
        GrpcRelay.writeGrpcProto(df(60), "127.0.0.1", relay.boundPort,
          key = Some(key), maxChunkBytes = 64, ackMode = mode,
          ackTimeoutMs = 10000)
        eventually(relay.receivedCount == 60, s"$mode: got ${relay.receivedCount}/60")
        assert(relay.badFrameCount == 0, mode)
      } finally relay.stop()
    }
  }

  test("a chunk larger than the 16384 max frame splits across DATA frames " +
    "and the send-window wait loop makes progress") {
    import spark.implicits._
    // ~40 records x 8KB >> the 65535 default window and the 16384 frame cap
    val wide = (0L until 40L).map(i => (i, "v" * 8000)).toDF("id", "name")
    val relay = new GrpcRelayReceiver(spark, 0, ackMode = "batch")
    try {
      GrpcRelay.writeGrpcProto(wide, "127.0.0.1", relay.boundPort,
        maxChunkBytes = 1 << 20, ackMode = "batch", ackTimeoutMs = 20000)
      eventually(relay.receivedCount == 40, s"got ${relay.receivedCount}/40")
      assert(relay.badFrameCount == 0)
    } finally relay.stop()
  }

  test("wrong key under per-frame acks: the writer fails on the failure " +
    "ack, the receiver counts the frame") {
    val relay = new GrpcRelayReceiver(spark, 0, Some(key), ackMode = "per-frame")
    try {
      val wrong = Array.tabulate[Byte](32)(i => (i * 13 + 5).toByte)
      val e = intercept[Exception] {
        GrpcRelay.writeGrpcProto(df(5), "127.0.0.1", relay.boundPort,
          key = Some(wrong), maxChunkBytes = 64, ackMode = "per-frame",
          ackTimeoutMs = 10000)
      }
      eventually(relay.badFrameCount > 0, "bad frame not counted")
      assert(relay.receivedCount == 0)
      assert(e.toString.nonEmpty)
    } finally relay.stop()
  }

  test("the receiver refuses an AES key of illegal length at construction") {
    val e = intercept[IllegalArgumentException] {
      new GrpcRelayReceiver(spark, 0, Some(key.take(17)))
    }
    assert(e.getMessage.contains("AES key must be 16/24/32 bytes, got 17"), e.getMessage)
  }

  test("ack-mode mismatch times out instead of hanging") {
    val relay = new GrpcRelayReceiver(spark, 0, ackMode = "none")
    try {
      intercept[Exception] {
        GrpcRelay.writeGrpcProto(df(3), "127.0.0.1", relay.boundPort,
          maxChunkBytes = 64, ackMode = "per-frame", ackTimeoutMs = 1500)
      }
    } finally relay.stop()
  }

  // --- hand-rolled stock-peer behaviors --------------------------------------

  /** Minimal manual h2c client for peer-shaped tests: preface + SETTINGS,
    * one request stream, collected response messages + trailers. */
  private final class ManualPeer(port: Int) extends AutoCloseable {
    val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(10000)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val codec = new Http2.HeaderCodec
    val data = new GrpcWire.MessageBuffer(1 << 20)
    var headers: Seq[(String, String)] = Nil
    var trailers: Seq[(String, String)] = Nil
    var ended = false
    out.write(Http2.Preface)
    Http2.writeFrame(out, Http2.TSettings, 0, 0, Array.emptyByteArray)
    out.flush()

    def openOn(id: Int, path: String): Unit = {
      Http2.writeFrame(out, Http2.THeaders, Http2.FEndHeaders, id,
        codec.encode(id, Seq(":method" -> "POST", ":scheme" -> "http",
          ":path" -> path, ":authority" -> "t",
          "content-type" -> "application/grpc", "te" -> "trailers")))
      out.flush()
    }
    def open(path: String): Unit = openOn(1, path)
    def sendOn(id: Int, body: Array[Byte], endStream: Boolean): Unit = {
      Http2.writeFrame(out, Http2.TData,
        if (endStream) Http2.FEndStream else 0, id, GrpcWire.message(body))
      out.flush()
    }
    def send(body: Array[Byte], endStream: Boolean): Unit =
      sendOn(1, body, endStream)
    def endStream(): Unit = {
      Http2.writeFrame(out, Http2.TData, Http2.FEndStream, 1,
        Array.emptyByteArray)
      out.flush()
    }
    def pumpUntilEnd(): Unit = while (!ended) {
      val f = Http2.readFrame(in, 1 << 20)
      f.tpe match {
        case Http2.TSettings if !f.has(Http2.FAck) =>
          Http2.writeFrame(out, Http2.TSettings, Http2.FAck, 0,
            Array.emptyByteArray); out.flush()
        case Http2.TPing if !f.has(Http2.FAck) =>
          Http2.writeFrame(out, Http2.TPing, Http2.FAck, 0, f.payload)
          out.flush()
        case Http2.TData => data.feed(Http2.stripPadding(f))
          if (f.has(Http2.FEndStream)) ended = true
        case Http2.THeaders =>
          val hs = codec.decode(1, Http2.stripPadding(f))
          if (headers.isEmpty) headers = hs else trailers = hs
          if (f.has(Http2.FEndStream)) ended = true
        case _ => ()
      }
    }
    def close(): Unit = sock.close()
  }

  test("unary Receive: one WrappedPayload in, one ack + grpc-status 0 out") {
    val relay = new GrpcRelayReceiver(spark, 0)
    try {
      val p = new ManualPeer(relay.boundPort)
      try {
        p.open(GrpcRelay.UnaryPath)
        p.send(RelayProto.encode(RelayProto.wrap(
          """{"id":7,"name":"solo"}""".getBytes(UTF_8), id = "u1", seq = 0,
          tsEpochMs = 1L, algo = graft.functions.Codecs.CompressNone,
          key = None)), endStream = true)
        p.pumpUntilEnd()
        val ack = RelayProto.decodeAck(p.data.poll().get)
        assert(ack.success && ack.okCount == 1)
        assert((p.trailers ++ p.headers)
          .collectFirst { case ("grpc-status", v) => v }.contains("0"))
        eventually(relay.receivedCount == 1, "record not ingested")
      } finally p.close()
    } finally relay.stop()
  }

  test("stock-peer half-close WITHOUT EnvelopeClose still triggers the " +
    "batch summary ack and clean trailers") {
    val relay = new GrpcRelayReceiver(spark, 0, ackMode = "batch")
    try {
      val p = new ManualPeer(relay.boundPort)
      try {
        p.open(GrpcRelay.StreamPath)
        (0 until 3).foreach { i =>
          p.send(RelayProto.encodeEnvelope(RelayProto.EnvelopePayload(
            RelayProto.wrap(s"""{"id":$i,"name":"hc"}""".getBytes(UTF_8),
              id = s"m$i", seq = i.toLong, tsEpochMs = 1L,
              algo = graft.functions.Codecs.CompressNone, key = None))),
            endStream = false)
        }
        p.endStream() // no EnvelopeClose — stock gRPC half-close
        p.pumpUntilEnd()
        val ack = RelayProto.decodeAck(p.data.poll().get)
        assert(ack.success && ack.okCount == 3, ack)
        assert((p.trailers ++ p.headers)
          .collectFirst { case ("grpc-status", v) => v }.contains("0"))
        eventually(relay.receivedCount == 3, s"got ${relay.receivedCount}/3")
        assert(relay.badFrameCount == 0)
      } finally p.close()
    } finally relay.stop()
  }

  test("brotli envelopes (proto enum 4): a REAL one round-trips through " +
    "wrap/unwrap since r13; garbage claiming brotli still gets a clean " +
    "failure ack naming the algorithm, connection drops, nothing ingested") {
    // r13: the writer SEALS with brotli (BrotliEnc) — both directions
    val body = """{"id":1,"name":"sealed"}""".getBytes(UTF_8)
    val wrapped = RelayProto.wrap(body, "w", 0, 1L,
      algo = graft.functions.Codecs.CompressBrotli, key = None)
    assert(RelayProto.unwrap(wrapped, None).toSeq == body.toSeq)
    val relay = new GrpcRelayReceiver(spark, 0, ackMode = "per-frame")
    try {
      val p = new ManualPeer(relay.boundPort)
      try {
        p.open(GrpcRelay.StreamPath)
        // a hostile/stock peer CLAIMS brotli over garbage bytes: the
        // decoder must refuse it with a retryable failure ack and drop —
        // never crash, never half-ingest
        val claimed = RelayProto.WrappedPayload(id = "b4", seq = 0,
          payload = Array[Byte](1, 2, 3),
          metadata = Some(RelayProto.MessageMetadata(
            performance = Some(RelayProto.PerformanceOptions(
              useCompression = true,
              compressionAlgorithm = graft.functions.Codecs.CompressBrotli,
              compressionLevel = 0)))))
        p.send(RelayProto.encodeEnvelope(RelayProto.EnvelopePayload(claimed)),
          endStream = false)
        var ack: Option[RelayProto.StreamAck] = None
        try while (ack.isEmpty) { p.pumpUntilEnd(); ack = p.data.poll().map(RelayProto.decodeAck) }
        catch { case _: Exception => ack = ack.orElse(p.data.poll().map(RelayProto.decodeAck)) }
        assert(ack.isDefined, "no failure ack before the drop")
        assert(!ack.get.success && ack.get.retryable && ack.get.id == "b4")
        assert(ack.get.message.toLowerCase.contains("brotli"), ack.get.message)
        eventually(relay.badFrameCount == 1, "drop not counted")
        assert(relay.receivedCount == 0)
      } finally p.close()
    } finally relay.stop()
  }

  test("an unknown rpc path fails ONLY that stream (grpc UNIMPLEMENTED) — " +
    "the connection keeps serving; a non-h2c peer is refused at the preface") {
    val relay = new GrpcRelayReceiver(spark, 0)
    try {
      val p = new ManualPeer(relay.boundPort)
      try {
        // a stock client multiplexes unrelated rpcs over the channel: the
        // health-check stream must die alone with grpc-status 12
        p.open("/grpc.health.v1.Health/Check")
        p.send(Array[Byte](1, 2, 3), endStream = true) // DATA after close: discarded
        p.pumpUntilEnd()
        assert((p.trailers ++ p.headers)
          .collectFirst { case ("grpc-status", v) => v }.contains("12"),
          (p.trailers ++ p.headers).toString)
        // the SAME connection then serves a real unary rpc on stream 3
        p.ended = false; p.headers = Nil; p.trailers = Nil
        p.openOn(3, GrpcRelay.UnaryPath)
        p.sendOn(3, RelayProto.encode(RelayProto.wrap(
          """{"id":1,"name":"after"}""".getBytes(UTF_8), id = "u", seq = 0,
          tsEpochMs = 1L, algo = graft.functions.Codecs.CompressNone,
          key = None)), endStream = true)
        p.pumpUntilEnd()
        val ack = RelayProto.decodeAck(p.data.poll().get)
        assert(ack.success && ack.okCount == 1)
        eventually(relay.receivedCount == 1, "post-UNIMPLEMENTED rpc not served")
        assert(relay.badFrameCount == 0, "well-formed connection miscounted")
      } finally p.close()
      // HTTP/1.1 bytes are not a preface
      val sock = new Socket("127.0.0.1", relay.boundPort)
      try {
        sock.setSoTimeout(5000)
        sock.getOutputStream.write(
          "GET / HTTP/1.1\r\nHost: x\r\n\r\n".getBytes(UTF_8))
        sock.getOutputStream.flush()
        assert(sock.getInputStream.read() == -1) // closed, nothing served
      } finally sock.close()
      eventually(relay.badFrameCount >= 1, "bad preface not counted")
    } finally relay.stop()
  }

  test("three INTERLEAVED multiplexed streams on one connection: per-frame " +
    "acks come back per stream, all complete, state is pruned") {
    val relay = new GrpcRelayReceiver(spark, 0, ackMode = "per-frame")
    try {
      val p = new ManualPeer(relay.boundPort)
      try {
        val ids = Seq(1, 3, 5)
        ids.foreach(id => p.openOn(id, GrpcRelay.StreamPath))
        // round-robin the DATA so the receiver juggles all three at once
        (0 until 4).foreach { seq =>
          ids.foreach { id =>
            p.sendOn(id, RelayProto.encodeEnvelope(RelayProto.EnvelopePayload(
              RelayProto.wrap(s"""{"id":${id * 100 + seq},"name":"mx"}"""
                .getBytes(UTF_8), id = s"s$id-$seq", seq = seq.toLong,
                tsEpochMs = 1L, algo = graft.functions.Codecs.CompressNone,
                key = None))), endStream = false)
          }
        }
        ids.foreach { id =>
          Http2.writeFrame(p.out, Http2.TData, Http2.FEndStream, id,
            Array.emptyByteArray)
        }
        p.out.flush()
        // collect per-frame acks (12) + per-stream trailers (3): pump until
        // every stream ended; ManualPeer tracks one ended flag, so count
        // trailers frames manually
        var acks = 0
        var trailerStreams = Set[Int]()
        val deadline = System.currentTimeMillis() + 20000
        while ((acks < 12 || trailerStreams.size < 3) &&
          System.currentTimeMillis() < deadline) {
          val f = Http2.readFrame(p.in, 1 << 20)
          f.tpe match {
            case Http2.TSettings if !f.has(Http2.FAck) =>
              Http2.writeFrame(p.out, Http2.TSettings, Http2.FAck, 0,
                Array.emptyByteArray); p.out.flush()
            case Http2.TData =>
              p.data.feed(Http2.stripPadding(f))
              var m = p.data.poll()
              while (m.isDefined) {
                val a = RelayProto.decodeAck(m.get)
                assert(a.success, a)
                acks += 1
                m = p.data.poll()
              }
            case Http2.THeaders =>
              val hs = p.codec.decode(f.streamId, Http2.stripPadding(f))
              if (hs.exists(_._1 == "grpc-status")) {
                assert(hs.collectFirst { case ("grpc-status", v) => v }
                  .contains("0"), hs.toString)
                trailerStreams += f.streamId
              }
            case _ => ()
          }
        }
        assert(acks == 12, s"acks=$acks")
        assert(trailerStreams == Set(1, 3, 5), trailerStreams)
        eventually(relay.receivedCount == 12, s"got ${relay.receivedCount}/12")
        assert(relay.badFrameCount == 0)
      } finally p.close()
    } finally relay.stop()
  }

  test("a peer advertising a 16-byte flow-control window: the receiver " +
    "splits acks to the credit, waits for WINDOW_UPDATEs, and still " +
    "serves interleaved work flagged during the wait") {
    val relay = new GrpcRelayReceiver(spark, 0, ackMode = "per-frame")
    try {
      val p = new ManualPeer(relay.boundPort)
      try {
        // shrink OUR receive window: every ack DATA frame from the
        // receiver must now be <= 16 bytes and wait for our credits
        Http2.writeFrame(p.out, Http2.TSettings, 0, 0,
          Http2.settingsPayload(Seq(Http2.SetInitialWindowSize -> 16L)))
        p.out.flush()
        p.openOn(1, GrpcRelay.StreamPath)
        // the 48-char message id echoes into the ack, forcing the ack
        // DATA past the 16-byte window so the split-and-wait path runs
        val longId = "window-test-" + ("x" * 36)
        p.sendOn(1, RelayProto.encodeEnvelope(RelayProto.EnvelopePayload(
          RelayProto.wrap("""{"id":1,"name":"win"}""".getBytes(UTF_8),
            id = longId, seq = 0, tsEpochMs = 1L,
            algo = graft.functions.Codecs.CompressNone, key = None))),
          endStream = false)
        // drive: credit 16 bytes back for every DATA frame received, so
        // the receiver's credit-wait loop makes stepwise progress
        var ack: Option[RelayProto.StreamAck] = None
        var status: Option[String] = None
        var dataFrames = 0
        var sentClose = false
        val deadline = System.currentTimeMillis() + 20000
        while (status.isEmpty && System.currentTimeMillis() < deadline) {
          val f = Http2.readFrame(p.in, 1 << 20)
          f.tpe match {
            case Http2.TSettings if !f.has(Http2.FAck) =>
              Http2.writeFrame(p.out, Http2.TSettings, Http2.FAck, 0,
                Array.emptyByteArray); p.out.flush()
            case Http2.TData =>
              val b = Http2.stripPadding(f)
              assert(b.length <= 16, s"frame of ${b.length} exceeds our window")
              dataFrames += 1
              p.data.feed(b)
              p.data.poll().foreach { m =>
                ack = Some(RelayProto.decodeAck(m))
                // first ack arrived whole: now half-close so trailers come
                if (!sentClose) {
                  sentClose = true
                  Http2.writeFrame(p.out, Http2.TData, Http2.FEndStream, 1,
                    Array.emptyByteArray)
                }
              }
              // grant the next 16 bytes on both levels
              Http2.writeFrame(p.out, Http2.TWindowUpdate, 0, 0,
                Http2.windowUpdatePayload(16))
              Http2.writeFrame(p.out, Http2.TWindowUpdate, 0, 1,
                Http2.windowUpdatePayload(16))
              p.out.flush()
            case Http2.THeaders =>
              val hs = p.codec.decode(1, Http2.stripPadding(f))
              hs.collectFirst { case ("grpc-status", v) => v }
                .foreach(v => status = Some(v))
            case _ => ()
          }
        }
        assert(ack.exists(a => a.success && a.seq == 0), ack.toString)
        assert(dataFrames >= 2, s"ack was not split (frames=$dataFrames)")
        assert(status.contains("0"), s"grpc-status $status")
        eventually(relay.receivedCount == 1, "record not ingested")
        assert(relay.badFrameCount == 0)
      } finally p.close()
    } finally relay.stop()
  }

  test("RST_STREAM while an ack is blocked on flow-control credit: the " +
    "receiver abandons that ack and keeps serving the connection") {
    val relay = new GrpcRelayReceiver(spark, 0, ackMode = "per-frame")
    try {
      val p = new ManualPeer(relay.boundPort)
      try {
        // 16-byte stream window + long echoed id: the ack MUST wait for
        // credit after its first frame
        Http2.writeFrame(p.out, Http2.TSettings, 0, 0,
          Http2.settingsPayload(Seq(Http2.SetInitialWindowSize -> 16L)))
        p.out.flush()
        p.openOn(1, GrpcRelay.StreamPath)
        p.sendOn(1, RelayProto.encodeEnvelope(RelayProto.EnvelopePayload(
          RelayProto.wrap("""{"id":1,"name":"rst"}""".getBytes(UTF_8),
            id = "rst-" + ("y" * 40), seq = 0, tsEpochMs = 1L,
            algo = graft.functions.Codecs.CompressNone, key = None))),
          endStream = false)
        // swallow frames until the first (window-capped) ack DATA arrives,
        // then RESET the stream instead of granting more credit
        var sawAckFrame = false
        val deadline = System.currentTimeMillis() + 15000
        while (!sawAckFrame && System.currentTimeMillis() < deadline) {
          val f = Http2.readFrame(p.in, 1 << 20)
          f.tpe match {
            case Http2.TSettings if !f.has(Http2.FAck) =>
              Http2.writeFrame(p.out, Http2.TSettings, Http2.FAck, 0,
                Array.emptyByteArray); p.out.flush()
            case Http2.TData => sawAckFrame = true
            case Http2.THeaders =>
              // MUST decode even when ignoring: HPACK's dynamic table is
              // connection-wide — a skipped block desyncs later decodes
              p.codec.decode(f.streamId, Http2.stripPadding(f))
              ()
            case _ => ()
          }
        }
        assert(sawAckFrame, "no first ack frame before the reset")
        Http2.writeFrame(p.out, Http2.TRstStream, 0, 1, new Array[Byte](4))
        p.out.flush()
        // the receiver must escape the credit wait and serve NEW work on
        // the same connection: a valid unary on stream 3
        p.openOn(3, GrpcRelay.UnaryPath)
        p.sendOn(3, RelayProto.encode(RelayProto.wrap(
          """{"id":2,"name":"alive"}""".getBytes(UTF_8), id = "u", seq = 0,
          tsEpochMs = 1L, algo = graft.functions.Codecs.CompressNone,
          key = None)), endStream = true)
        var unaryAck: Option[RelayProto.StreamAck] = None
        var status: Option[String] = None
        val dl2 = System.currentTimeMillis() + 15000
        while (status.isEmpty && System.currentTimeMillis() < dl2) {
          val f = Http2.readFrame(p.in, 1 << 20)
          f.tpe match {
            case Http2.TData if f.streamId == 3 =>
              p.data.feed(Http2.stripPadding(f))
              p.data.poll().foreach(m => unaryAck = Some(RelayProto.decodeAck(m)))
            case Http2.THeaders =>
              val hs = p.codec.decode(f.streamId, Http2.stripPadding(f))
              if (f.streamId == 3)
                hs.collectFirst { case ("grpc-status", v) => v }
                  .foreach(v => status = Some(v))
            case _ => () // stray frames for stream 1 etc.
          }
        }
        assert(unaryAck.exists(_.success), unaryAck.toString)
        assert(status.contains("0"), s"grpc-status $status")
        eventually(relay.receivedCount == 2, s"got ${relay.receivedCount}/2")
        assert(relay.badFrameCount == 0)
      } finally p.close()
    } finally relay.stop()
  }

  test("the writer applies the server's SETTINGS before its first DATA: a " +
    "small window advertised late still bounds the first frame") {
    // scripted h2 server whose preface SETTINGS (16-byte stream window)
    // arrives late; it records the first DATA frame's size, then hangs up
    val server = new java.net.ServerSocket(0)
    val firstData = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val t = new Thread(() => {
      val sock = server.accept()
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        in.readFully(new Array[Byte](Http2.Preface.length))
        Thread.sleep(300)
        Http2.writeFrame(out, Http2.TSettings, 0, 0,
          Http2.settingsPayload(Seq(Http2.SetInitialWindowSize -> 16L)))
        out.flush()
        var f = Http2.readFrame(in, 1 << 20)
        while (f.tpe != Http2.TData) f = Http2.readFrame(in, 1 << 20)
        firstData.put(f.payload.length)
      } finally sock.close()
    })
    t.setDaemon(true); t.start()
    try {
      // the hang-up fails the write; only the frame size matters here
      scala.util.Try(GrpcRelay.writeGrpcProto(df(1), "127.0.0.1",
        server.getLocalPort, ackTimeoutMs = 5000))
      val n = firstData.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(n != null && n <= 16, s"first DATA frame of $n bytes overran the 16-byte window")
    } finally server.close()
  }

  test("the writer caps a response header block: CONTINUATIONs past the " +
    "cap fail the write and close the connection before the server is done") {
    // scripted h2 server: after its preface SETTINGS and the client's
    // half-close, it opens a response header block (no END_HEADERS) and
    // keeps sending CONTINUATION frames, counting the ones it could write
    val server = new java.net.ServerSocket(0)
    val total = 400
    val sent = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val t = new Thread(() => {
      val sock = server.accept()
      var n = 0
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        in.readFully(new Array[Byte](Http2.Preface.length))
        Http2.writeFrame(out, Http2.TSettings, 0, 0, Array.emptyByteArray)
        out.flush()
        var f = Http2.readFrame(in, 1 << 20)
        while (!(f.tpe == Http2.TData && f.has(Http2.FEndStream)))
          f = Http2.readFrame(in, 1 << 20)
        Http2.writeFrame(out, Http2.THeaders, 0, 1, new Array[Byte](1000))
        out.flush()
        while (n < total) {
          Http2.writeFrame(out, Http2.TContinuation, 0, 1, new Array[Byte](1000))
          out.flush()
          n += 1
          Thread.sleep(5)
        }
      } catch {
        case _: java.io.IOException => () // the client hung up
      } finally { sent.put(n); sock.close() }
    })
    t.setDaemon(true); t.start()
    try {
      // maxChunkBytes 1024: the writer's message cap, and so its header
      // block cap, is 1024 + 4096 bytes
      val e = intercept[org.apache.spark.SparkException] {
        GrpcRelay.writeGrpcProto(df(1), "127.0.0.1", server.getLocalPort,
          maxChunkBytes = 1024, ackTimeoutMs = 10000)
      }
      val chain = failureChain(e)
      assert(chain.contains("header block exceeds 5120 bytes"), chain)
      val n = sent.poll(20, java.util.concurrent.TimeUnit.SECONDS)
      assert(n != null && n < total,
        s"the server sent $n of $total CONTINUATION frames before the writer hung up")
    } finally server.close()
  }

  test("a receiver that dies mid-ack (truncated gRPC message + END_STREAM) " +
    "fails the writer FAST with the stream-ended error, not a socket timeout") {
    // scripted h2 server: accept the stream, answer headers + a TRUNCATED
    // ack message, then trailers/END_STREAM and vanish
    val server = new java.net.ServerSocket(0)
    val t = new Thread(() => {
      val sock = server.accept()
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      val pre = new Array[Byte](Http2.Preface.length)
      in.readFully(pre)
      Http2.writeFrame(out, Http2.TSettings, 0, 0, Array.emptyByteArray)
      out.flush()
      val codec = new Http2.HeaderCodec
      var sawData = false
      while (!sawData) {
        val f = Http2.readFrame(in, 1 << 20)
        if (f.tpe == Http2.TSettings && !f.has(Http2.FAck)) {
          Http2.writeFrame(out, Http2.TSettings, Http2.FAck, 0, Array.emptyByteArray)
          out.flush()
        } else if (f.tpe == Http2.TData) sawData = true
      }
      Http2.writeFrame(out, Http2.THeaders, Http2.FEndHeaders, 1,
        codec.encode(1, Seq(":status" -> "200",
          "content-type" -> "application/grpc")))
      Http2.writeFrame(out, Http2.TData, 0, 1,
        Array[Byte](0, 0, 0, 0, 64, 1, 2, 3)) // declares 64 bytes, sends 3
      Http2.writeFrame(out, Http2.THeaders,
        Http2.FEndHeaders | Http2.FEndStream, 1,
        codec.encode(1, Seq("grpc-status" -> "13",
          "grpc-message" -> "died mid-ack")))
      out.flush()
    })
    t.setDaemon(true); t.start()
    try {
      val t0 = System.currentTimeMillis()
      val e = intercept[org.apache.spark.SparkException] {
        GrpcRelay.writeGrpcProto(df(3), "127.0.0.1", server.getLocalPort,
          maxChunkBytes = 64, ackMode = "per-frame", ackTimeoutMs = 30000)
      }
      val chain = failureChain(e)
      assert(chain.contains("stream ended while awaiting ack"), chain)
      assert(chain.contains("truncated message"), chain)
      assert(chain.contains("died mid-ack"), chain)
      // failed on the END_STREAM signal, nowhere near the 30s ack timeout
      assert(System.currentTimeMillis() - t0 < 15000, "hung instead of failing fast")
    } finally server.close()
  }
}
