package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** S12 WebSocket relay: the Upgrade handshake (accept-key verification
  * both ways), sealed envelope messages as binary frames with
  * fragmentation reassembly, all three ack modes (including the
  * mode-mismatch timeout and the failure-ack path), and the
  * out-of-contract frame rejections. */
class WsRelaySpec extends SparkSpec {

  private val key = Array.tabulate[Byte](32)(i => (i * 11 + 7).toByte)
  private val schema = new StructType().add("id", LongType).add("name", StringType)

  private def failureChain(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(cur.getMessage).append(" | "); cur = cur.getCause }
    sb.result()
  }

  private def df(n: Long) = {
    import spark.implicits._
    (0L until n).map(i => (i, s"rec$i")).toDF("id", "name")
  }

  test("e2e fire-and-forget: sealed zstd+AES envelopes ride binary frames into the stream") {
    val relay = new WsRelayReceiver(spark, 0, Some(key))
    val ingress = relay.jsonStream(schema).writeStream
      .format("memory").queryName("ws_relay").outputMode("append").start()
    try {
      WsRelay.writeWsProto(df(100), "127.0.0.1", relay.boundPort,
        compression = graft.functions.Codecs.CompressZstd,
        key = Some(key), maxChunkBytes = 128)
      eventually(relay.receivedCount == 100, s"got ${relay.receivedCount}/100")
      ingress.processAllAvailable()
      val rows = spark.table("ws_relay").collect()
      assert(rows.length == 100)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 100L))
      assert(relay.badFrameCount == 0)
    } finally { ingress.stop(); relay.stop() }
  }

  test("per-frame acks: every message acked with its seq echo; batch acks: one summary on close") {
    for (mode <- Seq("per-frame", "batch")) {
      val relay = new WsRelayReceiver(spark, 0, Some(key), ackMode = mode)
      try {
        WsRelay.writeWsProto(df(60), "127.0.0.1", relay.boundPort,
          key = Some(key), maxChunkBytes = 64, ackMode = mode, ackTimeoutMs = 10000)
        // the writer only returns once its required acks arrived; receipt
        // completeness is the assertion
        eventually(relay.receivedCount == 60, s"$mode: got ${relay.receivedCount}/60")
        assert(relay.badFrameCount == 0, mode)
      } finally relay.stop()
    }
  }

  test("wrong key under per-frame acks: the writer fails on the failure ack, the receiver counts the frame") {
    val relay = new WsRelayReceiver(spark, 0, Some(key), ackMode = "per-frame")
    try {
      val wrongKey = key.map(b => (b ^ 0x33).toByte)
      val e = intercept[Exception] {
        WsRelay.writeWsProto(df(1), "127.0.0.1", relay.boundPort,
          key = Some(wrongKey), ackMode = "per-frame", ackTimeoutMs = 10000)
      }
      assert(failureChain(e).contains("rejected by receiver"), failureChain(e))
      eventually(relay.badFrameCount >= 1, "bad frame was not counted")
      assert(relay.receivedCount == 0)
    } finally relay.stop()
  }

  test("the receiver refuses an AES key of illegal length at construction") {
    val e = intercept[IllegalArgumentException] {
      new WsRelayReceiver(spark, 0, Some(key.take(17)))
    }
    assert(e.getMessage.contains("AES key must be 16/24/32 bytes, got 17"), e.getMessage)
  }

  test("ack-mode mismatch times out instead of hanging") {
    val relay = new WsRelayReceiver(spark, 0, ackMode = "none")
    try {
      val e = intercept[Exception] {
        WsRelay.writeWsProto(df(1), "127.0.0.1", relay.boundPort,
          ackMode = "per-frame", ackTimeoutMs = 1500)
      }
      assert(failureChain(e).toLowerCase.contains("timed out"), failureChain(e))
    } finally relay.stop()
  }

  test("a fragmented envelope reassembles across continuation frames") {
    val relay = new WsRelayReceiver(spark, 0)
    try {
      val sock = new Socket("127.0.0.1", relay.boundPort)
      try {
        WsRelay.clientHandshake(sock, "127.0.0.1", "/relay")
        val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        val body = """{"id":1,"name":"frag"}""".getBytes(UTF_8)
        val envelope = RelayProto.encodeEnvelope(RelayProto.EnvelopePayload(
          RelayProto.wrap(body, "f-0", 0, 0, graft.functions.Codecs.CompressNone, None)))
        val (a, b) = envelope.splitAt(envelope.length / 2)
        val mask = Array[Byte](1, 2, 3, 4)
        out.write(WsFrames.encode(WsFrames.OpBinary, a, Some(mask), fin = false))
        out.write(WsFrames.encode(0x0, b, Some(mask), fin = true))
        out.write(WsFrames.encode(WsFrames.OpBinary, RelayProto.encodeEnvelope(
          RelayProto.EnvelopeClose("done")), Some(mask)))
        out.flush()
        eventually(relay.receivedCount == 1, s"got ${relay.receivedCount}/1")
        assert(relay.badFrameCount == 0)
      } finally sock.close()
    } finally relay.stop()
  }

  test("text frames are out of contract: connection dropped and counted; later peers unaffected") {
    val relay = new WsRelayReceiver(spark, 0)
    try {
      val sock = new Socket("127.0.0.1", relay.boundPort)
      try {
        WsRelay.clientHandshake(sock, "127.0.0.1", "/relay")
        val out = sock.getOutputStream
        out.write(WsFrames.encode(WsFrames.OpText, "hello".getBytes(UTF_8),
          Some(Array[Byte](9, 9, 9, 9))))
        out.flush()
        eventually(relay.badFrameCount == 1, "text frame was not counted")
      } finally sock.close()
      WsRelay.writeWsProto(df(5), "127.0.0.1", relay.boundPort)
      eventually(relay.receivedCount == 5, s"got ${relay.receivedCount}/5 after bad peer")
    } finally relay.stop()
  }

  test("handshake header reads are bounded: an endless unterminated line and " +
    "an endless header stream both fail loudly instead of growing memory") {
    val noNewline = new java.io.DataInputStream(new java.io.InputStream {
      override def read(): Int = 'a' // hostile peer: bytes forever, no '\n'
    })
    val e = intercept[java.io.IOException](WsFrames.readHeaderLine(noNewline))
    assert(e.getMessage.contains("header line exceeds"), e.getMessage)
    val endlessHeaders = new java.io.DataInputStream(new java.io.InputStream {
      private val line = "X-Pad: y\r\n".getBytes(UTF_8)
      private var i = 0
      override def read(): Int = { val b = line(i % line.length); i += 1; b & 0xff }
    })
    val e2 = intercept[java.io.IOException](WsFrames.readUpgradeKey(endlessHeaders))
    assert(e2.getMessage.contains("header lines"), e2.getMessage)
  }

  test("handshake: a non-101 response and a wrong accept key are both refused") {
    def oneShotServer(response: String): (ServerSocket, Thread) = {
      val srv = new ServerSocket(0)
      val t = new Thread(() => {
        try {
          val s = srv.accept()
          val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
          var line = WsFrames.readHeaderLine(in)
          while (line.nonEmpty) line = WsFrames.readHeaderLine(in) // drain request
          s.getOutputStream.write(response.getBytes(UTF_8))
          s.getOutputStream.flush()
          s.close()
        } catch { case _: Throwable => () }
      })
      t.setDaemon(true); t.start()
      (srv, t)
    }
    val (notWs, _) = oneShotServer("HTTP/1.1 404 Not Found\r\n\r\n")
    try {
      val sock = new Socket("127.0.0.1", notWs.getLocalPort)
      val e = intercept[IllegalArgumentException](
        WsRelay.clientHandshake(sock, "x", "/relay"))
      assert(e.getMessage.contains("upgrade refused"), e.getMessage)
      sock.close()
    } finally notWs.close()

    val (badAccept, _) = oneShotServer("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      "Sec-WebSocket-Accept: bm90LXRoZS1yaWdodC1oYXNo\r\n\r\n")
    try {
      val sock = new Socket("127.0.0.1", badAccept.getLocalPort)
      val e = intercept[IllegalArgumentException](
        WsRelay.clientHandshake(sock, "x", "/relay"))
      assert(e.getMessage.contains("Accept mismatch"), e.getMessage)
      sock.close()
    } finally badAccept.close()
  }

  test("clientHandshake bounds the response header lines: a server that " +
    "streams header lines forever fails the handshake instead of pinning it") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val srv = new ServerSocket(0)
    val server = new Thread(() => {
      try {
        val s = srv.accept()
        try {
          val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
          var line = WsFrames.readHeaderLine(in)
          while (line.nonEmpty) line = WsFrames.readHeaderLine(in) // drain request
          val out = new BufferedOutputStream(s.getOutputStream)
          out.write("HTTP/1.1 101 Switching Protocols\r\n".getBytes(UTF_8))
          val pad = "X-Pad: y\r\n".getBytes(UTF_8)
          while (true) out.write(pad) // until the client hangs up
        } finally s.close()
      } catch { case _: Throwable => () }
    })
    server.setDaemon(true); server.start()
    val sock = new Socket("127.0.0.1", srv.getLocalPort)
    try {
      val handshake = Future(WsRelay.clientHandshake(sock, "x", "/relay"))(ExecutionContext.global)
      val e = intercept[java.io.IOException](Await.result(handshake, 20.seconds))
      assert(e.getMessage.contains("header lines"), e.getMessage)
    } finally { sock.close(); srv.close() }
  }

  test("a hostile declared frame length is rejected BEFORE allocation") {
    // header claims a 2 GiB unmasked binary frame; readFrame must throw on
    // the declared length without trying to allocate it
    val header = Array[Byte](0x82.toByte, 127, 0, 0, 0, 0, 0x7F, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    val in = new DataInputStream(new java.io.ByteArrayInputStream(header))
    val e = intercept[IllegalArgumentException](WsFrames.readFrame(in))
    assert(e.getMessage.contains("bad frame length"), e.getMessage)
  }

  test("a silent upgrade peer times out the handshake in EVERY ack mode") {
    val silent = new ServerSocket(0) // accepts, never answers
    try {
      val t0 = System.nanoTime()
      val e = intercept[Exception] {
        WsRelay.writeWsProto(df(1), "127.0.0.1", silent.getLocalPort,
          ackMode = "none", ackTimeoutMs = 1500)
      }
      val waitedMs = (System.nanoTime() - t0) / 1000000
      assert(failureChain(e).toLowerCase.contains("timed out"), failureChain(e))
      assert(waitedMs < 30000, s"hung ${waitedMs}ms — handshake not bounded")
    } finally silent.close()
  }

  test("oversized message: a frame past maxMessageBytes drops the connection and counts") {
    val relay = new WsRelayReceiver(spark, 0, maxMessageBytes = 256)
    try {
      val sock = new Socket("127.0.0.1", relay.boundPort)
      try {
        WsRelay.clientHandshake(sock, "127.0.0.1", "/relay")
        val out = sock.getOutputStream
        out.write(WsFrames.encode(WsFrames.OpBinary, new Array[Byte](1024),
          Some(Array[Byte](1, 1, 1, 1))))
        out.flush()
        eventually(relay.badFrameCount == 1, "oversize was not counted")
        assert(relay.receivedCount == 0)
      } finally sock.close()
    } finally relay.stop()
  }
}
