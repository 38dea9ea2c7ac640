package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** WebSocket edge adapters (S8 client / S10 server jack / K6 broadcast):
  * RFC 6455 codec known-answers and round-trips, then a full e2e in which
  * the JDK's independent WebSocket client implementation talks to our
  * hand-rolled server — each side's handshake, masking, and framing
  * validates the other's. */
class WebSocketSpec extends SparkSpec {

  private val schema = new StructType()
    .add("id", LongType).add("name", StringType)

  test("Sec-WebSocket-Accept matches the RFC 6455 worked example") {
    assert(WsFrames.acceptKey("dGhlIHNhbXBsZSBub25jZQ==") ==
      "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
  }

  test("frame codec round-trips across the 7/16/64-bit length encodings") {
    for {
      n <- Seq(0, 1, 125, 126, 200, 65535, 65536, 70000)
      mask <- Seq(None, Some(Array[Byte](1, 2, 3, 4)))
    } {
      val payload = Array.tabulate[Byte](n)(i => (i % 251).toByte)
      val bytes = WsFrames.encode(WsFrames.OpText, payload, mask)
      val f = WsFrames.readFrame(new DataInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      assert(f.fin && f.opcode == WsFrames.OpText, s"n=$n mask=${mask.isDefined}")
      assert(f.payload.toSeq == payload.toSeq, s"n=$n mask=${mask.isDefined}")
    }
  }

  test("a multi-byte UTF-8 character split across a fragmentation boundary survives") {
    val hub = new WsServerHub(spark, 0)
    try {
      val sock = new java.net.Socket("127.0.0.1", hub.boundPort)
      val out = new DataOutputStream(sock.getOutputStream)
      out.write(("GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n" +
        "Connection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n\r\n")
        .getBytes(UTF_8))
      out.flush()
      val in = new DataInputStream(sock.getInputStream)
      val resp = new StringBuilder
      while (!resp.endsWith("\r\n\r\n")) resp.append(in.read().toChar)
      // "a€b": the 3-byte € (E2 82 AC) split after its first byte —
      // RFC 6455 §5.4 allows any byte boundary; decode must wait for FIN
      val bytes = "a€b".getBytes(UTF_8)
      out.write(WsFrames.encode(WsFrames.OpText, bytes.take(2), Some(Array[Byte](1, 2, 3, 4)), fin = false))
      out.write(WsFrames.encode(0x0, bytes.drop(2), Some(Array[Byte](5, 6, 7, 8))))
      out.flush()
      val deadline = System.currentTimeMillis() + 10000
      while (hub.receivedCount < 1 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(hub.receivedCount == 1)
      val got = hub.raw.writeStream.format("memory").queryName("ws_frag")
        .outputMode("append").start()
      try {
        got.processAllAvailable()
        assert(spark.table("ws_frag").collect().map(_.getString(0)).toSeq == Seq("a€b"))
      } finally got.stop()
      sock.close()
    } finally hub.stop()
  }

  test("a negative 64-bit frame length is a protocol error, not a crash") {
    // 127-marker with the high bit set in the 8 length bytes
    val bad = Array[Byte](0x81.toByte, 127, 0x80.toByte, 0, 0, 0, 0, 0, 0, 1)
    val e = intercept[IllegalArgumentException] {
      WsFrames.readFrame(new DataInputStream(new java.io.ByteArrayInputStream(bad)))
    }
    assert(e.getMessage.contains("bad frame length"))
  }

  test("raw-socket peer: handshake key, masked 16-bit frame, ping->pong, close echo") {
    val hub = new WsServerHub(spark, 0)
    try {
      val sock = new java.net.Socket("127.0.0.1", hub.boundPort)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      out.write(("GET /jack HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n" +
        "Connection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
      out.flush()
      val resp = new StringBuilder
      while (!resp.endsWith("\r\n\r\n")) resp.append(in.read().toChar)
      assert(resp.startsWith("HTTP/1.1 101"), resp.result())
      assert(resp.toString.contains("Sec-WebSocket-Accept: s3pPLMBiTxaQ9kYGzzhZRbK+xOo="))
      // masked text frame long enough for the 16-bit length path
      val msg = ("{\"id\":7,\"name\":\"" + "x" * 180 + "\"}").getBytes(UTF_8)
      out.write(WsFrames.encode(WsFrames.OpText, msg, Some(Array[Byte](9, 8, 7, 6))))
      out.flush()
      // ping must come back as pong with the same payload
      out.write(WsFrames.encode(WsFrames.OpPing, "hb".getBytes(UTF_8), Some(Array[Byte](1, 1, 1, 1))))
      out.flush()
      val pong = WsFrames.readFrame(in)
      assert(pong.opcode == WsFrames.OpPong && new String(pong.payload, UTF_8) == "hb")
      // close is echoed, then the server drops the connection
      out.write(WsFrames.encode(WsFrames.OpClose, Array.emptyByteArray, Some(Array[Byte](2, 2, 2, 2))))
      out.flush()
      assert(WsFrames.readFrame(in).opcode == WsFrames.OpClose)
      sock.close()
      assert(hub.receivedCount == 1)
    } finally hub.stop()
  }

  /** A raw socket upgraded against `hub`, its 101 response consumed. */
  private def upgradedPeer(hub: WsServerHub): (java.net.Socket, DataInputStream, DataOutputStream) = {
    val sock = new java.net.Socket("127.0.0.1", hub.boundPort)
    val out = new DataOutputStream(sock.getOutputStream)
    val in = new DataInputStream(sock.getInputStream)
    out.write(("GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n" +
      "Connection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n\r\n")
      .getBytes(UTF_8))
    out.flush()
    val resp = new StringBuilder
    while (!resp.endsWith("\r\n\r\n")) resp.append(in.read().toChar)
    assert(resp.startsWith("HTTP/1.1 101"), resp.result())
    (sock, in, out)
  }

  /** True once the hub closed `sock` (EOF or reset) within 10 s. */
  private def droppedByHub(sock: java.net.Socket, in: DataInputStream): Boolean = {
    sock.setSoTimeout(10000)
    try { while (in.read() != -1) (); true }
    catch {
      case _: java.net.SocketTimeoutException => false
      case _: java.io.IOException => true
    }
  }

  private val peerMask = Some(Array[Byte](1, 2, 3, 4))

  test("a text frame inside an open fragmented message drops the peer and delivers nothing") {
    val hub = new WsServerHub(spark, 0)
    try {
      val (sock, in, out) = upgradedPeer(hub)
      try {
        out.write(WsFrames.encode(WsFrames.OpText, "{\"id\":1,".getBytes(UTF_8), peerMask, fin = false))
        out.write(WsFrames.encode(WsFrames.OpText, "\"name\":\"x\"}".getBytes(UTF_8), peerMask))
        out.flush()
        assert(droppedByHub(sock, in), "a new text frame inside an open message was accepted")
        assert(hub.receivedCount == 0)
      } finally sock.close()
    } finally hub.stop()
  }

  test("a continuation frame with no open message drops the peer and delivers nothing") {
    val hub = new WsServerHub(spark, 0)
    try {
      val (sock, in, out) = upgradedPeer(hub)
      try {
        out.write(WsFrames.encode(0x0, "{\"id\":1}".getBytes(UTF_8), peerMask))
        out.flush()
        assert(droppedByHub(sock, in), "an orphan continuation frame was accepted")
        assert(hub.receivedCount == 0)
      } finally sock.close()
    } finally hub.stop()
  }

  test("a fragmented binary message is skipped whole and the connection stays usable") {
    val hub = new WsServerHub(spark, 0)
    try {
      val (sock, in, out) = upgradedPeer(hub)
      try {
        out.write(WsFrames.encode(WsFrames.OpBinary, "bin-head".getBytes(UTF_8), peerMask, fin = false))
        out.write(WsFrames.encode(0x0, "bin-tail".getBytes(UTF_8), peerMask))
        out.write(WsFrames.encode(WsFrames.OpText, "{\"id\":2}".getBytes(UTF_8), peerMask))
        // the pong comes back only after every earlier frame was handled
        out.write(WsFrames.encode(WsFrames.OpPing, "sync".getBytes(UTF_8), peerMask))
        out.flush()
        val pong = WsFrames.readFrame(in)
        assert(pong.opcode == WsFrames.OpPong && new String(pong.payload, UTF_8) == "sync")
        assert(hub.receivedCount == 1, s"received ${hub.receivedCount} messages")
        val q = hub.raw.writeStream.format("memory").queryName("ws_bin_frag")
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          assert(spark.table("ws_bin_frag").collect().map(_.getString(0)).toSeq ==
            Seq("{\"id\":2}"))
        } finally q.stop()
      } finally sock.close()
    } finally hub.stop()
  }

  test("stop() closes peers that connected but never finished the upgrade (plain and TLS)") {
    import scala.jdk.CollectionConverters._
    val dir = "src/test/resources/tls"
    val tlsCfg = TlsConfig(s"$dir/server.pem", s"$dir/server-key.pem", s"$dir/ca.pem")
    for (tls <- Seq(None, Some(tlsCfg))) {
      val hub = new WsServerHub(spark, 0, tls = tls)
      val sock = new java.net.Socket("127.0.0.1", hub.boundPort)
      try {
        // silent peer: connects, sends nothing. The hub names each
        // connection thread after the peer's port.
        val connThread = s"graft-ws-conn-${sock.getLocalPort}"
        eventually(Thread.getAllStackTraces.keySet.asScala.exists(_.getName == connThread),
          s"hub never accepted the silent peer (tls=${tls.isDefined})")
        hub.stop()
        sock.setSoTimeout(5000)
        // a TLS listener may write a closing alert first: drain to EOF
        val outcome =
          try { while (sock.getInputStream.read() != -1) (); "eof" }
          catch {
            case _: java.net.SocketTimeoutException => "timeout"
            case _: java.io.IOException => "reset"
          }
        assert(outcome == "eof" || outcome == "reset",
          s"silent peer still open after stop() (tls=${tls.isDefined}): $outcome")
      } finally { sock.close(); hub.stop() }
    }
  }

  test("e2e: JDK client pushes into the jack; hub broadcast reaches the client source (S8+S10+K6)") {
    val hub = new WsServerHub(spark, 0)
    val client = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed")
    val ingress = hub.jsonStream(schema).writeStream
      .format("memory").queryName("ws_jack").outputMode("append").start()
    try {
      client.connect()
      // S10 ingress: the JDK client's masked frames through our decode
      (0 until 5).foreach(i => client.send(s"""{"id":$i,"name":"rec$i"}"""))
      eventually(hub.receivedCount == 5, "jack did not receive 5 messages")
      ingress.processAllAvailable()
      val rows = spark.table("ws_jack").collect()
      assert(rows.length == 5)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 5L))

      // K6 broadcast: our frames through the JDK client's decode,
      // flowing into the S8 client source's streaming buffer
      val egress = client.raw.toDF("value").writeStream
        .format("memory").queryName("ws_client").outputMode("append").start()
      try {
        assert(hub.connectionCount == 1)
        val sent = hub.broadcast(Seq("""{"id":100}""", """{"id":101}"""))
        assert(sent == 2, s"sent=$sent")
        eventually(client.receivedCount == 2, "client did not receive the broadcast")
        egress.processAllAvailable()
        val got = spark.table("ws_client").collect().map(_.getString(0)).sorted
        assert(got.toSeq == Seq("""{"id":100}""", """{"id":101}"""))
      } finally egress.stop()
    } finally {
      client.stop()
      ingress.stop()
      hub.stop()
    }
  }

  /** Kill a streaming query after ≥1 committed batch, restart it, and
    * assert ids 1..6 arrive exactly once — the FileStream kill contract
    * on a WS spool dir (shared shape with HttpServerJackSpec's r7 test). */
  private def killRestartExactlyOnce(mkStream: => org.apache.spark.sql.DataFrame,
                                     out: String, ckpt: String,
                                     expected: Seq[Long] = (1L to 6L)): Unit = {
    def startQuery() = mkStream.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      .start()
    val q1 = startQuery()
    val deadline = System.currentTimeMillis() + 30000
    while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
    q1.stop()
    assert(q1.recentProgress.map(_.numInputRows).sum >= 1,
      "query never committed a batch before the kill")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSeq
    assert(rows.sorted == expected,
      s"expected ids ${expected.head}..${expected.last} exactly once, got ${rows.sorted}")
  }

  private def assertSpooled(spool: String, n: Int): Unit = {
    val files = new java.io.File(spool).listFiles().map(_.getName)
    assert(files.count(_.endsWith(".ndjson")) == n, files.toSeq)
    assert(!files.exists(_.endsWith(".tmp")), s"leftover temp files: ${files.toSeq}")
  }

  test("hub spool mode: messages received before a kill survive the restart exactly once") {
    val root = java.nio.file.Files.createTempDirectory("graft-ws-spool").toString
    val spool = s"$root/spool"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val hub = new WsServerHub(spark, 0, spoolDir = Some(spool),
      spoolMaxFilesPerTrigger = Some(1))
    val client = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed")
    try {
      // receipt is durable with NO consumer running: each completed text
      // message is an atomically-renamed NDJSON file before it's counted
      client.connect()
      (1 to 6).foreach(i => client.send(s"""{"id":$i,"name":"rec$i"}"""))
      eventually(hub.receivedCount == 6, "hub did not spool 6 messages")
      assertSpooled(spool, 6)
      killRestartExactlyOnce(hub.jsonStream(schema), out, ckpt)
    } finally { client.stop(); hub.stop() }
  }

  test("client-source spool mode: broadcast frames received before a kill survive the restart exactly once") {
    val root = java.nio.file.Files.createTempDirectory("graft-wsc-spool").toString
    val spool = s"$root/spool"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val hub = new WsServerHub(spark, 0)
    val client = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed",
      spoolDir = Some(spool), spoolMaxFilesPerTrigger = Some(1))
    try {
      client.connect()
      eventually(hub.connectionCount == 1, "client not connected")
      val sent = hub.broadcast((1 to 6).map(i => s"""{"id":$i,"name":"push$i"}"""))
      assert(sent == 6, s"sent=$sent")
      eventually(client.receivedCount == 6, "client did not spool 6 messages")
      assertSpooled(spool, 6)
      killRestartExactlyOnce(client.jsonStream(schema), out, ckpt)
    } finally { client.stop(); hub.stop() }
  }

  test("spool SEGMENT mode (group commit): many messages land per segment " +
    "file and are counted received only at the flush — the amortized form " +
    "(Spool.SegmentWriter); a killed-and-restarted consumer still sees " +
    "every counted message exactly once") {
    val root = java.nio.file.Files.createTempDirectory("graft-ws-seg").toString
    val spool = s"$root/spool"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val hub = new WsServerHub(spark, 0, spoolDir = Some(spool),
      spoolMaxFilesPerTrigger = Some(1),
      spoolSegment = Some(Spool.SegmentPolicy(maxRecords = 64, maxDelayMillis = 5)))
    val client = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed")
    try {
      client.connect()
      val n = 300
      (1 to n).foreach(i => client.send(s"""{"id":$i,"name":"seg$i"}"""))
      eventually(hub.receivedCount == n,
        s"segment spool counted ${hub.receivedCount} of $n", timeoutMs = 20000)
      val files = new java.io.File(spool).listFiles().map(_.getName)
      assert(!files.exists(_.endsWith(".tmp")), s"leftover temp files: ${files.toSeq}")
      val segs = files.count(_.endsWith(".ndjson"))
      // group commit must actually amortize: at ~140 renames/s a flush
      // takes several sendText round-trips, so segments gather well
      // below one-file-per-record (the exact count is timing-dependent)
      assert(segs < n / 2, s"group commit never amortized: $segs files for $n messages")
      killRestartExactlyOnce(hub.jsonStream(schema), out, ckpt, (1L to n))
    } finally { client.stop(); hub.stop() }
  }

  test("supervised client reconnect: the SERVER dies mid-stream, the client " +
    "re-dials via the CB-gated supervisor and resumes spooling — every " +
    "RECEIVED frame lands exactly once (frames pushed while down are lost " +
    "by design: push transport, no replay — the documented gap window)") {
    val root = java.nio.file.Files.createTempDirectory("graft-wsc-reconn").toString
    val spool = s"$root/spool"
    val hub1 = new WsServerHub(spark, 0)
    val port = hub1.boundPort
    val client = new WsClientSource(spark, s"ws://127.0.0.1:$port/feed",
      spoolDir = Some(spool))
    // connection churn must be visible on the meter surface (the
    // reference sensor's component events to meters), not only on the
    // component's own accessors
    val meter = new graft.streaming.MeterListener()
    client.registerMeters(meter)
    try {
      client.connect()
      val breaker = new graft.reliability.CircuitBreaker(100, 60000)
      client.superviseReconnect(breaker, maxReconnects = 50,
        tickMs = 20, backoffMs = 20)
      eventually(hub1.connectionCount == 1, "client not connected")
      assert(hub1.broadcast((1 to 4).map(i => s"""{"id":$i,"name":"pre$i"}""")) == 4)
      eventually(client.receivedCount == 4, "pre-kill frames not received")
      // the server dies mid-stream: the client's listener observes the
      // drop (onError for an abrupt TCP close) and the supervisor takes
      // over. The gap between death and re-dial success is the honest
      // loss window — there is no hub to push to here, and a real peer's
      // pushes in that window would be gone (push transport, no replay).
      hub1.stop()
      eventually(client.closeReason.isDefined || client.reconnectCount > 0,
        "server death not observed by the client listener")
      // a NEW server process comes up on the same address; the supervisor
      // must land the re-dial without any help from the test
      val hub2 = new WsServerHub(spark, port)
      try {
        eventually(client.reconnectCount >= 1 && hub2.connectionCount == 1,
          s"client did not re-dial the restarted server " +
            s"(reconnects=${client.reconnectCount}, close=${client.closeReason})",
          timeoutMs = 20000)
        assert(hub2.broadcast((5 to 8).map(i => s"""{"id":$i,"name":"post$i"}""")) == 4)
        eventually(client.receivedCount == 8, "post-reconnect frames not received")
        // the successful re-dial cleared the drop reason: a healthy
        // connection must not keep reporting the LAST failure forever
        // (a stale signal for anything monitoring closeReason)
        assert(client.closeReason.isEmpty,
          s"stale closeReason after a successful re-dial: ${client.closeReason}")
        // the churn counters flow through the meter registry, live
        assert(meter.count("ws_client.drops") >= 1 &&
          meter.count("ws_client.drops") == client.dropCount,
          s"drops not on the meter: ${meter.count("ws_client.drops")}")
        assert(meter.count("ws_client.reconnects") == client.reconnectCount)
        assert(meter.count("ws_client.received") == 8)
        // exactly once across the whole life: 4 pre-kill + 4 post-reconnect
        assertSpooled(spool, 8)
        val ids = spark.read.schema(schema).json(spool)
          .collect().map(_.getAs[Long]("id")).toSeq
        assert(ids.sorted == (1L to 8L),
          s"received frames must survive the reconnect exactly once: $ids")
      } finally hub2.stop()
    } finally client.stop()
  }

  test("a FAILED dial records its own closeReason: an outage spent in " +
    "failed re-dials must not read as healthy (None) just because " +
    "connect() cleared the previous drop's reason up front") {
    val sock = new java.net.ServerSocket(0)
    val deadPort = sock.getLocalPort
    sock.close() // nothing listens here any more
    val c = new WsClientSource(spark, s"ws://127.0.0.1:$deadPort/feed")
    intercept[Exception](c.connect(2000))
    assert(c.closeReason.exists(_.startsWith("dial failed")),
      s"closeReason after a failed dial: ${c.closeReason}")
  }

  test("spool mode normalizes each message to ONE compact JSON line: a " +
    "pretty-printed (embedded-newline) message is one row downstream, " +
    "and a non-JSON message drops the peer instead of corrupting the spool") {
    val root = java.nio.file.Files.createTempDirectory("graft-ws-norm").toString
    val spool = s"$root/spool"
    val hub = new WsServerHub(spark, 0, spoolDir = Some(spool))
    val client = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed")
    try {
      client.connect()
      // embedded newlines: the line-oriented file source would split a
      // raw write into 3 rows; the compact re-render keeps it ONE record
      client.send("{\n  \"id\": 1,\n  \"name\": \"pretty\"\n}")
      eventually(hub.receivedCount == 1, "pretty message not spooled")
      assertSpooled(spool, 1)
      val q = hub.jsonStream(schema).writeStream
        .format("memory").queryName("ws_norm").outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("ws_norm").collect()
        assert(rows.length === 1, s"message split into ${rows.length} rows")
        assert(rows.head.getAs[Long]("id") === 1L &&
          rows.head.getAs[String]("name") === "pretty")
      } finally q.stop()
      // a non-JSON message cannot be spooled line-safely: the peer is
      // dropped loudly, nothing lands, nothing is counted
      client.send("not json at all")
      eventually(hub.connectionCount == 0, "hostile peer not dropped")
      assert(hub.receivedCount === 1)
      assertSpooled(spool, 1)
    } finally { client.stop(); hub.stop() }
  }

  test("upgrade-time auth: a bearer-validated hub answers 401 (not 101) " +
    "to a missing/bad token and admits the valid one; soft mode counts " +
    "instead of refusing") {
    val hub = new WsServerHub(spark, 0,
      validator = Some(t => if (t == "ws-token") Right(()) else Left("bad")))
    try {
      // no token: the JDK client surfaces the non-101 as a failed dial
      val bare = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed")
      intercept[java.util.concurrent.CompletionException](bare.connect())
      // wrong token: same refusal, counted
      val bad = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed",
        headers = Map("Authorization" -> "Bearer nope"))
      intercept[java.util.concurrent.CompletionException](bad.connect())
      eventually(hub.rejectedCount == 2, s"rejected=${hub.rejectedCount}")
      assert(hub.connectionCount === 0)
      // valid bearer upgrades and flows
      val ok = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed",
        headers = Map("Authorization" -> "Bearer ws-token"))
      try {
        ok.connect()
        ok.send("""{"id":1,"name":"authed"}""")
        eventually(hub.receivedCount == 1, "authed message not ingested")
      } finally ok.stop()
    } finally hub.stop()
    // soft mode: the failure is counted, the peer still admitted
    val soft = new WsServerHub(spark, 0, authRequired = false,
      validator = Some(_ => Left("always")))
    try {
      val c = new WsClientSource(spark, s"ws://127.0.0.1:${soft.boundPort}/feed")
      try {
        c.connect()
        c.send("""{"id":2,"name":"soft"}""")
        eventually(soft.receivedCount == 1, "soft-mode message not ingested")
        assert(soft.softFailureCount >= 1 && soft.rejectedCount === 0)
      } finally c.stop()
    } finally soft.stop()
  }

  test("wss e2e: the hub terminates TLS; a CA-trusting client flows, an " +
    "untrusting client fails the handshake; mTLS enforces the principal " +
    "policy, not just CA validity") {
    val dir = "src/test/resources/tls"
    val serverCfg = TlsConfig(s"$dir/server.pem", s"$dir/server-key.pem", s"$dir/ca.pem")
    val clientCfg = TlsConfig(s"$dir/client.pem", s"$dir/client-key.pem", s"$dir/ca.pem")
    val hub = new WsServerHub(spark, 0, tls = Some(serverCfg))
    try {
      val ok = new WsClientSource(spark, s"wss://127.0.0.1:${hub.boundPort}/feed",
        tls = Some(clientCfg))
      try {
        ok.connect()
        ok.send("""{"id":1,"name":"sec"}""")
        eventually(hub.receivedCount == 1, "TLS message not ingested")
      } finally ok.stop()
      // default trust refuses the self-signed hub
      val untrusting = new WsClientSource(spark, s"wss://127.0.0.1:${hub.boundPort}/feed")
      intercept[java.util.concurrent.CompletionException](untrusting.connect())
    } finally hub.stop()
    // mTLS: the client's CA-valid certificate passes the handshake, but
    // the PRINCIPAL policy decides the upgrade — allowed flows, unlisted 401
    def hubWith(m: MtlsOptions) = new WsServerHub(spark, 0,
      tls = Some(serverCfg), mtls = Some(m))
    val allow = hubWith(MtlsOptions(Seq("spiffe://graft.test/relay-client"), "graft.test"))
    try {
      val c = new WsClientSource(spark, s"wss://127.0.0.1:${allow.boundPort}/feed",
        tls = Some(clientCfg))
      try {
        c.connect()
        c.send("""{"id":2,"name":"mtls"}""")
        eventually(allow.receivedCount == 1, "mTLS message not ingested")
      } finally c.stop()
    } finally allow.stop()
    val deny = hubWith(MtlsOptions(Seq("spiffe://graft.test/other"), "graft.test"))
    try {
      val c = new WsClientSource(spark, s"wss://127.0.0.1:${deny.boundPort}/feed",
        tls = Some(clientCfg))
      intercept[java.util.concurrent.CompletionException](c.connect())
      eventually(deny.rejectedCount == 1, s"rejected=${deny.rejectedCount}")
      assert(deny.receivedCount === 0)
    } finally deny.stop()
    // half-configured security fails fast
    intercept[IllegalArgumentException](
      new WsServerHub(spark, 0, mtls = Some(MtlsOptions())))
  }

}
