package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** S12 NATS relay transport — the reference's NATS forward/receiving relay
  * (`/root/reference/pkg/internal/natsrelay/forward.go:97-133`: proto-marshal
  * the WrappedPayload, `Conn.Publish(subject, bytes)`;
  * `receiving.go:74-143`: `Subscribe`/`QueueSubscribe` then proto-unmarshal +
  * unwrap) re-expressed with the engine's [[RelayProto]] envelope codec over
  * a from-scratch implementation of the PUBLIC NATS client wire protocol
  * (docs.nats.io, "Client Protocol"): `INFO`/`CONNECT` handshake,
  * `PUB <subject> [reply] <#bytes>␍␊payload␍␊`,
  * `SUB <subject> [queue] <sid>␍␊`, server `MSG` delivery frames, and the
  * `PING`/`PONG` keepalive-and-flush barrier. No NATS client library exists
  * on this classpath; the protocol is line-oriented and small enough that
  * speaking it directly is the honest port.
  *
  * Delivery contract (same as NATS core): at-most-once past the server —
  * the writer's end-of-partition [[NatsConnection.flush]] (PING barrier)
  * proves the server RECEIVED every publish, and Spark task retry makes the
  * edge per-partition at-least-once to the server, but a subscriber that
  * is down misses messages (no JetStream persistence here, matching the
  * reference's core-NATS relay). Queue groups load-balance a subject across
  * receivers; plain subscriptions fan out copies.
  */
object NatsProto {

  /** Max control-line length we will read (NATS servers default ~4 KiB). */
  val MaxControlLine: Int = 4096

  // --- subject validation + matching (public subject grammar) -------------

  /** A publish subject: dot-separated non-empty tokens, no whitespace, no
    * wildcards (`*`/`>` are subscribe-side only). */
  def validateSubject(s: String): Unit = {
    validateTokens(s)
    require(!s.split('.').exists(t => t == "*" || t == ">"),
      s"publish subject '$s' may not contain wildcards")
  }

  /** A subscription subject: wildcards allowed — `*` matches exactly one
    * token, `>` matches one-or-more trailing tokens and must be last. */
  def validateSubscribeSubject(s: String): Unit = {
    validateTokens(s)
    val toks = s.split('.')
    toks.zipWithIndex.foreach { case (t, i) =>
      require(t != ">" || i == toks.length - 1,
        s"subscription subject '$s': '>' is only valid as the last token")
    }
  }

  private def validateTokens(s: String): Unit = {
    require(s.nonEmpty, "subject must be non-empty")
    require(!s.exists(c => c.isWhitespace || c == '\r' || c == '\n'),
      s"subject '$s' contains whitespace")
    require(!s.startsWith(".") && !s.endsWith(".") && !s.contains(".."),
      s"subject '$s' has an empty token")
  }

  /** Subject-to-pattern match per the public wildcard rules:
    * `foo.*` matches `foo.bar` but not `foo.bar.baz`; `foo.>` matches
    * both; `>` alone matches every subject. Patterns must already be
    * validated. */
  def subjectMatches(pattern: String, subject: String): Boolean = {
    val p = pattern.split('.')
    val s = subject.split('.')
    var i = 0
    while (i < p.length) {
      if (p(i) == ">") return s.length > i // 1+ remaining tokens
      if (i >= s.length) return false
      if (p(i) != "*" && p(i) != s(i)) return false
      i += 1
    }
    p.length == s.length
  }

  // --- control-line codec --------------------------------------------------

  /** CONNECT line. Field set per the public protocol; `verbose=false`
    * suppresses per-command `+OK` (the common client default). */
  def connectLine(name: String, verbose: Boolean = false): Array[Byte] = {
    require(!name.exists(c => c == '"' || c == '\\' || c.isControl),
      s"connection name '$name' needs no escaping by contract")
    (s"""CONNECT {"verbose":$verbose,"pedantic":false,"tls_required":false,""" +
      s""""name":"$name","lang":"scala","version":"1.0.0","protocol":1}\r\n""").getBytes(US_ASCII)
  }

  def pubFrame(subject: String, payload: Array[Byte],
               replyTo: Option[String] = None): Array[Byte] = {
    validateSubject(subject)
    replyTo.foreach(validateSubject)
    val header = replyTo match {
      case Some(r) => s"PUB $subject $r ${payload.length}\r\n"
      case None    => s"PUB $subject ${payload.length}\r\n"
    }
    val h = header.getBytes(US_ASCII)
    val out = new Array[Byte](h.length + payload.length + 2)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(payload, 0, out, h.length, payload.length)
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  def subLine(subject: String, queue: Option[String], sid: Long): Array[Byte] = {
    validateSubscribeSubject(subject)
    queue.foreach(q => require(q.nonEmpty && !q.exists(_.isWhitespace),
      s"queue group '$q' must be a non-empty bare token"))
    (queue match {
      case Some(q) => s"SUB $subject $q $sid\r\n"
      case None    => s"SUB $subject $sid\r\n"
    }).getBytes(US_ASCII)
  }

  def unsubLine(sid: Long, maxMsgs: Option[Int] = None): Array[Byte] =
    (maxMsgs match {
      case Some(n) => s"UNSUB $sid $n\r\n"
      case None    => s"UNSUB $sid\r\n"
    }).getBytes(US_ASCII)

  val Ping: Array[Byte] = "PING\r\n".getBytes(US_ASCII)
  val Pong: Array[Byte] = "PONG\r\n".getBytes(US_ASCII)

  /** Server `MSG` header: `MSG <subject> <sid> [reply-to] <#bytes>`. */
  final case class MsgHeader(subject: String, sid: Long,
                             replyTo: Option[String], numBytes: Int)

  def parseMsgHeader(line: String): MsgHeader = {
    val parts = line.split(' ').filter(_.nonEmpty)
    require(parts.length == 4 || parts.length == 5, s"bad MSG header: '$line'")
    require(parts(0) == "MSG", s"not a MSG header: '$line'")
    val n = parts.last.toInt
    require(n >= 0, s"negative payload length in '$line'")
    MsgHeader(parts(1), parts(2).toLong,
      if (parts.length == 5) Some(parts(3)) else None, n)
  }

  /** Server `MSG` delivery frame (server→client direction of [[pubFrame]]). */
  def msgFrame(subject: String, sid: Long, payload: Array[Byte],
               replyTo: Option[String] = None): Array[Byte] = {
    val header = replyTo match {
      case Some(r) => s"MSG $subject $sid $r ${payload.length}\r\n"
      case None    => s"MSG $subject $sid ${payload.length}\r\n"
    }
    val h = header.getBytes(US_ASCII)
    val out = new Array[Byte](h.length + payload.length + 2)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(payload, 0, out, h.length, payload.length)
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Read one CRLF-terminated control line as ASCII (payload bytes are
    * read separately with readFully — a Reader would eat them). Returns
    * None at clean EOF before any byte; a line truncated mid-way is an
    * error. Bare '\n' is tolerated (some servers are lax); the cap guards
    * a hostile peer streaming an unterminated line. */
  def readControlLine(in: DataInputStream, max: Int = MaxControlLine): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(64)
    var b = in.read()
    if (b < 0) return None
    while (b != '\n') {
      if (b != '\r') buf.write(b)
      require(buf.size <= max, s"control line exceeds $max bytes")
      b = in.read()
      if (b < 0) throw new EOFException("stream truncated mid control line")
    }
    Some(new String(buf.toByteArray, US_ASCII))
  }

  /** Extract `max_payload` from an INFO json line (crude but sufficient:
    * the field is a bare integer in every real server's INFO). */
  def maxPayloadOf(infoJson: String, default: Int = 1 << 20): Int = {
    val m = java.util.regex.Pattern.compile("\"max_payload\"\\s*:\\s*(\\d+)")
      .matcher(infoJson)
    if (m.find()) m.group(1).toLong.min(Int.MaxValue).toInt else default
  }
}

/** One blocking NATS client connection: INFO/CONNECT handshake, a reader
  * thread dispatching MSG frames to subscription callbacks and answering
  * server PINGs, and a PING/PONG [[flush]] barrier. Writes are
  * synchronized — publish is safe from multiple threads. Not a pool: the
  * relay writers open one connection per partition task, the receiving
  * relay holds one for its subscriptions. */
final class NatsConnection(host: String, port: Int,
                           name: String = "graft",
                           handshakeTimeoutMs: Int = 30000) extends AutoCloseable {

  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  // bounded only while we owe the server nothing: a server that never
  // sends INFO must not hang the constructor. Cleared after the
  // handshake — an idle subscription blocks in read() indefinitely by
  // design (flush() carries its own latch timeout).
  sock.setSoTimeout(handshakeTimeoutMs)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val running = new AtomicBoolean(true)
  private val sids = new AtomicLong(0)
  private val subs = new ConcurrentHashMap[Long, (String, Option[String], Array[Byte]) => Unit]()
  private val pingWaiters = new ConcurrentLinkedQueue[CountDownLatch]()
  private val err = new AtomicReference[String](null)
  private val dead = new CountDownLatch(1)

  private def send(bytes: Array[Byte]): Unit = out.synchronized {
    if (!running.get()) throw new IOException(
      s"NATS connection closed${Option(err.get()).fold("")(e => s" ($e)")}")
    out.write(bytes)
    out.flush()
  }

  /** Server-declared max_payload from INFO — publishes above it are
    * refused locally (the server would `-ERR` and drop us). A handshake
    * failure (no INFO, timeout, write error) must not leak the connected
    * socket: there is no reader thread yet to clean up after us. */
  val maxPayload: Int =
    try {
      val info = NatsProto.readControlLine(in).getOrElse(
        throw new IOException("connection closed before INFO"))
      require(info.startsWith("INFO "), s"expected INFO, got: $info")
      val mp = NatsProto.maxPayloadOf(info.substring(5))
      send(NatsProto.connectLine(name))
      sock.setSoTimeout(0)
      mp
    } catch {
      case e: Throwable =>
        running.set(false)
        try sock.close() catch { case _: Throwable => () }
        throw e
    }

  private val reader = new Thread(() => {
    try {
      var more = true
      while (more && running.get()) {
        NatsProto.readControlLine(in) match {
          case None => more = false
          case Some(line) =>
            if (line.startsWith("MSG ")) {
              val h = NatsProto.parseMsgHeader(line)
              val payload = new Array[Byte](h.numBytes)
              in.readFully(payload)
              val crlf = new Array[Byte](2)
              in.readFully(crlf) // trailing ␍␊ after the payload
              val cb = subs.get(h.sid)
              // an UNSUB racing a delivery is benign: drop silently
              if (cb != null)
                try cb(h.subject, h.replyTo, payload)
                catch { case _: Throwable => () } // callback errors don't kill the pump
            } else if (line == "PING") {
              send(NatsProto.Pong)
            } else if (line == "PONG") {
              val w = pingWaiters.poll()
              if (w != null) w.countDown()
            } else if (line.startsWith("-ERR")) {
              err.compareAndSet(null, line.stripPrefix("-ERR").trim)
              // fatal errors close from the server side; the loop exits on EOF
            } else if (line.startsWith("INFO") || line == "+OK") {
              () // async INFO updates and verbose acks are informational
            } else {
              err.compareAndSet(null, s"unparseable server line: $line")
              more = false
            }
        }
      }
    } catch {
      case _: Throwable if !running.get() => () // our own close()
      case e: Throwable => err.compareAndSet(null, String.valueOf(e.getMessage))
    } finally {
      running.set(false)
      // wake every flusher: the barrier will never complete now
      var w = pingWaiters.poll()
      while (w != null) { w.countDown(); w = pingWaiters.poll() }
      dead.countDown()
    }
  }, s"graft-nats-reader-$host:$port")
  reader.setDaemon(true)
  reader.start()

  def lastError: Option[String] = Option(err.get())

  def publish(subject: String, payload: Array[Byte],
              replyTo: Option[String] = None): Unit = {
    require(payload.length <= maxPayload,
      s"payload of ${payload.length} bytes exceeds the server's max_payload " +
        s"$maxPayload — the server would reject it and drop this connection")
    send(NatsProto.pubFrame(subject, payload, replyTo))
  }

  /** Subscribe; the callback runs on the reader thread — keep it fast and
    * never let it block on this connection's own flush. */
  def subscribe(subject: String, queue: Option[String] = None)
               (cb: (String, Option[String], Array[Byte]) => Unit): Long = {
    val sid = sids.incrementAndGet()
    subs.put(sid, cb)
    send(NatsProto.subLine(subject, queue, sid))
    sid
  }

  def unsubscribe(sid: Long): Unit = {
    subs.remove(sid)
    send(NatsProto.unsubLine(sid))
  }

  /** PING/PONG round trip: when it returns, the server has processed every
    * command written before it (the NATS flush idiom). Throws on timeout,
    * on a dead connection, AND on any `-ERR` the server sent — real
    * servers keep the connection open for some errors (e.g. a publish
    * permission violation) while silently discarding the messages, so a
    * lingering error must fail the barrier even though the PONG arrived. */
  def flush(timeoutMs: Long = 30000): Unit = {
    val latch = new CountDownLatch(1)
    // Enqueue + PING under the writer lock, and REMOVE the latch if the
    // write throws: waiters are matched to PINGs purely by queue order, so
    // (a) enqueue order must equal PING write order (hence the shared lock,
    // not enqueue-after-send), and (b) a stale waiter from a failed send
    // would consume the PONG belonging to the NEXT flush on this
    // connection, timing that flush out spuriously.
    out.synchronized {
      pingWaiters.add(latch)
      try send(NatsProto.Ping)
      catch { case t: Throwable => pingWaiters.remove(latch); throw t }
    }
    if (!latch.await(timeoutMs, TimeUnit.MILLISECONDS))
      throw new IOException(s"flush timed out after ${timeoutMs}ms")
    if (!running.get())
      throw new IOException(
        s"NATS connection died during flush${lastError.fold("")(e => s": $e")}")
    lastError.foreach(e => throw new IOException(s"NATS server error: $e"))
  }

  override def close(): Unit = {
    running.set(false)
    try sock.close() catch { case _: Throwable => () }
    dead.await(2, TimeUnit.SECONDS)
  }
}

object NatsRelay {

  /** NATS forward relay (K5 over S12-NATS): per partition, one connection;
    * each [[RelayWriter.sealedChunks]] payload (the socket proto writer's
    * envelope) is published to `subject`. The partition ends with a
    * [[NatsConnection.flush]] barrier — the NATS equivalent of the socket
    * writer's batch ack: the server has accepted every publish, and any
    * `-ERR` (payload cap, bad subject) fails the task instead of
    * vanishing. */
  def writeNats(df: DataFrame, host: String, port: Int, subject: String,
                compression: Int = graft.functions.Codecs.CompressNone,
                key: Option[Array[Byte]] = None,
                maxChunkBytes: Int = 1 << 19,
                flushTimeoutMs: Long = 30000): Unit = {
    NatsProto.validateSubject(subject)
    RelayWriter.requireSeal(compression, key, maxChunkBytes)
    RelayWriter.foreachConnection(df, RelayWriter.nats(host, port)) { (conn, it) =>
      RelayWriter.sealedChunks(it, maxChunkBytes, compression, key)
        .foreach(wp => conn.publish(subject, RelayProto.encode(wp)))
      conn.flush(flushTimeoutMs)
    }
  }
}

/** S12 NATS receiving relay: subscribe to `subject` (optionally in a queue
  * group — NATS's load-balancing: each message goes to ONE member; omit it
  * and every subscriber gets a copy), proto-decode each message as a
  * WrappedPayload, unwrap per its declared sealing, split the NDJSON batch
  * and feed a streaming source buffer — the reference's `onMsg` loop
  * (`natsrelay/receiving.go:126-143`) with an [[Ingress]] in place of the
  * output submitters. A message that fails the GCM tag or proto decode
  * counts in [[badMessageCount]] WITHOUT dropping the subscription (NATS
  * delivery is per-message; there is no connection-poisoning frame stream
  * like the socket edge). Restart contract: [[Ingress]]'s memory mode,
  * and core NATS does not replay — this edge is monitoring/live-feed
  * grade. */
final class NatsReceivingRelay(spark: SparkSession, host: String, port: Int,
                               subject: String,
                               queue: Option[String] = None,
                               key: Option[Array[Byte]] = None,
                               maxInflatedBytes: Int = SealedRelay.DefaultMaxInflatedBytes) {
  NatsProto.validateSubscribeSubject(subject)
  RelayProto.requireKey(key)

  private val ingress = new Ingress(spark)
  private val badMessages = new AtomicLong(0)

  private val conn = new NatsConnection(host, port,
    name = s"graft-receiver-$subject")
  private val sid = conn.subscribe(subject, queue) { (_, _, payload) =>
    try {
      val body = RelayProto.unwrap(RelayProto.decode(payload), key, maxInflatedBytes)
      ingress.feed(body)
    } catch {
      case _: Throwable => badMessages.incrementAndGet()
    }
  }

  /** Raw ingress stream (one string per received record). */
  def raw: Dataset[String] = ingress.raw

  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  def receivedCount: Long = ingress.receivedCount
  def badMessageCount: Long = badMessages.get()
  def lastError: Option[String] = conn.lastError

  def stop(): Unit = {
    try conn.unsubscribe(sid) catch { case _: Throwable => () }
    conn.close()
  }
}
