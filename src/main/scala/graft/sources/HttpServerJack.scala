package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsParameters, HttpsServer}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** S9 HTTP server jack with real HTTP/1.1 framing — the reference's
  * `httpServerAdapter.Serve` request loop
  * (`jack/httpserver/serve.go:30-128`) on the JDK's built-in
  * `com.sun.net.httpserver` (no new dependencies), feeding a streaming
  * source buffer:
  *
  *  - one configured `method` + `endpoint`; any other path is 404, any
  *    other method 405 — Go's exact-match `ServeMux` semantics (the JDK
  *    server prefix-matches contexts, so the handler re-checks the path).
  *  - request authorization is the EXISTING policy stack
  *    ([[Auth.authorize]]: static headers, then the bearer validator —
  *    e.g. an [[IntrospectionValidator]]); failures are 401 when
  *    `authRequired`, soft-PASS with the reason counted when not
  *    (`serve.go:137-148`, `auth_policy.go:12-47`).
  *  - the body is ONE JSON record per request (`decode.go:9-15`); a
  *    parse failure is a 400 ("Error parsing request", `serve.go:150-155`).
  *    Accepted records are re-rendered compact (a pretty-printed body
  *    must not smuggle newlines into the NDJSON stream buffer).
  *  - the response carries the configured static headers and status
  *    (`serve.go:176-193` with the submit response defaulted).
  *  - optional TLS via the existing [[TlsConfig]] loader; `mtls` set ⇒
  *    client certificates are required, verified against the CA at the
  *    handshake, and the presented principal is authorized against the
  *    [[MtlsOptions]] policy per request ([[Tls.authorizeSession]] —
  *    the same allowed-principals/trust-domain fence as the socket
  *    jack; a CA-valid but unlisted principal gets a 401).
  *
  * Driver-ingress like the reference's single listener; control-plane
  * sized — high-volume edges stay Kafka/files (SURVEY §2.1).
  *
  * Restart contract: [[Ingress]]'s, selected by `spoolDir` and
  * `spoolSegment`. Every mode answers the 2xx only once the record is
  * durable in its buffer ([[Ingress.offerAcked]]; segment mode is
  * BLOCKING group commit here, so concurrent requests share one
  * hsync+rename — size `poolThreads` to the expected in-flight requests,
  * since the batch can never exceed the pool). The peer side stays
  * at-least-once: a crash between the durable write and the response
  * makes the peer retry an already-spooled record — dedupe downstream
  * (A7) if double-submits matter. HttpServerJackSpec kills and restarts
  * the query mid-backlog; reclaim processed spool files with
  * [[Spool.retire]].
  */
final class HttpServerJack(
    spark: SparkSession,
    port: Int,
    endpoint: String = "/ingest",
    method: String = "POST",
    staticHeaders: Map[String, String] = Map.empty,
    validator: Option[String => Either[String, Unit]] = None,
    authRequired: Boolean = true,
    responseHeaders: Map[String, String] = Map.empty,
    responseStatus: Int = 200,
    tls: Option[TlsConfig] = None,
    mtls: Option[MtlsOptions] = None,
    maxBodyBytes: Int = 4 << 20,
    spoolDir: Option[String] = None,
    spoolMaxFilesPerTrigger: Option[Int] = None,
    spoolSegment: Option[Spool.SegmentPolicy] = None,
    poolThreads: Int = 4) {

  require(endpoint.startsWith("/"), s"endpoint must start with '/': $endpoint")
  require(maxBodyBytes > 0, s"maxBodyBytes must be positive: $maxBodyBytes")
  require(poolThreads > 0, s"poolThreads must be positive: $poolThreads")
  // half-configured security must fail fast, not silently downgrade
  // (same rule as SealedRelay.validate's key/flag lockstep)
  require(tls.isDefined || mtls.isEmpty, "mtls requires a TlsConfig (tls = Some(...))")

  private val ingress = new Ingress(spark, spoolDir, spoolMaxFilesPerTrigger, spoolSegment)
  private val rejected = new AtomicLong(0)
  private val badRequests = new AtomicLong(0)
  private val softFailures = new AtomicLong(0)

  // a small pool, not the calling thread: the reference's net/http serves
  // each request on its own goroutine; a control-plane jack needs just
  // enough parallelism to not head-of-line-block health checks behind a
  // slow introspection round-trip
  private val pool = Executors.newFixedThreadPool(poolThreads, r => {
    val t = new Thread(r, "graft-http-jack"); t.setDaemon(true); t
  })

  private val server: HttpServer = tls match {
    case Some(cfg) =>
      val s = HttpsServer.create(new InetSocketAddress(port), 0)
      val ctx = Tls.sslContext(cfg)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx) {
        override def configure(params: HttpsParameters): Unit = {
          val p = ctx.getDefaultSSLParameters
          p.setProtocols(Tls.protocolRange(cfg))
          if (mtls.isDefined) p.setNeedClientAuth(true)
          params.setSSLParameters(p)
        }
      })
      s
    case None => HttpServer.create(new InetSocketAddress(port), 0)
  }

  server.createContext("/", (exchange: HttpExchange) => handle(exchange))
  server.setExecutor(pool)
  server.start()

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, status: Int, body: String,
                      headers: Map[String, String] = Map.empty): Unit = {
    val bytes = body.getBytes(UTF_8)
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    try {
      // the JDK server prefix-matches its contexts; the reference's mux
      // serves exactly cfg.endpoint — re-check for parity
      if (ex.getRequestURI.getPath != endpoint) {
        respond(ex, 404, "Not Found"); return
      }
      if (ex.getRequestMethod != method) {
        respond(ex, 405, "Method Not Allowed"); return
      }
      // mTLS principal policy BEFORE the header policy: the handshake
      // proved CA validity, but a CA-valid-yet-unlisted principal (or the
      // server's own cert replayed) must not reach the ingest path.
      // Plain if, not mtls.foreach { ... return }: a non-local return
      // from a lambda is a control-flow THROW, which the outer
      // catch-everything would intercept and double-respond on.
      if (mtls.isDefined) {
        // only POLICY refusals answer 401: SecurityException (principal
        // policy), SSLPeerUnverifiedException (no client cert in the
        // session), IllegalArgumentException (empty chain) — with the
        // reason surfaced so a refused principal is attributable.
        // An unexpected operational error propagates instead of
        // masquerading as a refusal (the same rule as the WS jack).
        val refusal =
          try {
            Tls.authorizeSession(
              ex.asInstanceOf[com.sun.net.httpserver.HttpsExchange].getSSLSession,
              mtls.get)
            None
          } catch {
            case e @ (_: SecurityException
                      | _: javax.net.ssl.SSLPeerUnverifiedException
                      | _: IllegalArgumentException) =>
              Some(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
          }
        if (refusal.isDefined) {
          rejected.incrementAndGet()
          System.err.println(s"[graft-jack] mTLS principal refused: ${refusal.get}")
          respond(ex, 401, "Unauthorized"); return
        }
      }
      val headers: Map[String, String] = {
        import scala.jdk.CollectionConverters._
        ex.getRequestHeaders.asScala.map { case (k, vs) =>
          k -> (if (vs.isEmpty) "" else vs.get(0))
        }.toMap
      }
      Auth.authorize(headers, staticHeaders, validator, authRequired,
        onSoftFail = _ => softFailures.incrementAndGet()) match {
        case Left(_) =>
          rejected.incrementAndGet()
          respond(ex, 401, "Unauthorized"); return
        case Right(()) => ()
      }
      val body = readBounded(ex)
      if (body == null) { respond(ex, 413, "Payload Too Large"); return }
      val line =
        try {
          val node = Auth.mapper.readTree(body)
          // readTree accepts bare scalars and trailing garbage is caught
          // by exceptions; an ingest record must be a JSON object
          if (node == null || !node.isObject) throw new IllegalArgumentException("not a JSON object")
          Auth.mapper.writeValueAsString(node)
        } catch {
          case e: Exception =>
            badRequests.incrementAndGet()
            respond(ex, 400, s"Error parsing request: ${e.getMessage}")
            return
        }
      // durable FIRST, respond after (see Spool.writeRecord for the
      // hsync power-loss caveat); a failed write falls to the outer
      // catch -> 500, and the peer retries
      ingress.offerAcked(line)
      respond(ex, responseStatus, "", responseHeaders)
    } catch {
      case _: Throwable =>
        try respond(ex, 500, "Internal Server Error") catch { case _: Throwable => () }
    }
  }

  /** Read at most maxBodyBytes; null = over the cap (413, analogous to
    * the sealed relay's pre-allocation frame cap: an authorized-or-soft
    * peer still must not provoke unbounded buffering). */
  private def readBounded(ex: HttpExchange): Array[Byte] = {
    val in = ex.getRequestBody
    val buf = new java.io.ByteArrayOutputStream(math.min(maxBodyBytes, 8192))
    val chunk = new Array[Byte](8192)
    var n = in.read(chunk)
    while (n >= 0) {
      if (buf.size + n > maxBodyBytes) return null
      buf.write(chunk, 0, n)
      n = in.read(chunk)
    }
    buf.toByteArray
  }

  /** Raw ingress stream (one compact JSON string per accepted request). */
  def raw: Dataset[String] = ingress.raw

  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  def receivedCount: Long = ingress.receivedCount
  def rejectedCount: Long = rejected.get()
  def badRequestCount: Long = badRequests.get()
  def softFailureCount: Long = softFailures.get()

  def stop(): Unit = {
    // Graceful drain BEFORE the writer close, in dependency order. A
    // shutdownNow() here would interrupt in-flight appendSync waiters
    // into a 500 whose record close() then flushes durably anyway —
    // every shutdown with in-flight requests would manufacture a
    // guaranteed duplicate (the peer retries a record that already
    // landed). server.stop(delay) returns as soon as in-flight
    // exchanges finish (immediately when idle) but FORCE-CLOSES
    // connections at the delay — so the delay must sit above the
    // segment ack deadline, or a quiet-period waiter gets its
    // connection cut under an ack that then arrives. shutdownNow is
    // only the hung-handler fallback after the deadline has passed.
    val segmentWriter = ingress.segmentWriter
    val drainSeconds =
      segmentWriter.map(w => (w.ackTimeoutMs / 1000L + 5).toInt).getOrElse(5)
    server.stop(drainSeconds)
    pool.shutdown()
    // The pool drain mirrors appendSync's own deadline shape: PROGRESS-
    // based, not total-time-bounded. Waiters queued behind several
    // transiently-failing batches legally outlast any fixed bound (each
    // batch gets the full retry budget), and interrupting them is the
    // manufactured duplicate again — so keep waiting while the writer
    // still HOLDS WORK and its flusher shows life. Both legs matter: an
    // idle flusher heartbeats forever, so gating on the heartbeat alone
    // would wait indefinitely for a handler hung on something other than
    // the spool (a stuck validator round-trip) — once the writer is
    // drained, any still-running handler gets only the fixed bound
    // before the shutdownNow fallback. server.stop above stays a
    // fixed-delay connection-layer cut — the JDK API has no progress
    // hook — so a brownout deeper than drainSeconds can still cut a
    // connection whose record lands (peer-retry duplicate), the same
    // residual as a crash at that moment.
    var idleDeadlineNs = System.nanoTime() + drainSeconds.toLong * 1000000000L
    def keepWaiting: Boolean = segmentWriter match {
      case Some(w) if w.pendingWork =>
        // reset the idle clock: the fixed bound applies to time spent
        // with NO spool work outstanding, not to legal flush recovery
        idleDeadlineNs = System.nanoTime() + drainSeconds.toLong * 1000000000L
        w.progressGapMs <= w.ackTimeoutMs
      case _ => System.nanoTime() < idleDeadlineNs
    }
    while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS) &&
      keepWaiting) ()
    if (!pool.isTerminated) pool.shutdownNow()
    ingress.close() // flush the tail; LOUD on failure
  }
}
