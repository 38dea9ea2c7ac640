package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.reliability.Backoff

/** Minimal HTTP GET transport for the poll source — the fetch half of the
  * reference HTTP client adapter
  * (`/root/reference/pkg/internal/adapter/httpclient/fetch.go:15-68`):
  * request with timeout + headers, non-2xx status is an error (so the retry
  * policy sees it), body returned as text for the codec layer to decode.
  * OAuth/token plumbing is out of engine scope (SURVEY §7).
  */
object Http {
  final class StatusException(val status: Int, url: String)
    extends RuntimeException(s"http request failed with status code: $status ($url)")

  /** Full response view for callers that need validators (ETag /
    * Last-Modified) and must see 304 Not Modified as an answer, not an
    * error — the [[GraftHttpProvider]] change-detection offset path. */
  final case class Resp(status: Int, headers: Map[String, String], body: String) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
  }

  private lazy val client = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  def get(url: String, headers: Map[String, String] = Map.empty,
          timeoutMillis: Long = 10000): String = {
    val resp = getFull(url, headers, timeoutMillis, None)
    if (resp.status < 200 || resp.status >= 300)
      throw new StatusException(resp.status, url)
    resp.body
  }

  /** GET returning the full response (status, headers, body) without
    * throwing on non-2xx — conditional-GET callers need the 304, and the
    * retry policy upstream decides what's an error. Pin-aware: a
    * `pinnedCertPath` routes through the content-keyed pinned-client
    * cache (same trust semantics as [[getPinned]]). */
  def getFull(url: String, headers: Map[String, String] = Map.empty,
              timeoutMillis: Long = 10000,
              pinnedCertPath: Option[String] = None): Resp = {
    val c = pinnedCertPath.fold(client)(pinnedClient)
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMillis)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = c.send(b.build(), HttpResponse.BodyHandlers.ofString())
    val hs = scala.jdk.CollectionConverters.MapHasAsScala(resp.headers().map())
      .asScala.map { case (k, vs) => k -> (if (vs.isEmpty) "" else vs.get(0)) }.toMap
    Resp(resp.statusCode(), hs, resp.body())
  }

  // one client per pinned-cert CONTENT hash: the poll loop re-fetches on
  // an interval and must not rebuild an SSLContext per tick, but an
  // in-place rotation of the PEM file must take effect without a JVM
  // restart — keying by content gives both
  private val pinnedClients =
    new java.util.concurrent.ConcurrentHashMap[String, HttpClient]()

  /** TLS-PINNED [[get]] — the reference's SetTlsPinnedCertificate +
    * verifyServerCertificate
    * (`/root/reference/pkg/internal/adapter/httpclient/tls.go:17-70`):
    * the server's presented END-ENTITY certificate must BE the pinned
    * certificate (byte-equal DER) or the handshake fails. The pin is
    * the trust decision: a valid-but-different leaf (rotated, or
    * MITM-minted under any CA) is refused — which is the point of
    * pinning. Only the LEAF is compared: the TLS handshake proves key
    * possession for the leaf alone, and later chain positions are
    * attacker-copyable public certificates (the Go reference compares
    * within ALREADY-VERIFIED chains; over the raw presented list, a
    * contains-check would admit any chain with the public pin appended).
    * Expiry is still enforced on the pinned leaf. */
  def getPinned(url: String, pinnedCertPath: String,
                headers: Map[String, String] = Map.empty,
                timeoutMillis: Long = 10000): String = {
    val resp = getFull(url, headers, timeoutMillis, Some(pinnedCertPath))
    if (resp.status < 200 || resp.status >= 300)
      throw new StatusException(resp.status, url)
    resp.body
  }

  private def pinnedClient(pinnedCertPath: String): HttpClient = {
    val pem = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pinnedCertPath))
    val contentKey = S3.sha256Hex(pem)
    // bound the cache: rotations (and any half-written PEM read mid-swap)
    // would otherwise accumulate one client per content hash forever —
    // stale entries drop to GC, which reclaims the JDK client's threads
    if (pinnedClients.size > 8) pinnedClients.clear()
    pinnedClients.computeIfAbsent(contentKey, _ => {
      val cf = java.security.cert.CertificateFactory.getInstance("X.509")
      val pinned = cf.generateCertificate(new java.io.ByteArrayInputStream(pem))
        .asInstanceOf[java.security.cert.X509Certificate]
      val pinnedDer = pinned.getEncoded
      val tm = new javax.net.ssl.X509TrustManager {
        override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
          Array(pinned)
        override def checkClientTrusted(
            chain: Array[java.security.cert.X509Certificate], authType: String): Unit =
          throw new java.security.cert.CertificateException(
            "pinned trust manager is client-side only")
        override def checkServerTrusted(
            chain: Array[java.security.cert.X509Certificate], authType: String): Unit = {
          if (chain.isEmpty ||
            !java.util.Arrays.equals(chain.head.getEncoded, pinnedDer))
            throw new java.security.cert.CertificateException(
              "server end-entity certificate does not match the pinned certificate")
          chain.head.checkValidity()
        }
      }
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, Array[javax.net.ssl.TrustManager](tm),
        new java.security.SecureRandom)
      HttpClient.newBuilder()
        .followRedirects(HttpClient.Redirect.NORMAL)
        .sslContext(ctx)
        .build()
    })
  }
}

/** S3 HTTP poll source: the reference's interval-polling HTTP adapter
  * (`/root/reference/pkg/internal/adapter/httpclient/serve.go:13-67`,
  * `attemptFetchAndSubmit` retry loop) re-expressed for Spark's micro-batch
  * model — a DRIVER-side fetch loop appends each poll's records to an
  * [[Ingress]] buffer, which any Structured Streaming query consumes like
  * any other source (watermarks, stateful ops, checkpointed sinks all apply
  * downstream).
  *
  * Driver-side by design: an HTTP poll of one endpoint is inherently a
  * single-node ingest edge (the reference adapter is the same); scale-out
  * ingest belongs to Kafka/files (S4/S5), which this engine treats as the
  * canonical high-volume edges. The poll payloads here are control-plane
  * sized (sensor reads, API pages), and Spark distributes everything
  * downstream of the source buffer.
  *
  * Failure semantics mirror the reference Serve loop: each tick retries up
  * to `attempts` with full-jitter backoff ([[Backoff.retry]] — same policy
  * as the reference's `backoffDuration`); a tick that exhausts its retries
  * stops the poller and records the failure (`serve.go` returns the error),
  * leaving already-buffered records readable.
  *
  * Restart contract: [[Ingress]]'s memory mode — recovery is
  * re-poll-from-endpoint.
  *
  * @param fetch     transport thunk, e.g. `() => Http.get(url)`; injectable
  *                  so tests can stub the endpoint.
  * @param decode    body → records; default splits NDJSON lines (the
  *                  reference line/JSON codec split).
  */
final class HttpPollSource(
    spark: SparkSession,
    fetch: () => String,
    intervalMillis: Long,
    attempts: Int = 5,
    decode: String => Seq[String] = HttpPollSource.ndjsonLines,
    sleep: Long => Unit = Thread.sleep) {
  require(intervalMillis > 0, "interval must be greater than zero")

  private val ingress = new Ingress(spark)
  private val scheduler = new AtomicReference[ScheduledExecutorService](null)
  private val polls = new AtomicLong(0)
  private val failed = new AtomicReference[Throwable](null)

  /** Raw record stream (one string per fetched record). */
  def raw: Dataset[String] = ingress.raw

  /** Typed stream: each record JSON-decoded to `schema` fields. */
  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  /** One synchronous fetch-with-retry; appends decoded records to the
    * stream buffer. Returns the number of records appended. Public as the
    * deterministic test/backfill hook — `start()` just calls this on the
    * interval, and concurrent calls are safe. */
  def pollOnce(): Int = {
    val body = Backoff.retry(attempts = attempts, sleep = sleep)(fetch)
    val recs = decode(body)
    ingress.offerAll(recs)
    polls.incrementAndGet()
    recs.length
  }

  /** Begin interval polling (no-op if already serving). */
  def start(): Unit = {
    val exec = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-http-poll"); t.setDaemon(true); t
    }
    if (scheduler.compareAndSet(null, exec)) {
      exec.scheduleWithFixedDelay(() => {
        try pollOnce()
        catch {
          case e: Throwable => failed.set(e); stop() // serve.go: stop on exhausted retries
        }
      }, intervalMillis, intervalMillis, TimeUnit.MILLISECONDS)
    } else exec.shutdown()
  }

  def stop(): Unit = {
    val exec = scheduler.getAndSet(null)
    if (exec != null) exec.shutdown()
  }

  def isServing: Boolean = scheduler.get() != null
  def pollCount: Long = polls.get()
  def recordCount: Long = ingress.receivedCount
  def failure: Option[Throwable] = Option(failed.get())
}

object HttpPollSource {
  /** NDJSON body → records: non-empty lines, LF or CRLF separated — the
    * one NDJSON splitter (the relay feed, [[Ingress.feed]], uses it too). */
  val ndjsonLines: String => Seq[String] =
    body => body.split("\\r?\\n").toSeq.filter(_.nonEmpty)

  /** A JSON-array body → one record per element (the reference JSON codec
    * path for `application/json` responses that page as arrays). Uses
    * Jackson (already on Spark's classpath) — not a hot path: runs once per
    * poll on the driver. */
  val jsonArrayElements: String => Seq[String] = { body =>
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(body)
    if (root.isArray) {
      val it = root.elements()
      val out = Seq.newBuilder[String]
      while (it.hasNext) out += om.writeValueAsString(it.next())
      out.result()
    } else Seq(body)
  }
}
