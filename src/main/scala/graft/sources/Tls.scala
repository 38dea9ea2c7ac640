package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.{KeyFactory, KeyStore, PrivateKey}
import java.security.cert.{CertificateFactory, X509Certificate}
import java.security.spec.PKCS8EncodedKeySpec
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import javax.net.ssl.{KeyManagerFactory, SNIHostName, SSLContext, SSLParameters,
  SSLServerSocket, SSLSocket, TrustManagerFactory}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** TLS / mTLS for the socket edge adapters — the transport-security half
  * of the reference relays (`/root/reference/pkg/internal/receivingrelay/
  * tls.go:13-90`, `forwardrelay/tls.go:13-80`): PEM cert/key/CA files, a
  * bounded TLS version range defaulting to 1.2–1.3, SNI/hostname
  * verification against the configured server name (when set; else the
  * connect host), and — for mTLS — the
  * reference's `MTLSOptions{AllowedPrincipals, TrustDomain}`
  * (`receivingrelay/auth_options.go:14-24`): the server requires a client
  * certificate from the configured CA and authorizes the presented
  * principal (SPIFFE URI SAN if present, else the subject CN).
  *
  * JDK-only (`javax.net.ssl`): PEM parsing via `CertificateFactory` +
  * PKCS#8 `KeyFactory`, no new dependencies. [[TlsConfig]] is a small
  * serializable value so the relay writer can build its `SSLContext`
  * executor-side inside `foreachPartition` — certificates distribute like
  * any other executor-local file (`--files` on a cluster).
  */
final case class TlsConfig(
    certFile: String,
    keyFile: String,
    caFile: String,
    serverName: String = "",
    minVersion: String = "TLSv1.2",
    maxVersion: String = "TLSv1.3")

/** mTLS authorization policy (reference `relay.MTLSOptions`). Principals
  * are SPIFFE-style URIs (`spiffe://<trustDomain>/<name>`) when the client
  * certificate carries a URI SAN, else `cn:<subject CN>`. An empty
  * `allowedPrincipals` admits any certificate the CA signed (transport
  * authentication only); a non-empty list also requires the principal to
  * be listed. A non-empty `trustDomain` additionally requires URI
  * principals to live in that domain. */
final case class MtlsOptions(
    allowedPrincipals: Seq[String] = Nil,
    trustDomain: String = "")

object Tls {

  /** All certificates in a PEM file (a chain file yields the chain). */
  def loadCerts(path: String): Seq[X509Certificate] = {
    val in = Files.newInputStream(Paths.get(path))
    try {
      import scala.jdk.CollectionConverters._
      CertificateFactory.getInstance("X.509").generateCertificates(in)
        .asScala.toSeq.map(_.asInstanceOf[X509Certificate])
    } finally in.close()
  }

  /** PKCS#8 "PRIVATE KEY" PEM → `PrivateKey` (EC then RSA — the two
    * families the reference's `tls.LoadX509KeyPair` accepts in practice). */
  def loadPrivateKey(path: String): PrivateKey = {
    val pem = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
    val b64 = pem.linesIterator
      .filterNot(l => l.startsWith("-----") || l.isBlank).mkString
    val der = Base64.getDecoder.decode(b64)
    val spec = new PKCS8EncodedKeySpec(der)
    try KeyFactory.getInstance("EC").generatePrivate(spec)
    catch {
      case _: java.security.spec.InvalidKeySpecException =>
        KeyFactory.getInstance("RSA").generatePrivate(spec)
    }
  }

  /** SSLContext with our identity (cert+key) and the peer CA as the only
    * trust anchor — both sides of the reference's `tls.Config`
    * (Certificates + RootCAs/ClientCAs). */
  def sslContext(cfg: TlsConfig): SSLContext = {
    val pw = Array.emptyCharArray // in-memory stores; no password at rest
    val ks = KeyStore.getInstance("PKCS12")
    ks.load(null, null)
    ks.setKeyEntry("identity", loadPrivateKey(cfg.keyFile), pw,
      loadCerts(cfg.certFile).toArray)
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, pw)
    val ts = KeyStore.getInstance("PKCS12")
    ts.load(null, null)
    loadCerts(cfg.caFile).zipWithIndex.foreach { case (c, i) =>
      ts.setCertificateEntry(s"ca-$i", c)
    }
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ts)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tmf.getTrustManagers, null)
    ctx
  }

  /** The JDK protocol names admitted by the configured [min, max] range
    * (reference MinTLSVersion/MaxTLSVersion defaulting, `tls.go:54-61`). */
  def protocolRange(cfg: TlsConfig): Array[String] = {
    val order = Seq("TLSv1.2", "TLSv1.3")
    val lo = order.indexOf(cfg.minVersion)
    val hi = order.indexOf(cfg.maxVersion)
    require(lo >= 0 && hi >= lo, s"bad TLS version range [${cfg.minVersion}, ${cfg.maxVersion}]")
    order.slice(lo, hi + 1).toArray
  }

  /** Connect a client socket: bounded protocol range, SNI, and
    * HTTPS-style endpoint identification (hostname verification against
    * the server certificate — the reference sets `ServerName` on its
    * client `tls.Config` for the same check). A non-empty
    * `cfg.serverName` overrides the verification name: TCP goes to
    * `host` (which may be an IP or a load-balancer alias) while the TLS
    * layer is created with `serverName` as its peer host — the
    * reference's ServerName semantics. With serverName unset the
    * certificate is verified against the connect host, the ordinary
    * dial-by-DNS-name case. */
  def clientSocket(cfg: TlsConfig, host: String, port: Int,
                   alpn: Seq[String] = Nil,
                   handshakeTimeoutMs: Int = 30000): SSLSocket = {
    val peer = if (cfg.serverName.nonEmpty) cfg.serverName else host
    // bound BOTH pre-data phases: a peer that accepts TCP but never
    // completes the handshake must not pin a Spark task forever (callers
    // set their own SO_TIMEOUT after the socket is returned)
    val raw = new java.net.Socket()
    raw.connect(new java.net.InetSocketAddress(host, port), handshakeTimeoutMs)
    raw.setSoTimeout(handshakeTimeoutMs)
    val sock =
      try sslContext(cfg).getSocketFactory
        .createSocket(raw, peer, port, true).asInstanceOf[SSLSocket]
      catch { case e: Throwable =>
        try raw.close() catch { case _: Throwable => () }
        throw e
      }
    try {
      val params = new SSLParameters()
      params.setProtocols(protocolRange(cfg))
      params.setServerNames(java.util.List.of(new SNIHostName(peer)))
      params.setEndpointIdentificationAlgorithm("HTTPS")
      if (alpn.nonEmpty) params.setApplicationProtocols(alpn.toArray)
      sock.setSSLParameters(params)
      sock.startHandshake()
      if (alpn.nonEmpty) requireAlpn(sock, alpn)
      // the handshake bound must not linger as a silent 30s read timeout
      // on the returned socket — callers that want one set their own
      sock.setSoTimeout(0)
      sock
    } catch {
      // close before rethrowing: a rejected handshake inside a retried
      // Spark task must not leak one FD per attempt
      case e: Throwable =>
        try sock.close() catch { case _: Throwable => () }
        throw e
    }
  }

  /** Bind a server socket; `mtls` nonempty ⇒ client certificates are
    * REQUIRED and verified against the CA (Go's
    * `tls.RequireAndVerifyClientCert`). Principal authorization happens
    * after the handshake via [[authorize]] — TLS proves possession, the
    * policy decides admission, as in the reference's auth options split. */
  def serverSocket(cfg: TlsConfig, port: Int, mtls: Option[MtlsOptions]): SSLServerSocket = {
    val srv = sslContext(cfg).getServerSocketFactory
      .createServerSocket(port).asInstanceOf[SSLServerSocket]
    srv.setEnabledProtocols(protocolRange(cfg))
    if (mtls.isDefined) srv.setNeedClientAuth(true)
    srv
  }

  /** ONE copy of the "negotiated protocol must be one of ours" rule —
    * client and server sides must never diverge on it. ALPN is how gRPC
    * peers bind HTTP/2 to TLS (RFC 7301 + the gRPC-over-HTTP/2 spec): a
    * peer that negotiated none of our protocols is not speaking the
    * protocol we are about to frame. */
  private def requireAlpn(sock: SSLSocket, alpn: Seq[String]): String = {
    val got = sock.getApplicationProtocol
    if (got == null || got.isEmpty || !alpn.contains(got))
      throw new javax.net.ssl.SSLHandshakeException(
        s"ALPN negotiated '${Option(got).getOrElse("")}', wanted one of ${alpn.mkString(",")}")
    got
  }

  /** Prepare an accepted server-side [[SSLSocket]] for ALPN (RFC 7301):
    * restrict the selectable application protocols, run the handshake,
    * and REQUIRE one of `alpn` to have been negotiated — a gRPC server
    * must not fall back to framing HTTP/2 at a peer that never offered
    * `h2`. Returns the negotiated protocol name. */
  def serverHandshakeAlpn(sock: SSLSocket, alpn: Seq[String]): String = {
    val params = sock.getSSLParameters
    params.setApplicationProtocols(alpn.toArray)
    sock.setSSLParameters(params)
    sock.startHandshake()
    requireAlpn(sock, alpn)
  }

  /** The peer's principal: first URI SAN (SPIFFE identity) if present,
    * else `cn:<subject CN>`. */
  def principalOf(cert: X509Certificate): String = {
    val sans = Option(cert.getSubjectAlternativeNames)
    val uri = sans.flatMap { list =>
      import scala.jdk.CollectionConverters._
      list.asScala.collectFirst {
        // SAN type 6 = uniformResourceIdentifier (RFC 5280)
        case entry if entry.get(0) == Integer.valueOf(6) => entry.get(1).toString
      }
    }
    uri.getOrElse {
      val dn = cert.getSubjectX500Principal.getName
      val cn = dn.split(",").map(_.trim).collectFirst {
        case kv if kv.startsWith("CN=") => kv.substring(3)
      }
      s"cn:${cn.getOrElse(dn)}"
    }
  }

  /** Enforce [[MtlsOptions]] on a handshaken server-side socket. Returns
    * the admitted principal; throws SecurityException on policy failure
    * (CA validity was already enforced by the handshake itself). A
    * non-empty trust domain REQUIRES a SPIFFE principal inside it: a
    * CA-signed certificate without a URI SAN (a CN-only cert, or the
    * server's own cert replayed as a client) must not slip past the
    * domain fence just because it never declared a domain. */
  def authorize(sock: SSLSocket, mtls: MtlsOptions): String =
    authorizeSession(sock.getSession, mtls)

  /** [[authorize]] for any handshaken session — the one place that owns
    * the "first chain certificate is the peer" contract, shared by the
    * socket jack and the JDK HttpsServer's exchange session. */
  def authorizeSession(session: javax.net.ssl.SSLSession, mtls: MtlsOptions): String = {
    val peer = session.getPeerCertificates
    require(peer.nonEmpty, "mTLS session without a peer certificate")
    authorizePrincipal(peer.head.asInstanceOf[X509Certificate], mtls)
  }

  /** Principal policy on an already-extracted peer certificate. */
  def authorizePrincipal(cert: X509Certificate, mtls: MtlsOptions): String = {
    val principal = principalOf(cert)
    if (mtls.trustDomain.nonEmpty) {
      if (!principal.startsWith("spiffe://"))
        throw new SecurityException(
          s"trust domain ${mtls.trustDomain} requires a SPIFFE principal; got $principal")
      val domain = principal.stripPrefix("spiffe://").takeWhile(_ != '/')
      if (domain != mtls.trustDomain)
        throw new SecurityException(
          s"principal $principal outside trust domain ${mtls.trustDomain}")
    }
    if (mtls.allowedPrincipals.nonEmpty && !mtls.allowedPrincipals.contains(principal))
      throw new SecurityException(s"principal $principal not in allowed list")
    principal
  }

  /** TLS forward relay (K5 secured): [[Sources.writeSocketNdjson]] over
    * mTLS; each partition builds its SSLContext from the serializable
    * config on the executor. */
  def writeSocketNdjsonTls(df: DataFrame, host: String, port: Int, cfg: TlsConfig): Unit =
    RelayWriter.foreachConnection(df, RelayWriter.tlsSocket(cfg, host, port))(
      RelayWriter.ndjsonLines)
}

/** S9 server jack, mTLS variant: a protocol-terminating NDJSON listener
  * that REQUIRES a client certificate from the configured CA and admits
  * only [[MtlsOptions]]-authorized principals — the reference's
  * mTLS-guarded receiving relay / server jack
  * (`receivingrelay/auth_options.go:14-24`, `jack/httpserver/auth`).
  * Accepted non-empty lines land in an [[Ingress]] buffer (memory mode —
  * replay-from-peer); rejected peers are dropped at
  * handshake/authorization and counted. Driver-ingress by design
  * (control-plane edge; bulk edges stay Kafka/files — see
  * [[Sources.socketNdjsonStream]]'s scope note). */
final class TlsNdjsonJack(spark: SparkSession, port: Int, cfg: TlsConfig,
                          mtls: MtlsOptions = MtlsOptions()) {

  private val ingress = new Ingress(spark)
  private val server = Tls.serverSocket(cfg, port, Some(mtls))
  private val rejectedPeers = new AtomicLong(0)
  private val admittedPeers = new AtomicLong(0)

  def boundPort: Int = server.getLocalPort

  private val accepts = new AcceptLoop(server, "graft-tls")(serve)
  accepts.start()

  private def serve(peer: Socket): Unit = {
    val sock = peer.asInstanceOf[SSLSocket]
    var admitted = false
    try {
      sock.startHandshake() // rejects certs the CA didn't sign
      Tls.authorize(sock, mtls) // rejects disallowed principals
      admitted = true
      admittedPeers.incrementAndGet()
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      var line = in.readLine()
      while (line != null && accepts.isRunning) {
        if (line.nonEmpty) ingress.offer(line)
        line = in.readLine()
      }
    } catch {
      // handshake/authorization failure = rejected peer; an admitted
      // peer's mid-stream connection failure just drops that peer
      case _: Throwable => if (!admitted) rejectedPeers.incrementAndGet()
    }
  }

  /** Raw ingress stream (one string per received line). */
  def raw: Dataset[String] = ingress.raw

  /** Typed ingress: each line JSON-decoded to `schema` fields. */
  def jsonStream(schema: StructType): DataFrame = ingress.jsonStream(schema)

  def receivedCount: Long = ingress.receivedCount
  def admittedCount: Long = admittedPeers.get()
  def rejectedCount: Long = rejectedPeers.get()

  def stop(): Unit = accepts.stop()
}
