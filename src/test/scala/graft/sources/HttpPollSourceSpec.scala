package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** S3 HTTP poll source against an in-process stub endpoint: records flow
  * into a streaming query; transient 5xx responses are retried with
  * backoff; exhausted retries stop the serve loop (reference serve.go
  * semantics). */
class HttpPollSourceSpec extends SparkSpec {

  private val schema = new StructType()
    .add("id", LongType).add("name", StringType)

  /** Stub server: fails the first `failures` requests with 503, then pages
    * NDJSON bodies of `perPage` records. */
  private def withServer(failures: Int, perPage: Int = 3)(f: (String, AtomicInteger) => Unit): Unit = {
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed", { exchange =>
      val n = hits.incrementAndGet()
      if (n <= failures) {
        exchange.sendResponseHeaders(503, -1)
      } else {
        val page = n - failures - 1
        val body = (0 until perPage)
          .map(i => s"""{"id":${page * perPage + i},"name":"rec${page * perPage + i}"}""")
          .mkString("\n").getBytes("UTF-8")
        exchange.getResponseHeaders.set("Content-Type", "application/x-ndjson")
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
      }
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/feed", hits)
    finally server.stop(0)
  }

  test("records flow from endpoint to streaming query across polls") {
    withServer(failures = 0) { (url, _) =>
      val src = new HttpPollSource(spark, () => Http.get(url), intervalMillis = 50, sleep = _ => ())
      val q = src.jsonStream(schema).writeStream
        .format("memory").queryName("http_poll").outputMode("append").start()
      try {
        assert(src.pollOnce() == 3)
        assert(src.pollOnce() == 3) // second page
        q.processAllAvailable()
        val rows = spark.table("http_poll").collect()
        assert(rows.length == 6)
        assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L to 5L))
        assert(rows.forall(r => r.getAs[String]("name") == s"rec${r.getAs[Long]("id")}"))
      } finally q.stop()
    }
  }

  test("transient 5xx is retried with backoff until success") {
    withServer(failures = 2) { (url, hits) =>
      val src = new HttpPollSource(spark, () => Http.get(url), intervalMillis = 50, sleep = _ => ())
      assert(src.pollOnce() == 3) // 2 failures + 1 success inside one poll
      assert(hits.get() == 3)
      assert(src.failure.isEmpty)
    }
  }

  test("exhausted retries stop the serve loop and record the failure") {
    withServer(failures = 1000) { (url, _) =>
      val src = new HttpPollSource(spark, () => Http.get(url),
        intervalMillis = 5, attempts = 2, sleep = _ => ())
      src.start()
      assert(src.isServing)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (src.failure.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(src.failure.exists(_.isInstanceOf[Http.StatusException]))
      assert(!src.isServing) // serve.go: exhausted retries end the loop
      assert(src.recordCount == 0)
    }
  }

  test("interval serve loop buffers records without manual polls") {
    withServer(failures = 0) { (url, _) =>
      val src = new HttpPollSource(spark, () => Http.get(url), intervalMillis = 10, sleep = _ => ())
      src.start()
      try {
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (src.recordCount < 6 && System.nanoTime() < deadline) Thread.sleep(10)
        assert(src.recordCount >= 6)
        assert(src.pollCount >= 2)
      } finally src.stop()
      assert(!src.isServing)
    }
  }

  test("concurrent pollOnce calls buffer exactly the fetched records") {
    // pollOnce is public (tests, backfill) while start()'s scheduler runs
    // the same code: every append must take the buffer's one lock
    val pages = new AtomicInteger(0)
    val perPage = 40
    val fetched = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val fetch = () => {
      val p = pages.getAndIncrement()
      val recs = (0 until perPage).map(i => ((p * perPage + i).toLong, s"p$p-$i"))
      recs.foreach(fetched.add)
      recs.map { case (id, name) => s"""{"id":$id,"name":"$name"}""" }.mkString("\n")
    }
    val src = new HttpPollSource(spark, fetch, intervalMillis = 50, sleep = _ => ())
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val go = new java.util.concurrent.CountDownLatch(1)
    val workers = (0 until 8).map { _ =>
      val t = new Thread(() =>
        try { go.await(); (0 until 25).foreach(_ => src.pollOnce()) }
        catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    go.countDown()
    workers.foreach(_.join())
    assert(errors.isEmpty, s"pollOnce threw: ${errors.peek()}")
    val q = src.jsonStream(schema).writeStream
      .format("memory").queryName("http_poll_concurrent").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("http_poll_concurrent").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).sorted.toSeq
      import scala.jdk.CollectionConverters._
      val expected = fetched.asScala.toSeq.sorted
      assert(expected.length == 8 * 25 * perPage)
      assert(rows == expected)
      assert(src.recordCount == expected.length)
    } finally q.stop()
  }

  test("json-array bodies decode one record per element") {
    val recs = HttpPollSource.jsonArrayElements("""[{"id":1},{"id":2},{"id":3}]""")
    assert(recs.length == 3)
    assert(recs.head.contains("\"id\":1"))
    // non-array body passes through whole
    assert(HttpPollSource.jsonArrayElements("""{"id":9}""") == Seq("""{"id":9}"""))
  }

  test("TLS-PINNED fetch (httpclient/tls.go): the pinned certificate admits " +
    "the server; a DIFFERENT valid certificate is refused at the handshake; " +
    "the poll source composes the pinned transport") {
    val dir = "src/test/resources/tls"
    val https = com.sun.net.httpserver.HttpsServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    https.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(
      Tls.sslContext(TlsConfig(s"$dir/server.pem", s"$dir/server-key.pem", s"$dir/ca.pem"))))
    val hits = new AtomicInteger(0)
    https.createContext("/feed", { exchange =>
      hits.incrementAndGet()
      val body = """{"id":1,"name":"pinned"}""".getBytes("UTF-8")
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    https.start()
    val url = s"https://127.0.0.1:${https.getAddress.getPort}/feed"
    try {
      // the pinned SERVER cert admits the connection
      val body = Http.getPinned(url, s"$dir/server.pem")
      assert(body.contains("\"name\":\"pinned\""))
      // pinning a DIFFERENT (equally valid) certificate refuses the
      // handshake — rotation/MITM is the failure this mode exists for
      intercept[javax.net.ssl.SSLHandshakeException] {
        Http.getPinned(url, s"$dir/client.pem")
      }
      // default trust refuses the self-signed server outright (the pin
      // is what admits it, not a trust-all hole)
      intercept[javax.net.ssl.SSLHandshakeException] { Http.get(url) }
      // the poll source composes the pinned transport like any fetch
      val src = new HttpPollSource(spark, () => Http.getPinned(url, s"$dir/server.pem"),
        intervalMillis = 100000)
      try {
        assert(src.pollOnce() === 1)
        assert(src.raw.isInstanceOf[org.apache.spark.sql.Dataset[_]])
      } finally src.stop()
    } finally https.stop(0)
  }

  test("pin-bypass attack is refused: a MITM presenting its own leaf with " +
    "the PUBLIC pinned cert appended to the chain fails the handshake " +
    "(only the end-entity certificate is compared)") {
    val dir = "src/test/resources/tls"
    // attacker: own leaf+key (the client cert stands in), with the public
    // pinned certificate appended as a second chain element — a chain no
    // honest keystore would build, so present it via a raw KeyManager
    val leaf = Tls.loadCerts(s"$dir/client.pem").head
    val pinnedPub = Tls.loadCerts(s"$dir/server.pem").head
    val leafKey = Tls.loadPrivateKey(s"$dir/client-key.pem")
    val km = new javax.net.ssl.X509ExtendedKeyManager {
      override def getServerAliases(kt: String, is: Array[java.security.Principal]) = Array("a")
      override def chooseServerAlias(kt: String, is: Array[java.security.Principal],
                                     s: java.net.Socket) = "a"
      override def chooseEngineServerAlias(kt: String, is: Array[java.security.Principal],
                                           e: javax.net.ssl.SSLEngine) = "a"
      override def getClientAliases(kt: String, is: Array[java.security.Principal]) = null
      override def chooseClientAlias(kt: Array[String], is: Array[java.security.Principal],
                                     s: java.net.Socket) = null
      override def getCertificateChain(alias: String) = Array(leaf, pinnedPub)
      override def getPrivateKey(alias: String) = leafKey
    }
    val attackCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    attackCtx.init(Array[javax.net.ssl.KeyManager](km), null, null)
    val https = com.sun.net.httpserver.HttpsServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    https.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(attackCtx))
    https.createContext("/feed", { exchange =>
      exchange.sendResponseHeaders(200, -1); exchange.close()
    })
    https.start()
    try {
      intercept[javax.net.ssl.SSLHandshakeException] {
        Http.getPinned(s"https://127.0.0.1:${https.getAddress.getPort}/feed",
          s"$dir/server.pem")
      }
    } finally https.stop(0)
  }

  test("pin rotation takes effect without a restart: the cache keys by " +
    "pinned-file CONTENT, so an in-place PEM swap re-trusts immediately") {
    val dir = "src/test/resources/tls"
    val https = com.sun.net.httpserver.HttpsServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    https.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(
      Tls.sslContext(TlsConfig(s"$dir/server.pem", s"$dir/server-key.pem", s"$dir/ca.pem"))))
    https.createContext("/feed", { exchange =>
      val b = "ok".getBytes("UTF-8")
      exchange.sendResponseHeaders(200, b.length)
      exchange.getResponseBody.write(b); exchange.close()
    })
    https.start()
    val url = s"https://127.0.0.1:${https.getAddress.getPort}/feed"
    val pin = java.nio.file.Files.createTempFile("pin", ".pem")
    try {
      // stale pin (wrong cert) fails...
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/client.pem"), pin,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      intercept[javax.net.ssl.SSLHandshakeException](Http.getPinned(url, pin.toString))
      // ...rotating the FILE CONTENT in place re-trusts on the next fetch
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/server.pem"), pin,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(Http.getPinned(url, pin.toString) === "ok")
    } finally https.stop(0)
  }
}
