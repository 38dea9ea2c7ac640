package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S5/S6/K2 object-store edge over the ACTUAL S3 REST API — what the
  * reference's adapter speaks through the AWS SDK
  * (`/root/reference/pkg/internal/adapter/s3client/`): ListObjectsV2
  * pagination with `start-after` listing checkpoints
  * (`reader.go:30-190`), Get/PutObject with content-encoding (gzip),
  * client-side AES-GCM encryption flagged in object metadata
  * (`cse.go:14-15` — `x-electrician-cse: aes-gcm`), SSE request headers,
  * templated object keys and bounded put retries
  * (`writer_helpers.go:64-360`), all authenticated with a from-scratch
  * AWS Signature V4 implementation (the public SigV4 spec — the same
  * hand-rolled-from-the-RFC discipline as the Kafka/HTTP2/NATS edges).
  *
  * Scale shape: listing + checkpoint advance is driver/control-plane
  * (one small HTTP page per poll); BULK object reads fan out one Spark task
  * per object ([[readNdjson]]) so executors pull their own objects —
  * nothing rides through the driver. On a real cluster against real S3
  * the drop-in is `spark.read` over s3a://; this client exists so the
  * LISTING-CHECKPOINT and CSE semantics are e2e-provable in a jar-less
  * sandbox (`MiniS3Server`), the MiniKafkaBroker pattern. */
object S3 {

  /** Endpoint is scheme://host:port (path-style addressing, the form
    * every S3-compatible store accepts). Empty accessKey = unsigned
    * requests (anonymous dev stores). */
  final case class S3Config(endpoint: String, bucket: String,
                            accessKey: String = "", secretKey: String = "",
                            region: String = "us-east-1")

  final case class S3Object(bytes: Array[Byte], contentType: String,
                            contentEncoding: String, meta: Map[String, String])

  /** One listing entry: key, byte size, and LastModified (epoch millis;
    * 0 when the listing omitted it) — consumers that order or expire by
    * mtime (streaming maxFileAge, committer cleanup) need the real one. */
  final case class ObjInfo(key: String, size: Long, mtime: Long)

  final case class ListPage(objects: Seq[ObjInfo],
                            nextToken: Option[String],
                            commonPrefixes: Seq[String] = Nil) {
    def keys: Seq[String] = objects.map(_.key)
  }

  /** Typed non-2xx answer (the status gates retryability: 5xx retries,
    * 4xx is a caller bug and surfaces immediately). */
  final class S3HttpError(val status: Int, val key: String, body: String)
    extends java.io.IOException(s"S3 $status on $key: ${body.take(200)}")

  /** The reference's CSE metadata marker (`cse.go:14-15`). */
  val CseMetaKey = "x-electrician-cse"
  val CseModeAesGcm = "aes-gcm"

  // ======================================================================
  // AWS Signature Version 4 (public spec) — canonical request, scoped
  // string-to-sign, HMAC key derivation chain
  // ======================================================================

  def sha256Hex(b: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(b)
    d.map("%02x".format(_)).mkString
  }

  private def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val m = javax.crypto.Mac.getInstance("HmacSHA256")
    m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(data.getBytes(UTF_8))
  }

  /** RFC 3986 strict encoding (SigV4's uri-encode): unreserved chars
    * verbatim, everything else %XX uppercase; `/` kept only in paths. */
  def uriEncode(s: String, keepSlash: Boolean): String = {
    val sb = new StringBuilder
    s.getBytes(UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      // byte-wise ASCII alnum ONLY: Char.isLetterOrDigit would pass raw
      // Latin-1 letter bytes (0xC0-0xFF — i.e. UTF-8 continuation/lead
      // bytes) through unencoded and break canonicalization for any
      // non-ASCII key
      val unreserved = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.' || c == '~'
      if (unreserved || (keepSlash && c == '/')) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.result()
  }

  private val AmzDateFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(ZoneOffset.UTC)

  /** Canonical query string: keys and values uri-encoded, sorted. */
  def canonicalQuery(query: Seq[(String, String)]): String =
    query.map { case (k, v) => (uriEncode(k, keepSlash = false),
      uriEncode(v, keepSlash = false)) }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("&")

  /** The SigV4 Authorization header for an S3 request. `headers` must
    * include host, x-amz-date, and x-amz-content-sha256 (every header
    * given is signed — a tampered one breaks the signature). */
  def sigV4Authorization(cfg: S3Config, method: String, path: String,
                         query: Seq[(String, String)],
                         headers: Seq[(String, String)],
                         payloadHash: String, amzDate: String): String = {
    // AWS canonicalization: lowercase names, trim edges, AND collapse
    // sequential inner whitespace — real S3 verifies against the
    // collapsed form, so signing the raw value 403s any multi-space value
    val canonicalHeaders = headers.map { case (k, v) =>
      (k.toLowerCase, v.trim.replaceAll("[ \t]+", " "))
    }.sortBy(_._1)
    val signedHeaders = canonicalHeaders.map(_._1).mkString(";")
    val canonicalRequest =
      method + "\n" +
        uriEncode(path, keepSlash = true) + "\n" +
        canonicalQuery(query) + "\n" +
        canonicalHeaders.map { case (k, v) => s"$k:$v\n" }.mkString + "\n" +
        signedHeaders + "\n" +
        payloadHash
    val date = amzDate.take(8)
    val scope = s"$date/${cfg.region}/s3/aws4_request"
    val stringToSign = "AWS4-HMAC-SHA256\n" + amzDate + "\n" + scope + "\n" +
      sha256Hex(canonicalRequest.getBytes(UTF_8))
    val kSigning = hmac(hmac(hmac(hmac(
      ("AWS4" + cfg.secretKey).getBytes(UTF_8), date), cfg.region), "s3"),
      "aws4_request")
    val signature = hmac(kSigning, stringToSign).map("%02x".format(_)).mkString
    s"AWS4-HMAC-SHA256 Credential=${cfg.accessKey}/$scope, " +
      s"SignedHeaders=$signedHeaders, Signature=$signature"
  }

  // ======================================================================
  // HTTP client
  // ======================================================================

  /** One bucket's REST client. Instantiated executor-side from the
    * serializable [[S3Config]] (the TlsConfig pattern). */
  final class S3Http(cfg: S3Config) {
    private lazy val client = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    private val base = URI.create(cfg.endpoint)

    private def request(method: String, key: String,
                        query: Seq[(String, String)],
                        body: Array[Byte],
                        extraHeaders: Seq[(String, String)]): HttpResponse[Array[Byte]] = {
      val path = "/" + cfg.bucket + (if (key.isEmpty) "" else "/" + key)
      val qs = canonicalQuery(query)
      val uri = URI.create(cfg.endpoint + uriEncode(path, keepSlash = true) +
        (if (qs.isEmpty) "" else "?" + qs))
      val payloadHash = sha256Hex(if (body == null) Array.emptyByteArray else body)
      val amzDate = AmzDateFmt.format(Instant.now())
      val hostHeader = base.getHost +
        (if (base.getPort > 0) s":${base.getPort}" else "")
      val signedBase = Seq("host" -> hostHeader, "x-amz-date" -> amzDate,
        "x-amz-content-sha256" -> payloadHash) ++ extraHeaders
      val b = HttpRequest.newBuilder(uri)
      signedBase.filterNot(_._1 == "host") // HttpClient sets host itself
        .foreach { case (k, v) => b.header(k, v) }
      if (cfg.accessKey.nonEmpty)
        b.header("Authorization", sigV4Authorization(cfg, method, path, query,
          signedBase, payloadHash, amzDate))
      val req = (method match {
        case "GET" => b.GET()
        case "PUT" => b.PUT(HttpRequest.BodyPublishers.ofByteArray(body))
        case "POST" => b.POST(HttpRequest.BodyPublishers.ofByteArray(
          if (body == null) Array.emptyByteArray else body))
        case "DELETE" => b.DELETE()
        case other => throw new IllegalArgumentException(other)
      }).build()
      client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    }

    /** Hardened XML parse for NETWORK-peer responses: a hostile or
      * MITM'd endpoint must not get entity expansion (XXE file reads)
      * or doctype tricks out of our response parsing. */
    private def parseXml(bytes: Array[Byte]): org.w3c.dom.Document = {
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      dbf.setExpandEntityReferences(false)
      dbf.setXIncludeAware(false)
      dbf.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(bytes))
    }

    /** Text of the first `tag` element below `el`. */
    private def childText(el: org.w3c.dom.Element, tag: String): Option[String] = {
      val nl = el.getElementsByTagName(tag)
      if (nl.getLength == 0) None else Some(nl.item(0).getTextContent)
    }

    /** Real S3 can answer 200 with an `<Error>` body (the late-failure
      * quirk documented for CompleteMultipartUpload, shared by
      * CopyObject): surface it as a 500. */
    private def refuseErrorBody(op: String, key: String, body: Array[Byte]): Unit = {
      val doc = parseXml(body)
      if (doc.getElementsByTagName("Error").getLength > 0)
        throw new S3HttpError(500, key, s"$op answered 200-with-Error: " +
          childText(doc.getDocumentElement, "Message").getOrElse(""))
    }

    /** The object size from a 206's `Content-Range: bytes a-b/total`. */
    private def contentRangeTotal(resp: HttpResponse[Array[Byte]], key: String): Long = {
      val cr = resp.headers().firstValue("Content-Range").orElse("")
      val slash = cr.lastIndexOf('/')
      val total = if (slash < 0) "" else cr.substring(slash + 1).trim
      if (total.isEmpty || total == "*")
        throw new S3HttpError(502, key, s"206 without a Content-Range total: '$cr'")
      total.toLong
    }

    /** The `x-amz-meta-*` user metadata of a response, names lower-cased
      * and unprefixed. */
    private def userMeta(resp: HttpResponse[Array[Byte]]): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      resp.headers().map().asScala.collect {
        case (k, vs) if k.toLowerCase.startsWith("x-amz-meta-") =>
          k.toLowerCase.stripPrefix("x-amz-meta-") -> vs.get(0)
      }.toMap
    }

    private def xmlEscape(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    /** One ListObjectsV2 page (the REAL wire shape: `list-type=2`,
      * `prefix`, `start-after`, `max-keys`, `continuation-token`, and
      * optionally `delimiter` — which rolls same-level sub-prefixes up
      * into CommonPrefixes, the directory-listing form; XML response
      * with IsTruncated/NextContinuationToken). Keys come back in S3's
      * lexicographic-by-UTF-8 order — the property the start-after
      * checkpoint protocol rests on. */
    def listPage(prefix: String, startAfter: String, maxKeys: Int,
                 token: Option[String],
                 delimiter: Option[String] = None): ListPage = {
      val query = Seq("list-type" -> "2", "prefix" -> prefix,
        "max-keys" -> maxKeys.toString) ++
        (if (startAfter.nonEmpty && token.isEmpty) Seq("start-after" -> startAfter) else Nil) ++
        token.map("continuation-token" -> _).toSeq ++
        delimiter.map("delimiter" -> _).toSeq
      val resp = request("GET", "", query, null, Nil)
      if (resp.statusCode() != 200)
        throw new S3HttpError(resp.statusCode(), "", new String(resp.body(), UTF_8))
      val doc = parseXml(resp.body())
      def elements(tag: String): Seq[org.w3c.dom.Element] = {
        val nl = doc.getElementsByTagName(tag)
        (0 until nl.getLength).map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
      }
      // Key and Size pair WITHIN each Contents element — two positional
      // tag sweeps would silently misalign on any size-less entry, and a
      // wrong length sends the parquet footer seek into the weeds
      val objects = elements("Contents").map { el =>
        val key = childText(el, "Key").getOrElse(
          throw new java.io.IOException("ListObjectsV2: Contents without Key"))
        val size = childText(el, "Size").getOrElse(
          throw new java.io.IOException(s"ListObjectsV2: no Size for $key")).toLong
        // LastModified is ISO-8601 in the real response; tolerate absence
        // (0) but never a silent parse-to-garbage
        val mtime = childText(el, "LastModified").map { t =>
          java.time.Instant.parse(t.trim).toEpochMilli
        }.getOrElse(0L)
        ObjInfo(key, size, mtime)
      }
      val cps = elements("CommonPrefixes").flatMap(childText(_, "Prefix"))
      val truncated = elements("IsTruncated").headOption
        .exists(_.getTextContent == "true")
      ListPage(objects,
        if (truncated) elements("NextContinuationToken").headOption
          .map(_.getTextContent) else None,
        cps)
    }

    /** Every (key, size) under `prefix` strictly after `startAfter`,
      * across pagination — the reader's one-sweep listing. */
    def listAllWithSize(prefix: String, startAfter: String,
                        pageSize: Int = 1000): Seq[(String, Long)] = {
      val out = Seq.newBuilder[(String, Long)]
      var token: Option[String] = None
      var more = true
      while (more) {
        val page = listPage(prefix, startAfter, pageSize, token)
        out ++= page.objects.map(o => (o.key, o.size))
        token = page.nextToken
        more = token.isDefined
      }
      out.result()
    }

    def listAll(prefix: String, startAfter: String, pageSize: Int = 1000): Seq[String] =
      listAllWithSize(prefix, startAfter, pageSize).map(_._1)

    /** DeleteObject (idempotent; S3 answers 204 even for absent keys). */
    def deleteObject(key: String): Unit = {
      val resp = request("DELETE", key, Nil, null, Nil)
      if (resp.statusCode() / 100 != 2 && resp.statusCode() != 404)
        throw new S3HttpError(resp.statusCode(), key, new String(resp.body(), UTF_8))
    }

    /** Batch DeleteObjects (`POST /?delete`): up to 1000 keys per
      * round-trip — a committer cleanup or compaction GC of a 10k-file
      * directory pays ⌈n/1000⌉ requests instead of n. Quiet mode, so the
      * response carries only per-key FAILURES, returned as
      * (key, code, message) for the caller to surface (an empty result =
      * every key gone). `Content-MD5` over the XML manifest rides signed,
      * as the real API requires — the delete list is the one request
      * body a corrupted byte turns destructive. */
    def deleteObjects(keys: Seq[String]): Seq[(String, String, String)] = {
      val errors = Seq.newBuilder[(String, String, String)]
      keys.grouped(1000).foreach { batch =>
        val xml = new StringBuilder(
          """<?xml version="1.0" encoding="UTF-8"?>""" +
            """<Delete xmlns="http://s3.amazonaws.com/doc/2006-03-01/">""" +
            "<Quiet>true</Quiet>")
        batch.foreach(k => xml.append("<Object><Key>")
          .append(xmlEscape(k)).append("</Key></Object>"))
        xml.append("</Delete>")
        val body = xml.toString.getBytes(UTF_8)
        val md5 = java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5").digest(body))
        val resp = request("POST", "", Seq("delete" -> ""), body,
          Seq("content-md5" -> md5))
        if (resp.statusCode() != 200)
          throw new S3HttpError(resp.statusCode(), s"(batch of ${batch.length})",
            new String(resp.body(), UTF_8))
        val nl = parseXml(resp.body()).getElementsByTagName("Error")
        (0 until nl.getLength).foreach { i =>
          val el = nl.item(i).asInstanceOf[org.w3c.dom.Element]
          def t(tag: String) = childText(el, tag).getOrElse("")
          errors += ((t("Key"), t("Code"), t("Message")))
        }
      }
      errors.result()
    }

    /** Ranged GetObject — `Range: bytes=start..start+len-1` (RFC 9110
      * byte ranges over the S3 REST grammar). Returns EXACTLY the
      * requested window (the caller bounds it by the object size); a
      * server that ignores Range and answers 200-full gets sliced, so
      * the caller's contract holds against either behavior. This is the
      * read primitive that keeps a multi-GB parquet object's footer read
      * at kilobytes instead of whole-object executor memory. */
    def getObjectRange(key: String, start: Long, len: Long): Array[Byte] = {
      require(start >= 0 && len > 0, s"bad range $start+$len")
      val range = s"bytes=$start-${start + len - 1}"
      val resp = request("GET", key, Nil, null, Seq("range" -> range))
      resp.statusCode() match {
        case 206 =>
          val b = resp.body()
          require(b.length == len,
            s"ranged GET $key $range answered ${b.length} bytes, wanted $len")
          b
        case 200 => // full-object answer: slice the window out
          val b = resp.body()
          if (start >= b.length) throw new S3HttpError(416, key,
            s"range $range outside object of ${b.length} bytes")
          java.util.Arrays.copyOfRange(b, start.toInt,
            math.min(b.length.toLong, start + len).toInt)
        case other =>
          throw new S3HttpError(other, key, new String(resp.body(), UTF_8))
      }
    }

    /** ONE GET with `Range: bytes=0-(max-1)` answering both open()
      * strategies in a single round-trip: `Left(bytes)` when the whole
      * object fit the window (200, a covering 206, or 416 = empty
      * object), `Right((firstWindow, totalSize))` when it did not —
      * the caller's ranged reader starts with its first window already
      * in hand. */
    def getObjectPrefix(key: String, max: Long): Either[Array[Byte], (Array[Byte], Long)] = {
      require(max > 0, s"bad prefix window $max")
      val resp = request("GET", key, Nil, null,
        Seq("range" -> s"bytes=0-${max - 1}"))
      resp.statusCode() match {
        case 200 => Left(resp.body())
        case 206 =>
          val total = contentRangeTotal(resp, key)
          val b = resp.body()
          if (total <= b.length) Left(b) else Right((b, total))
        case 416 => Left(Array.emptyByteArray) // empty object: range off the end
        case other =>
          throw new S3HttpError(other, key, new String(resp.body(), UTF_8))
      }
    }

    def getObject(key: String): S3Object = {
      val resp = request("GET", key, Nil, null, Nil)
      if (resp.statusCode() != 200)
        throw new S3HttpError(resp.statusCode(), key, new String(resp.body(), UTF_8))
      def hdr(n: String) = resp.headers().firstValue(n).orElse("")
      S3Object(resp.body(), hdr("Content-Type"), hdr("Content-Encoding"), userMeta(resp))
    }

    /** PutObject with the reference's bounded retry + backoff on
      * RETRYABLE failures only (5xx / transport; a 4xx is a caller bug,
      * `writer_helpers.go:64-139`). */
    def putObject(key: String, bytes: Array[Byte],
                  contentType: String = "application/x-ndjson",
                  contentEncoding: String = "",
                  meta: Map[String, String] = Map.empty,
                  sseMode: String = "",
                  maxAttempts: Int = 4): Unit = {
      val headers = Seq("content-type" -> contentType) ++
        (if (contentEncoding.nonEmpty) Seq("content-encoding" -> contentEncoding) else Nil) ++
        meta.toSeq.map { case (k, v) => s"x-amz-meta-$k" -> v } ++
        (sseMode.toLowerCase match {
          case "" => Nil
          case "aes256" => Seq("x-amz-server-side-encryption" -> "AES256")
          case "aws:kms" => Seq("x-amz-server-side-encryption" -> "aws:kms")
          case other => throw new IllegalArgumentException(s"sse mode $other")
        })
      var attempt = 1
      var done = false
      while (!done) {
        val status =
          try {
            val resp = request("PUT", key, Nil, bytes, headers)
            if (resp.statusCode() / 100 == 2) { done = true; 200 }
            else if (resp.statusCode() / 100 == 5) resp.statusCode()
            else throw new S3HttpError(resp.statusCode(), key,
              new String(resp.body(), UTF_8))
          } catch {
            // a 4xx is a CALLER bug (bad signature, bad key): it must
            // surface immediately, not burn the retry budget
            case e: S3HttpError => throw e
            // a transport failure gets the SAME exhausted-retries wrapper
            // the 5xx path gets — never a raw IOException on the last try
            case e: java.io.IOException =>
              if (attempt >= maxAttempts) {
                val wrapped = new S3HttpError(599, key,
                  s"put failed after $attempt attempts: ${e.getMessage}")
                wrapped.initCause(e)
                throw wrapped
              }
              599
          }
        if (!done) {
          if (attempt >= maxAttempts)
            throw new S3HttpError(status, key, s"put failed after $attempt attempts")
          // capped exponential backoff, the reference's backoffDuration
          Thread.sleep(math.min(50L << (attempt - 1), 400L))
          attempt += 1
        }
      }
    }

    // ------------------------------------------------------------------
    // multipart upload (the large-object write path: real S3 caps a
    // single PutObject at 5 GiB, and a 100×-scale committer can emit
    // bigger files — CreateMultipartUpload / UploadPart /
    // CompleteMultipartUpload / AbortMultipartUpload, the standard four)
    // ------------------------------------------------------------------

    /** CopyObject — `PUT /dstKey` with `x-amz-copy-source` and NO body:
      * the service copies server-side, so a rename never moves object
      * bytes through the client (the committer's multi-GB task files
      * rename with constant client memory). Metadata is COPY-directive
      * (the default): the destination inherits the source's headers.
      * Real S3 caps one CopyObject at 5 GiB; [[copyObjectAuto]] routes
      * bigger objects through [[UploadPartCopy]] parts. */
    def copyObject(srcKey: String, dstKey: String): Unit = {
      val src = "/" + cfg.bucket + "/" + uriEncode(srcKey, keepSlash = true)
      val resp = request("PUT", dstKey, Nil, Array.emptyByteArray,
        Seq("x-amz-copy-source" -> src))
      if (resp.statusCode() != 200)
        throw new S3HttpError(resp.statusCode(), dstKey, new String(resp.body(), UTF_8))
      refuseErrorBody("CopyObject", dstKey, resp.body())
    }

    /** Bounded retry on RETRYABLE failures only — 5xx and transport
      * IOExceptions, the same discipline as putObject's loop — for the
      * part-grain multipart calls, which are idempotent by
      * (uploadId, partNumber). A 4xx surfaces immediately (caller bug);
      * the exhausted-retries surface is uniform (S3HttpError 599 wraps
      * a final transport failure). */
    private def retryingParts[A](key: String, maxAttempts: Int = 4)(body: => A): A = {
      var attempt = 1
      while (true) {
        try return body
        catch {
          case e: S3HttpError =>
            if (e.status / 100 != 5 || attempt >= maxAttempts) throw e
          case e: java.io.IOException =>
            if (attempt >= maxAttempts) {
              val wrapped = new S3HttpError(599, key,
                s"part call failed after $attempt attempts: ${e.getMessage}")
              wrapped.initCause(e)
              throw wrapped
            }
        }
        Thread.sleep(math.min(50L << (attempt - 1), 400L))
        attempt += 1
      }
      throw new IllegalStateException("unreachable")
    }

    /** Server-side copy of ONE part range (`UploadPartCopy`: UploadPart
      * with `x-amz-copy-source` + `x-amz-copy-source-range`) → ETag.
      * The range is inclusive, per the protocol's byte-range grammar. */
    def uploadPartCopy(srcKey: String, dstKey: String, uploadId: String,
                       partNumber: Int, first: Long, last: Long): String = {
      require(first >= 0 && last >= first, s"bad copy range $first-$last")
      val src = "/" + cfg.bucket + "/" + uriEncode(srcKey, keepSlash = true)
      retryingParts(dstKey) {
        val resp = request("PUT", dstKey,
          Seq("partNumber" -> partNumber.toString, "uploadId" -> uploadId),
          Array.emptyByteArray,
          Seq("x-amz-copy-source" -> src,
            "x-amz-copy-source-range" -> s"bytes=$first-$last"))
        if (resp.statusCode() != 200)
          throw new S3HttpError(resp.statusCode(), dstKey, new String(resp.body(), UTF_8))
        // the part's ETag rides the CopyPartResult BODY, not a header
        childText(parseXml(resp.body()).getDocumentElement, "ETag").map(_.trim).getOrElse(
          throw new java.io.IOException(s"UploadPartCopy $dstKey#$partNumber: no ETag"))
      }
    }

    /** Copy of ANY size, server-side: one CopyObject under `singleMax`
      * (real S3's cap is 5 GiB), else CreateMultipartUpload +
      * UploadPartCopy ranges + Complete — still zero object bytes
      * through the client, aborted on failure. */
    def copyObjectAuto(srcKey: String, dstKey: String, size: Long,
                       singleMax: Long = 5L << 30): Unit = {
      if (size <= singleMax) return copyObject(srcKey, dstKey)
      // the multipart arm must forward what CopyObject's COPY directive
      // forwards for free: the source's content headers and metadata
      val (_, srcType, srcEnc, srcMeta) = headObject(srcKey)
      val id = createMultipartUpload(dstKey,
        contentType = if (srcType.isEmpty) "application/octet-stream" else srcType,
        contentEncoding = srcEnc, meta = srcMeta)
      try {
        val parts = Seq.newBuilder[(Int, String)]
        var at = 0L
        var n = 1
        while (at < size) {
          val last = math.min(size, at + singleMax) - 1
          parts += ((n, uploadPartCopy(srcKey, dstKey, id, n, at, last)))
          at = last + 1
          n += 1
        }
        completeMultipartUpload(dstKey, id, parts.result())
      } catch {
        case e: Throwable =>
          try abortMultipartUpload(dstKey, id)
          catch { case a: Throwable => e.addSuppressed(a) }
          throw e
      }
    }

    /** Size + headers of an object WITHOUT its body (a 1-byte ranged GET
      * — same answer shape as a HEAD, which the JDK HttpClient builder
      * here doesn't special-case): (size, contentType, contentEncoding,
      * user metadata). */
    def headObject(key: String): (Long, String, String, Map[String, String]) = {
      val resp = request("GET", key, Nil, null, Seq("range" -> "bytes=0-0"))
      val size = resp.statusCode() match {
        case 206 => contentRangeTotal(resp, key)
        case 200 => resp.body().length.toLong
        case 416 =>
          // EMPTY object: the 416's headers belong to the ERROR response
          // (xml error body, no metadata) — fetch the real ones with a
          // plain GET, which is free for a 0-byte body
          val o = getObject(key)
          return (o.bytes.length.toLong, o.contentType, o.contentEncoding, o.meta)
        case other =>
          throw new S3HttpError(other, key, new String(resp.body(), UTF_8))
      }
      def hdr(n: String) = resp.headers().firstValue(n).orElse("")
      (size, hdr("Content-Type"), hdr("Content-Encoding"), userMeta(resp))
    }

    /** CreateMultipartUpload (`POST /key?uploads`) → UploadId. The
      * content headers declared here travel to the COMPLETED object. */
    def createMultipartUpload(key: String,
                              contentType: String = "application/octet-stream",
                              contentEncoding: String = "",
                              meta: Map[String, String] = Map.empty): String = {
      val headers = Seq("content-type" -> contentType) ++
        (if (contentEncoding.nonEmpty) Seq("content-encoding" -> contentEncoding) else Nil) ++
        meta.toSeq.map { case (k, v) => s"x-amz-meta-$k" -> v }
      val resp = request("POST", key, Seq("uploads" -> ""), null, headers)
      if (resp.statusCode() != 200)
        throw new S3HttpError(resp.statusCode(), key, new String(resp.body(), UTF_8))
      childText(parseXml(resp.body()).getDocumentElement, "UploadId").getOrElse(
        throw new java.io.IOException(s"CreateMultipartUpload $key: no UploadId"))
    }

    /** UploadPart (`PUT /key?partNumber=N&uploadId=`) → ETag, with the
      * same bounded 5xx/transport retry as putObject — a transient
      * failure on one of dozens of parts must not kill the whole
      * object's upload. */
    def uploadPart(key: String, uploadId: String, partNumber: Int,
                   bytes: Array[Byte]): String = {
      require(partNumber >= 1 && partNumber <= 10000,
        s"part number $partNumber outside S3's [1, 10000]")
      retryingParts(key) {
        val resp = request("PUT", key,
          Seq("partNumber" -> partNumber.toString, "uploadId" -> uploadId),
          bytes, Nil)
        if (resp.statusCode() / 100 != 2)
          throw new S3HttpError(resp.statusCode(), key, new String(resp.body(), UTF_8))
        resp.headers().firstValue("ETag").orElseThrow(() =>
          new java.io.IOException(s"UploadPart $key#$partNumber: no ETag"))
      }
    }

    /** CompleteMultipartUpload (`POST /key?uploadId=` with the ordered
      * part manifest). S3 verifies each part's ETag and stitches the
      * object atomically — the object is invisible until this returns. */
    def completeMultipartUpload(key: String, uploadId: String,
                                parts: Seq[(Int, String)]): Unit = {
      require(parts.nonEmpty, "complete with no parts")
      val xml = new StringBuilder("<CompleteMultipartUpload>")
      parts.sortBy(_._1).foreach { case (n, etag) =>
        // ETags are hex-quoted by the server; XML-escape is a no-op for
        // them but keeps hostile-input discipline if a server misbehaves
        xml.append(s"<Part><PartNumber>$n</PartNumber><ETag>${xmlEscape(etag)}</ETag></Part>")
      }
      xml.append("</CompleteMultipartUpload>")
      val resp = request("POST", key, Seq("uploadId" -> uploadId),
        xml.toString.getBytes(UTF_8), Seq("content-type" -> "application/xml"))
      if (resp.statusCode() != 200)
        throw new S3HttpError(resp.statusCode(), key, new String(resp.body(), UTF_8))
      refuseErrorBody("CompleteMultipartUpload", key, resp.body())
    }

    /** AbortMultipartUpload (`DELETE /key?uploadId=`) — frees staged
      * parts; idempotent like DeleteObject. */
    def abortMultipartUpload(key: String, uploadId: String): Unit = {
      val resp = request("DELETE", key, Seq("uploadId" -> uploadId), null, Nil)
      if (resp.statusCode() / 100 != 2 && resp.statusCode() != 404)
        throw new S3HttpError(resp.statusCode(), key, new String(resp.body(), UTF_8))
    }
  }

  // ======================================================================
  // object codec: CSE (AES-GCM + metadata marker) → gzip → NDJSON lines
  // ======================================================================

  /** Decode one object to NDJSON lines, honoring the reference's layers
    * in ITS order (`reader.go:64-147`): metadata-flagged CSE first, then
    * Content-Encoding gzip, then line split (blank lines dropped). A
    * keyless reader hitting a CSE object fails loudly (never returns
    * ciphertext as data), and inflation is BOUNDED — a network peer's
    * 10 KB gzip bomb must not provoke a multi-GiB allocation (the same
    * ingress rule as every relay edge). */
  def decodeNdjson(obj: S3Object, cseKey: Option[Array[Byte]],
                   maxInflatedBytes: Int = SealedRelay.DefaultMaxInflatedBytes): Seq[String] = {
    val afterCse = obj.meta.get(CseMetaKey).map(_.toLowerCase) match {
      case Some(CseModeAesGcm) =>
        val key = cseKey.getOrElse(throw new SecurityException(
          s"object is client-side encrypted ($CseModeAesGcm) and no key was configured"))
        graft.functions.Crypto.aesGcmDecryptBytes(obj.bytes, key)
      case Some(other) =>
        throw new SecurityException(s"unknown CSE mode '$other'")
      case None => obj.bytes
    }
    val plain =
      if (obj.contentEncoding.equalsIgnoreCase("gzip"))
        graft.functions.Codecs.gunzipBounded(afterCse, maxInflatedBytes)
      else afterCse
    new String(plain, UTF_8).split('\n').iterator
      .map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Encode NDJSON lines into object bytes + headers (gzip then CSE,
    * inverse layer order of [[decodeNdjson]]). Returns (bytes,
    * contentEncoding, metadata). */
  def encodeNdjson(lines: Seq[String], gzipEnc: Boolean,
                   cseKey: Option[Array[Byte]]): (Array[Byte], String, Map[String, String]) = {
    val raw = (lines.mkString("\n") + "\n").getBytes(UTF_8)
    val zipped = if (gzipEnc) graft.functions.Codecs.gzip(raw) else raw
    cseKey match {
      case Some(k) =>
        (graft.functions.Crypto.aesGcmEncryptBytes(zipped, k),
          if (gzipEnc) "gzip" else "", Map(CseMetaKey -> CseModeAesGcm))
      case None => (zipped, if (gzipEnc) "gzip" else "", Map.empty)
    }
  }

  // ======================================================================
  // key templating (writer_helpers.go:327-360)
  // ======================================================================

  /** The reference's `{yyyy}/{MM}/{dd}/{HH}/{mm}/{ts}/{ulid}` template
    * grammar over an injectable clock/uniqueness (deterministic tests). */
  def renderKey(prefixTemplate: String, nameTemplate: String,
                nowUtcMs: Long, ulid: String): String = {
    val t = Instant.ofEpochMilli(nowUtcMs).atZone(ZoneOffset.UTC)
    val repl = Seq(
      "{yyyy}" -> f"${t.getYear}%04d", "{MM}" -> f"${t.getMonthValue}%02d",
      "{dd}" -> f"${t.getDayOfMonth}%02d", "{HH}" -> f"${t.getHour}%02d",
      "{mm}" -> f"${t.getMinute}%02d", "{ts}" -> nowUtcMs.toString,
      "{ulid}" -> ulid)
    def fill(s: String) = repl.foldLeft(s) { case (acc, (k, v)) => acc.replace(k, v) }
    val prefix0 = fill(prefixTemplate)
    val prefix = if (prefix0.isEmpty || prefix0.endsWith("/")) prefix0 else prefix0 + "/"
    val name = fill(if (nameTemplate.isEmpty) "{ts}-{ulid}" else nameTemplate)
    prefix + name
  }

  // ======================================================================
  // reader: listing-checkpointed NDJSON poller (reader.go:30-190)
  // ======================================================================

  /** S3 key comparison: ListObjectsV2 (and `start-after`) order keys by
    * UTF-8 BYTE value, which diverges from Java's UTF-16 `String`
    * ordering for supplementary-plane characters (U+10000.. sort below
    * U+E000..U+FFFF in UTF-16 code units but above them as UTF-8
    * bytes). Anything that picks a floor/tip among keys must use THIS
    * order or disagree with the service about what "after" means. */
  val utf8ByteOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The reference reader's poll unit: one `fetch()` sweeps every object
    * strictly AFTER the checkpoint floor (paginated ListObjectsV2),
    * skips keys already delivered, GETs + decodes the rest in listing
    * order, and only THEN advances the checkpoint — so a crash
    * mid-sweep re-reads from the same checkpoint (at-least-once within
    * a sweep) and a restart never re-reads completed sweeps. Checkpoint
    * is externalizable (`checkpoint`/`restore`) so a durable caller
    * (the spool bridge) makes the whole chain exactly-once.
    *
    * `lookbackKeys` (default 0 = the reference behavior) is the cursor
    * sources' CDC hardening applied to the LISTING edge: several
    * producers writing time-templated keys can land an object
    * lexicographically BELOW the last key seen (producer clock skew, a
    * retried upload finishing late), and a `startAfter` checkpoint at
    * the tip would miss it forever. With a window, each sweep re-lists
    * from the floor — the key `lookbackKeys` delivered keys below the
    * tip — and dedupes on the `seen` keys riding the checkpoint, so a
    * late key INSIDE the window ships exactly once and the miss caveat
    * narrows to "landed more than lookbackKeys keys behind the tip".
    * Cost per sweep: at most `lookbackKeys` extra LISTING entries (one
    * extra page, typically); objects are never re-GET — dedup is on
    * keys, before the fetch. With a window the checkpoint serializes as
    * JSON `{"floor":...,"seen":[...]}`; plain legacy checkpoints
    * restore unchanged (template-rendered keys never start with '{').
    *
    * DOWNGRADE HAZARD: the windowed JSON form is one-way. A rollback to
    * a pre-lookback build restores the JSON blob as a plain startAfter
    * key — and '{' (0x7B) sorts above most ASCII key bytes, so the old
    * build would silently skip objects rather than fail. Upgrades are
    * safe both ways ([[checkpoint]] emits the bare-floor form whenever
    * `seen` is empty, which a window-less poller always satisfies), but
    * once a `lookbackKeys > 0` poller has written a windowed
    * checkpoint, roll FORWARD only — or clear the checkpoint and accept
    * a re-read from the floor. */
  final class NdjsonPoller(http: S3Http, prefix: String,
                           pageSize: Int = 1000,
                           cseKey: Option[Array[Byte]] = None,
                           lookbackKeys: Int = 0) {
    require(lookbackKeys >= 0, s"lookbackKeys must be non-negative: $lookbackKeys")
    // ONE volatile (floor, seen) pair: checkpoint() racing fetch() must
    // snapshot a state the poller actually held — two separate fields
    // could serialize (new floor, stale seen) and a restore from that
    // torn pair would re-ship an already-delivered key
    @volatile private var state: (String, Vector[String]) = ("", Vector.empty)

    def checkpoint: String = {
      val (floor, seen) = state
      // a bare floor that ITSELF matches the windowed marker must be
      // escaped into the JSON form, or restore(checkpoint) would
      // misparse the poller's own output (keys are arbitrary bytes)
      if (seen.isEmpty && !floor.startsWith(NdjsonPoller.marker)) floor
      else {
        val m = Auth.mapper.createObjectNode()
        m.put("floor", floor)
        val arr = m.putArray("seen")
        seen.foreach(arr.add)
        m.toString
      }
    }

    /** Windowed checkpoints carry the exact marker `{"floor":` —
      * discriminating on THAT (not a bare '{') keeps legacy plain-key
      * checkpoints restorable even for prefixes whose keys legitimately
      * start with a brace (renderKey passes unknown `{tokens}` through
      * verbatim); a bare key matching the full marker is escaped by
      * [[checkpoint]] itself, closing the round-trip. State mutates
      * only after FULL validation — a caller that survives the throw
      * keeps the previous consistent state. `synchronized` with
      * [[fetch]]: a rollback-restore racing an in-flight sweep would
      * otherwise be clobbered by the sweep's final state write. */
    def restore(ck: String): Unit = synchronized {
      if (ck.startsWith(NdjsonPoller.marker)) {
        val n =
          try Auth.mapper.readTree(ck)
          catch { case e: Exception =>
            throw new IllegalArgumentException(s"bad poller checkpoint: $ck", e) }
        require(n != null && n.isObject && n.path("floor").isTextual,
          s"bad poller checkpoint: $ck")
        // a non-array `seen` must be LOUD: elements() on a scalar is an
        // empty iterator, which would silently restore with no dedup
        // state and re-ship the whole window
        require(!n.has("seen") || n.path("seen").isArray,
          s"bad poller checkpoint: $ck")
        import scala.jdk.CollectionConverters._
        val seen =
          if (!n.has("seen")) Vector.empty[String]
          else n.path("seen").elements().asScala.map { e =>
            require(e.isTextual, s"bad poller checkpoint: $ck")
            e.asText()
          }.toVector
        state = (n.path("floor").asText(), seen)
      } else state = (ck, Vector.empty)
    }

    /** One sweep: (lines, keysRead). Empty when nothing is new (the
      * reference's 204 arm). */
    def fetch(): (Seq[String], Seq[String]) = {
      val keyed = fetchKeyed()
      (keyed.flatMap(_._2), keyed.map(_._1))
    }

    /** One sweep, keyed: (key, its decoded lines) in listing order — the
      * buffering form of [[sweepKeyed]] for small feeds. Callers that
      * land each object somewhere durable should use [[sweepKeyed]]
      * directly: buffering materializes every fresh object's decoded
      * lines at once, which on a LARGE unswept backlog (a bridge's first
      * sweep over an existing prefix) is the whole prefix in driver
      * memory. */
    def fetchKeyed(): Seq[(String, Seq[String])] = {
      // advancePartial = false: sweepKeyed's landed-prefix advance is
      // only correct when `land` makes the data DURABLE, but the
      // buffering form hands data to the caller only on full success —
      // and the lock-free checkpoint() must NEVER observe (even
      // transiently) a cursor past keys the caller did not receive, so
      // the failure path must write no state at all rather than
      // advance-then-rollback
      val buf = Vector.newBuilder[(String, Seq[String])]
      sweepImpl((k, lines) => buf += (k -> lines), advancePartial = false)
      buf.result()
    }

    /** One sweep, STREAMED: list the fresh keys, then GET + decode +
      * `land` ONE OBJECT AT A TIME — driver memory is bounded by the
      * largest single object, never the backlog. The cursor advances
      * over exactly the keys whose `land` completed (in the failure
      * case, the landed prefix): a key whose landing threw stays
      * sweepable, and — because the advance happens only AFTER its
      * landing — a crash/throw can never persist a cursor past an
      * unlanded key. Returns the fresh-key count. `synchronized` with
      * [[restore]] (see there); [[checkpoint]] stays lock-free on the
      * volatile pair. */
    def sweepKeyed(land: (String, Seq[String]) => Unit): Int =
      sweepImpl(land, advancePartial = true)

    /** `advancePartial`: whether a mid-sweep throw still advances the
      * cursor over the landed prefix. True for durable `land`s
      * ([[sweepKeyed]]); false for the buffering [[fetchKeyed]], whose
      * failure path must write NO state — the lock-free [[checkpoint]]
      * must never observe, even transiently, a cursor past keys the
      * caller did not receive (advance-then-rollback would open exactly
      * that window). */
    private def sweepImpl(land: (String, Seq[String]) => Unit,
                          advancePartial: Boolean): Int = synchronized {
      val (floor, seen) = state
      val listed = http.listAll(prefix, floor, pageSize)
      val seenSet = seen.toSet
      val fresh = listed.filterNot(seenSet)
      val landedKeys = Vector.newBuilder[String]
      var ok = false
      try {
        fresh.foreach { k =>
          land(k, decodeNdjson(http.getObject(k), cseKey))
          landedKeys += k
        }
        ok = true
      } finally if (ok || advancePartial) {
        // advance over what actually landed — on success all of `fresh`,
        // after a mid-sweep throw the landed prefix (so the retrying
        // caller re-lists only from the failure onward)
        val done = landedKeys.result()
        if (done.nonEmpty) {
          // S3's listing (and start-after) order is UTF-8 BYTE order; the
          // floor must be chosen in the same order or a supplementary-
          // plane key could be trimmed below the floor in UTF-16 order
          // yet still list above it — and re-ship as a duplicate. Bytes
          // are cached per key so the sort encodes each key once.
          val delivered = (seen ++ done)
            .map(k => (k.getBytes(java.nio.charset.StandardCharsets.UTF_8), k))
            .sortWith((p, q) => java.util.Arrays.compareUnsigned(p._1, q._1) < 0)
            .map(_._2)
          state =
            if (delivered.size > lookbackKeys) {
              val cut = delivered.size - lookbackKeys
              (delivered(cut - 1), delivered.drop(cut))
            } else (floor, delivered)
        }
      }
      fresh.size
    }
  }

  private[sources] object NdjsonPoller {
    /** The windowed-checkpoint discriminator (see [[NdjsonPoller.restore]]). */
    val marker: String = """{"floor":"""
  }

  /** The durable streaming form of the listing-checkpointed poller — the
    * "spool bridge" [[NdjsonPoller]]'s scaladoc promises, and the
    * `readStream` entry that makes `lookbackKeys` reachable (the
    * `graft-s3://` file tail rides mtime-based listing with its own
    * seen-map; THIS path is for cursor-checkpointed NDJSON polling with
    * the out-of-order key window). Run [[pollOnce]] on the reference's
    * poll cadence (`reader.go:30-62` Serve loop); consume via [[raw]] /
    * [[jsonStream]], a checkpointed Spark file source over the spool.
    *
    * Exactly-once across kill/restart from either side — the Kafka
    * [[Kafka.SpoolConsumer]] shape (offset-named spool files + broker
    * commit) adapted to the listing edge:
    *  - each swept object lands as ONE atomically-renamed spool file at
    *    a DETERMINISTIC path, `spool-<sha1(key)>.ndjson`;
    *  - the poller checkpoint persists atomically AFTER the sweep's
    *    files land (`_bridge-checkpoint` — '_'-prefixed, so the file
    *    source's hidden-file filter never ships it as data);
    *  - a crash between the two re-sweeps the same keys on restart and
    *    re-lands the same paths, which is invisible downstream: Spark's
    *    file source dedupes by PATH (and the content is identical — one
    *    immutable object, one decode). Even a path already reaped by
    *    [[Spool.retire]] stays in the source's seen map (the spool
    *    reader disables maxFileAge), so a re-created file is ignored,
    *    never re-shipped.
    * The checkpoint file carries the windowed JSON form when
    * `lookbackKeys > 0` — the poller's downgrade-hazard note applies to
    * it verbatim. */
  final class NdjsonSpoolBridge(spark: SparkSession, http: S3Http,
                                prefix: String, spoolDir: String,
                                pageSize: Int = 1000,
                                cseKey: Option[Array[Byte]] = None,
                                lookbackKeys: Int = 0,
                                maxFilesPerTrigger: Option[Int] = None) {
    import org.apache.hadoop.fs.{Options, Path}

    private val poller = new NdjsonPoller(http, prefix, pageSize, cseKey, lookbackKeys)
    private val (fs, root) = Spool.open(spark, spoolDir)
    private val ckptFile = new Path(root, "_bridge-checkpoint")
    if (fs.exists(ckptFile)) { // resume the listing cursor
      val in = fs.open(ckptFile)
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), UTF_8) finally in.close()
      poller.restore(s)
    }

    /** The deterministic spool identity for one object key —
      * [[Spool.writeAtomicAt]] turns it into `spool-<sha1>.ndjson`, so a
      * crash-restore re-sweep lands the SAME path (exists-skip here,
      * path-dedup downstream). */
    private def keyHash(key: String): String =
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(key.getBytes(UTF_8)).map(b => f"$b%02x").mkString

    // a persisted-checkpoint attempt that FAILED leaves the in-memory
    // cursor ahead of the durable one; re-persist on the next poll even
    // if that poll sweeps nothing, so the durable cursor converges
    // without waiting for new data (a crash meanwhile only costs an
    // exists-skip re-sweep, never a loss — the files already landed)
    private var ckptDirty = false

    /** One sweep: list → GET + idempotent land ONE OBJECT AT A TIME →
      * checkpoint persist. Returns (lines NEWLY landed — a re-swept key
      * whose file already exists counts 0, so the value is an honest
      * landing metric across crash-restores — and objects swept).
      * Driver memory is bounded by the largest single object
      * ([[NdjsonPoller.sweepKeyed]]), never the backlog — the first
      * sweep of a large existing prefix must not buffer the prefix.
      * Failure safety needs no rollback by construction: the poller's
      * cursor advances only over keys whose landing COMPLETED, so a
      * landing throw leaves the failed key (and everything after it)
      * sweepable, and the spool-first-commit-after invariant (the Kafka
      * bridge's) holds — the persisted checkpoint can never pass an
      * unlanded key. */
    def pollOnce(): (Int, Int) = {
      var landed = 0
      var advanced = 0 // completed land callbacks = keys the cursor passed
      val swept =
        try poller.sweepKeyed { (key, lines) =>
          // the shared durability-critical sequence (tmp+hsync+rename-or-
          // exists) — ONE copy for every spool producer. mayExist=true:
          // the deterministic sha1 name is exactly the re-sweep/crash-
          // restore collision the probe exists for, and a skipped key
          // counts 0 (the honest newly-landed metric).
          if (Spool.writeAtomicAt(fs, root,
              lines.map(_ + "\n").mkString.getBytes(UTF_8), keyHash(key),
              mayExist = true))
            landed += lines.size
          advanced += 1
        } catch {
          case e: Throwable =>
            // a partial sweep still advanced the cursor over its landed
            // prefix — the next poll must persist even if it sweeps 0
            if (advanced > 0) ckptDirty = true
            throw e
        }
      if (swept > 0 || ckptDirty) {
        ckptDirty = true // a throw below keeps it set for the next poll
        persistCheckpoint()
        ckptDirty = false
      }
      (landed, swept)
    }

    /** Atomic checkpoint replace (the Fs.publishVersion dance): complete
      * tmp, then FileContext rename with OVERWRITE — a concurrent restart
      * reads the old checkpoint or the new one, never a torn one. */
    private def persistCheckpoint(): Unit = {
      val q = fs.makeQualified(root)
      val tmp = new Path(q, s"._bridge-checkpoint.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try { out.write(poller.checkpoint.getBytes(UTF_8)); out.hsync() }
      finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(q.toUri, fs.getConf)
      fc.rename(tmp, new Path(q, "_bridge-checkpoint"), Options.Rename.OVERWRITE)
    }

    /** Checkpoint-recoverable stream over the landed records (one string
      * per NDJSON line). */
    def raw: org.apache.spark.sql.Dataset[String] =
      Spool.readStream(spark, spoolDir, maxFilesPerTrigger)

    def jsonStream(schema: org.apache.spark.sql.types.StructType): DataFrame =
      Sources.jsonLines(raw.toDF("value"), "value", schema)
  }

  // ======================================================================
  // writer: templated keys + budget flush (writer_helpers.go:148-258)
  // ======================================================================

  /** NDJSON writer with the reference's flush budgets (maxRecords /
    * maxBytes) and templated keys; every flush is one PutObject with
    * bounded retry. `clock`/`unique` are injectable for deterministic
    * keys in tests (and double as the ULID slot). */
  final class NdjsonWriter(http: S3Http, prefixTemplate: String,
                           nameTemplate: String = "{ts}-{ulid}",
                           maxRecords: Int = 1000, maxBytes: Int = 1 << 20,
                           gzipEnc: Boolean = false,
                           cseKey: Option[Array[Byte]] = None,
                           sseMode: String = "",
                           clock: () => Long = () => System.currentTimeMillis(),
                           unique: () => String = () => java.util.UUID.randomUUID().toString.replace("-", "")) {
    private val buf = Vector.newBuilder[String]
    private var n = 0
    private var bytes = 0L

    // UTF-8 byte length without allocating the encoded array — the flush
    // budget is a BYTE budget (the reference's), and char count would
    // undercount non-ASCII payloads by up to 3x
    private def utf8Len(s: String): Int = {
      var i = 0
      var len = 0
      while (i < s.length) {
        val c = s.charAt(i)
        len += (if (c < 0x80) 1 else if (c < 0x800) 2
                else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
        i += 1
      }
      len
    }

    /** Returns the key flushed to, when this add crossed a budget. */
    def add(line: String): Option[String] = {
      buf += line
      n += 1
      bytes += utf8Len(line) + 1
      if (n >= maxRecords || bytes >= maxBytes) flush() else None
    }

    def flush(): Option[String] = {
      if (n == 0) None
      else {
        val key = renderKey(prefixTemplate, nameTemplate, clock(), unique()) + ".ndjson"
        val (payload, enc, meta) = encodeNdjson(buf.result(), gzipEnc, cseKey)
        http.putObject(key, payload, contentEncoding = enc, meta = meta,
          sseMode = sseMode)
        buf.clear(); n = 0; bytes = 0L
        Some(key)
      }
    }
  }

  // ======================================================================
  // Spark integration: distributed bulk read (one task per object)
  // ======================================================================

  /** Distributed NDJSON read of every object under `prefix` (after
    * `startAfter`): the LISTING happens once driver-side (control-plane
    * sized — keys only), then each Spark task GETs and decodes its slice
    * of the keys with ONE client — at 1000 executors each pulls its own
    * slice of the bucket, nothing funnels through the driver. Returns
    * one `value` row per NDJSON line; decode with [[Sources.jsonLines]]. */
  def readNdjson(spark: SparkSession, cfg: S3Config, prefix: String,
                 startAfter: String = "",
                 cseKey: Option[Array[Byte]] = None): DataFrame = {
    val keys = new S3Http(cfg).listAll(prefix, startAfter)
    import spark.implicits._
    // task count tracks cluster parallelism, not key count: a JDK
    // HttpClient (selector thread + pool, no close() before Java 21) is
    // built ONCE per task and serves every key in its slice — a
    // million-object sweep must not spin up a million clients
    val parts = math.max(1, math.min(keys.size,
      spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext
      .parallelize(keys, parts)
      .mapPartitions { it =>
        // executor-side client from the serializable config
        val http = new S3Http(cfg)
        it.flatMap(key => decodeNdjson(http.getObject(key), cseKey))
      }.toDF("value")
  }
}
