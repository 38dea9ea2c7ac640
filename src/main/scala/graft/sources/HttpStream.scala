package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.reliability.Backoff

/** S3's HTTP client `Serve` poll loop as a CHECKPOINTED Structured
  * Streaming source — `readStream.format("graft-http")` — closing the
  * last reference `Serve` loop without the streaming-offset treatment its
  * S3 (`GraftS3FileSystem` tail) and Postgres (`graft-jdbc`) siblings
  * received. The reference re-fetches the endpoint on a ticker
  * and re-submits whatever comes back
  * (`/root/reference/pkg/internal/adapter/httpclient/serve.go:13-67`,
  * retry policy in `attemptFetchAndSubmit` at `:70-110`); the Spark-first
  * form checkpoints WHERE THE FEED LEFT OFF so a restart resumes from the
  * offset log instead of re-polling blind.
  *
  * Two offset modes, picked by the shape of the endpoint:
  *
  *  - **Cursor mode** (`cursorField` set): the feed is append-monotonic —
  *    each record carries a numeric cursor (max id, sequence, epoch
  *    time) and the endpoint can be asked for "records after X" (a
  *    `{cursor}` placeholder in the URL, or a query parameter named by
  *    `cursorParam`). The offset log checkpoints the high-water mark;
  *    each record ships in exactly one micro-batch, and an uncommitted
  *    epoch replays after a crash by RE-FETCHING from its start mark and
  *    filtering to the logged epoch — the same exactly-once contract as
  *    `graft-jdbc`. A `lookback` window (cursor units, the standard CDC
  *    hardening) re-polls below the high-water mark each trigger so a
  *    record that COMMITS OUT OF ORDER inside the window still ships
  *    exactly once; [[CursorWindow]] holds the window contract and its
  *    concurrent-commit caveat (cap the per-epoch advance with
  *    `maxRecordsPerPoll` when concurrent late commits matter).
  *  - **Change-detection mode** (no `cursorField`): the endpoint is a
  *    document that occasionally changes. Each poll is a conditional GET
  *    (`If-None-Match` / `If-Modified-Since`); the offset is a version
  *    counter plus the validator (ETag, else Last-Modified, else a
  *    SHA-256 of the body for validator-less endpoints). Unchanged
  *    content is a 304 / hash-match → no batch; changed content ships
  *    the full new document as one batch. Replay of an uncommitted epoch
  *    re-fetches CURRENT content (a snapshot feed has no "as of version
  *    N" query) — at-least-once with last-writer-wins, documented, which
  *    is what a static-endpoint poll can honestly promise.
  *
  * OAuth2 client-credentials and TLS certificate pinning ride the poll
  * path exactly as on the batch/MemoryStream adapter: `oauthTokenUrl` /
  * `oauthClientId` / `oauthClientSecret` / `oauthScope` inject a cached
  * bearer token ([[OAuth2ClientCredentials]]), `pinnedCertPath` routes
  * every fetch through the pinned transport ([[Http.getFull]]).
  *
  * Scale note: an HTTP poll of one endpoint is inherently a single-node
  * ingest edge (the reference adapter is the same) — the driver runs one
  * control-plane-sized GET per trigger and per planned epoch; records
  * ship to executors inside the input partitions and everything
  * downstream distributes normally. High-volume ingest belongs to the
  * Kafka/file edges (S4/S5/S6).
  *
  * Options: `url` (required; may contain `{cursor}`), `cursorField`,
  * `cursorParam` (default `after`), `startingCursor`
  * (`earliest`|`latest`|explicit long), `maxRecordsPerPoll` (admission
  * control), `pagesPerPoll` (drain a backlog with several chained GETs
  * per trigger), `numPartitions`, `format` (`ndjson` default |
  * `jsonarray`), `attempts` (per-fetch retry budget, full-jitter backoff
  * — the reference `maxRetries`), `timeoutMillis`, `header.<Name>`
  * static headers, `lookback` (cursor-mode out-of-order window, CURSOR
  * UNITS; 0 = strict append-monotonic) and `maxSeenMarks` (the window's
  * mark ceiling, default [[CursorWindow.defaultMaxSeenMarks]]) — both
  * as [[CursorWindow.Opts]] — and the OAuth/pinning options above.
  *
  * Schema is fixed: one `value STRING` column per record (the codec
  * split the reference applies); parse downstream with `from_json`.
  */
final class GraftHttpProvider extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-http"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpStream.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftHttpTable(HttpStream.Opts(new CaseInsensitiveStringMap(properties)))
}

private[sources] final class GraftHttpTable(opts: HttpStream.Opts)
  extends Table with SupportsRead {
  override def name(): String = s"graft-http:${opts.url}"
  override def schema(): StructType = HttpStream.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = HttpStream.schema
        override def description(): String = s"graft-http ${opts.url}"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          if (opts.cursorField.nonEmpty) new GraftHttpCursorStream(opts)
          else new GraftHttpSnapshotStream(opts)
      }
    }
}

object HttpStream {

  /** One `value STRING` per record — the reference submits the decoded
    * body records to the wire the same way (`serve.go:96`). */
  val schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))

  final case class Opts(url: String, cursorField: String, cursorParam: String,
                        maxRecordsPerPoll: Option[Long],
                        pagesPerPoll: Int, numPartitions: Int, format: String,
                        attempts: Int, timeoutMillis: Long,
                        headers: Map[String, String],
                        pinnedCertPath: Option[String],
                        oauth: Option[(String, String, String, Option[String])],
                        window: CursorWindow.Opts)

  object Opts {
    def apply(o: CaseInsensitiveStringMap): Opts = {
      val url = o.get("url")
      require(url != null && url.nonEmpty, "graft-http: option 'url' is required")
      import scala.jdk.CollectionConverters._
      val headers = o.asCaseSensitiveMap().asScala.collect {
        case (k, v) if k.toLowerCase.startsWith("header.") =>
          k.substring("header.".length) -> v
      }.toMap
      val oauth = Option(o.get("oauthTokenUrl")).filter(_.nonEmpty).map { tu =>
        (tu, Option(o.get("oauthClientId")).getOrElse(""),
          Option(o.get("oauthClientSecret")).getOrElse(""),
          Option(o.get("oauthScope")).filter(_.nonEmpty))
      }
      val parsed = Opts(url,
        Option(o.get("cursorField")).getOrElse(""),
        Option(o.get("cursorParam")).getOrElse("after"),
        Option(o.get("maxRecordsPerPoll")).map(_.toLong),
        Option(o.get("pagesPerPoll")).map(_.toInt).getOrElse(1),
        Option(o.get("numPartitions")).map(_.toInt).getOrElse(1),
        Option(o.get("format")).getOrElse("ndjson").toLowerCase,
        Option(o.get("attempts")).map(_.toInt).getOrElse(5),
        Option(o.get("timeoutMillis")).map(_.toLong).getOrElse(10000L),
        headers, Option(o.get("pinnedCertPath")).filter(_.nonEmpty), oauth,
        CursorWindow.Opts("graft-http", "startingCursor", o))
      // misconfigurations fail at load, loudly — a pagesPerPoll=0 stream
      // would otherwise run "healthy" forever shipping zero rows, and a
      // typo'd format would silently parse a JSON array as one NDJSON line
      require(parsed.pagesPerPoll > 0,
        s"graft-http: pagesPerPoll must be positive, got ${parsed.pagesPerPoll}")
      require(parsed.numPartitions > 0,
        s"graft-http: numPartitions must be positive, got ${parsed.numPartitions}")
      require(parsed.attempts > 0,
        s"graft-http: attempts must be positive, got ${parsed.attempts}")
      require(parsed.maxRecordsPerPoll.forall(_ > 0),
        s"graft-http: maxRecordsPerPoll must be positive")
      require(parsed.format == "ndjson" || parsed.format == "jsonarray",
        s"graft-http: format must be ndjson|jsonarray, got '${parsed.format}'")
      require(parsed.timeoutMillis > 0,
        s"graft-http: timeoutMillis must be positive, got ${parsed.timeoutMillis}")
      require(parsed.window.lookback == 0 || parsed.cursorField.nonEmpty,
        "graft-http: lookback requires cursorField (cursor mode)")
      parsed
    }
  }

  private[sources] def decode(opts: Opts): String => Seq[String] =
    opts.format match {
      case "jsonarray" => HttpPollSource.jsonArrayElements
      case _ => HttpPollSource.ndjsonLines
    }

  /** Record → cursor mark. The field must exist and be numeric (or a
    * numeric string) in EVERY record — a feed that omits its own cursor
    * is a config error, surfaced loudly rather than silently dropped. */
  private[sources] def markOf(record: String, field: String): Long = {
    val node = Auth.mapper.readTree(record).path(field)
    if (node.isNumber) node.asLong()
    else if (node.isTextual && node.asText().matches("-?\\d+")) node.asText().toLong
    else throw new IllegalArgumentException(
      s"graft-http: record has no numeric cursorField '$field': " +
        record.take(200))
  }

  /** True when an SSL handshake failure is really a TRANSPORT failure in
    * disguise: JDK 11+ wraps a peer reset/EOF mid-handshake in
    * SSLHandshakeException, which must stay retriable — only
    * verification failures (pin mismatch, untrusted chain, bad
    * hostname: a CertificateException/ValidatorException in the chain,
    * or no transport cause at all) are permanent. */
  private[sources] def transportCaused(e: Throwable): Boolean = {
    var c = e.getCause
    var depth = 0
    while (c != null && depth < 16) {
      c match {
        case _: java.security.cert.CertificateException => return false
        case _: java.net.SocketException => return true
        case _: java.net.SocketTimeoutException => return true
        case _: java.io.EOFException => return true
        case _ => ()
      }
      c = c.getCause
      depth += 1
    }
    false
  }

  /** `{cursor}` substitution, else `cursorParam` appended. */
  private[sources] def cursorUrl(opts: Opts, mark: Long): String =
    if (opts.url.contains("{cursor}")) opts.url.replace("{cursor}", mark.toString)
    else {
      val sep = if (opts.url.contains("?")) "&" else "?"
      s"${opts.url}$sep${opts.cursorParam}=$mark"
    }
}

/** Shared fetch plumbing: static headers + lazily-refreshed OAuth bearer
  * + pinning, with the reference's full-jitter retry per call. */
private[sources] trait HttpStreamFetch {
  def opts: HttpStream.Opts
  /** Injectable for deterministic tests (jitter sleeps). */
  protected def retrySleep: Long => Unit = Thread.sleep

  private lazy val oauthClient: Option[OAuth2ClientCredentials] =
    opts.oauth.map { case (tu, id, secret, scope) =>
      new OAuth2ClientCredentials(tu, id, secret, scope)
    }

  protected def requestHeaders(extra: Map[String, String]): Map[String, String] =
    opts.headers ++ oauthClient.fold(Map.empty[String, String])(_.authHeader()) ++ extra

  /** One GET with retries; non-2xx (other than the allowed set) throws
    * inside the retry loop so transient failures heal (`serve.go`
    * retry). Only TRANSIENT statuses retry — 5xx, 408 (request
    * timeout), 429 (rate limit) — plus transport IOExceptions; a
    * permanent 4xx (bad URL, rejected auth) fails the first time
    * instead of burning the whole jittered budget per trigger. */
  protected def fetchRetry(url: String, extra: Map[String, String] = Map.empty,
                           allow: Int => Boolean = s => s >= 200 && s < 300): Http.Resp =
    Backoff.retry(attempts = opts.attempts, sleep = retrySleep,
      retriable = {
        case se: Http.StatusException =>
          se.status >= 500 || se.status == 408 || se.status == 429
        // a pin mismatch / untrusted chain / bad hostname is configuration,
        // not weather — burning the jittered budget per trigger can't heal
        // it. BUT modern JDKs also surface a TCP reset/EOF DURING the
        // handshake as SSLHandshakeException ("Remote host terminated the
        // handshake") — that is weather; classify by the cause chain.
        case se: javax.net.ssl.SSLHandshakeException =>
          HttpStream.transportCaused(se)
        case _: javax.net.ssl.SSLPeerUnverifiedException => false
        // malformed url / bad option values are permanent by definition
        case _: IllegalArgumentException => false
        case _ => true // transport errors (connect reset, timeout)
      }) { () =>
      val r = Http.getFull(url, requestHeaders(extra), opts.timeoutMillis,
        opts.pinnedCertPath)
      if (!allow(r.status)) throw new Http.StatusException(r.status, url)
      r
    }
}

private[sources] class GraftHttpCursorStream(val opts: HttpStream.Opts)
  extends MicroBatchStream with SupportsAdmissionControl with HttpStreamFetch {

  private val decode = HttpStream.decode(opts)
  private val window =
    new CursorWindow("graft-http", "mark", opts.window, CursorWindow.minMark)

  // the fresh-path cache: the epoch latestOffset just discovered, so
  // planInputPartitions doesn't pay a second round of GETs. Keyed by the
  // (start, end) offset jsons — with a lookback window two epochs can
  // share an hwm and differ only in `seen`. One epoch only — replaced
  // each poll, so memory is bounded by one poll's records.
  @volatile private var cached: (String, String, Array[String]) = _

  // records already fetched PAST an admission-capped epoch's end mark:
  // the next poll starting exactly at that end consumes them instead of
  // re-fetching — without this, draining an n-record backlog under a
  // small budget re-transfers each page once per epoch it spans
  // (O(n²/pageSize) bytes). Bounded by one poll's fetch.
  @volatile private var pendingPast: (String, Vector[(Long, String)]) = _

  /** Chained page walk from `from`: GET with cursor=mark, keep records
    * whose mark advances, follow with cursor=new max, until a page adds
    * nothing new, `pages` pages are spent, or the walk reaches
    * the bound this walk runs under. Two explicit modes so a call site
    * cannot LOOK page-budgeted while it is not:
    *  - [[pollPages]]: the live forward tail, budgeted by `pages`;
    *  - [[pollRange]]: a bounded mark range walked to COMPLETION (the
    *    lookback window scan and crash replay — a page cap there would
    *    silently under-cover the range).
    * Returns records in arrival order with their marks. */
  private def pollPages(from: Long, pages: Int): Vector[(Long, String)] =
    walk(from, pages, Long.MaxValue)
  private def pollRange(from: Long, untilMark: Long): Vector[(Long, String)] =
    walk(from, Int.MaxValue, untilMark)
  private def walk(from: Long, pages: Int,
                   stopAtMark: Long): Vector[(Long, String)] = {
    val out = Vector.newBuilder[(Long, String)]
    var mark = from
    var page = 0
    var progress = true
    while (progress && mark < stopAtMark && page < pages) {
      val body = fetchRetry(HttpStream.cursorUrl(opts, mark)).body
      val recs = decode(body)
        .map(r => (HttpStream.markOf(r, opts.cursorField), r))
        .filter(_._1 > mark) // endpoints may return the cursor row inclusively
      progress = recs.nonEmpty
      if (progress) {
        out ++= recs
        mark = recs.map(_._1).max
      }
      page += 1
    }
    out.result()
  }

  override def initialOffset(): Offset = {
    val mark = opts.window.start.toLowerCase match {
      case "earliest" => CursorWindow.minMark
      case "latest" =>
        // walk the feed to its current END (page-limited endpoints need
        // the full walk to find the true max) keeping only the mark —
        // "latest" on a deep backlog must not buffer the whole history
        var m = CursorWindow.minMark
        var progress = true
        while (progress) {
          val body = fetchRetry(HttpStream.cursorUrl(opts, m)).body
          val marks = decode(body)
            .map(HttpStream.markOf(_, opts.cursorField)).filter(_ > m)
          progress = marks.nonEmpty
          if (progress) m = marks.max
        }
        m
      case n => n.toLong
    }
    // "earliest" ships everything anyway: its window is at the floor, empty
    window.initial(mark)((lo, hi) => pollRange(lo, hi).map(_._1))
  }

  override def getDefaultReadLimit: ReadLimit =
    opts.maxRecordsPerPoll.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** The poll: fetch forward from the committed mark and re-scan its
    * lookback window; candidates are records not yet shipped — mark above
    * the hwm, or inside the window and absent from `seen`. Under a row
    * budget the epoch's end mark is the n-th candidate's mark (ties on
    * the final mark ride along, as in graft-jdbc). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CursorOffset]
    val carried = {
      val p = pendingPast
      if (p != null && p._1 == s.json()) p._2 else Vector.empty
    }
    // the window scan and the forward poll are SEPARATE walks with
    // separate budgets: the window scan runs to COMPLETION every trigger
    // (bounded by the window's record count by definition — a page cap
    // there would leave late records undetected while forward epochs
    // advance the hwm past their eviction horizon, silently losing them;
    // HttpStreamModelSpec catches exactly this against a
    // page-budgeted-walk-plus-forward-fallback design), while the
    // forward walk keeps the configured pagesPerPoll budget exactly like
    // the no-lookback path. The scan also runs while DRAINING a carried
    // backlog (carried epochs advance the hwm too), and runs AFTER the
    // forward poll so a record committing while the forward GETs are in
    // flight is still seen by this trigger's scan and bounded by the
    // end-mark clamp — the residual race narrows to commits landing
    // between the scan and the offset write, bounded by the admission
    // budget's per-epoch hwm advance (the [[CursorWindow]] caveat).
    // Cost per trigger: ceil(window/pageSize) + pagesPerPoll requests.
    //
    // carried records at-or-below the hwm (a budget-cut late batch) are
    // re-fetched by the window scan — only their forward part is usable,
    // and when that part is EMPTY the live forward poll still runs, or a
    // late-leftover drain would blind the source to new records for its
    // whole duration.
    val carriedForward = carried.filter(_._1 > s.mark)
    val forwardFetched =
      if (carriedForward.nonEmpty) carriedForward
      else pollPages(s.mark, opts.pagesPerPoll)
    val windowFetched = window.scan(s.mark)(pollRange).filter(_._1 <= s.mark)
    val fetched = windowFetched ++ forwardFetched
    val seen = s.seenSet
    val cands = fetched.filter { case (m, _) => m > s.mark || !seen.contains(m) }
    if (cands.isEmpty) return start
    val budgetCap = limit match {
      case mr: ReadMaxRows if cands.length > mr.maxRows() =>
        cands.map(_._1).sorted.apply(mr.maxRows().toInt - 1)
      case _ => cands.map(_._1).max
    }
    val late = cands.collect { case (m, _) if m <= s.mark && m <= budgetCap => m }
    val endMark = window.endMark(s.mark, budgetCap, late)
    // the epoch takes what both the budget and the window clamp admit
    val capMark = math.min(budgetCap, endMark)
    val taken = cands.filter(_._1 <= capMark)
    val end = window.end(s, endMark, taken.map(_._1))
    cached = (s.json(), end.json(), taken.map(_._2).toArray)
    // carry only UNSHIPPED records past the cap — carrying anything
    // already in `seen` would satisfy the next poll with zero candidates
    // and starve the feed (the carried batch would never drain)
    pendingPast = (end.json(), cands.filter(_._1 > capMark))
    end
  }

  /** Fresh path serves the poll's own records; a cache miss is RESTART
    * REPLAY of an epoch in the offset log — re-fetch from the start
    * mark's poll floor and keep the [[CursorWindow.epoch]] members, which
    * is exactly-once for feeds append-monotonic beyond the lookback
    * window (the records at those marks are immutable; a record arriving
    * DURING replay ships in a later epoch, not this one, because it isn't
    * in `end.seen`). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CursorOffset]
    val e = end.asInstanceOf[CursorOffset]
    val epoch = window.epoch(s, e)
    if (epoch.isEmpty) return Array.empty
    val c = cached
    val records =
      if (c != null && c._1 == s.json() && c._2 == e.json()) c._3
      else pollRange(window.pollFloor(s.mark), e.mark)
        .collect { case (m, r) if epoch.contains(m) => r }.toArray
    if (records.isEmpty) return Array.empty
    val n = math.min(math.max(1, opts.numPartitions), records.length)
    (0 until n).map { i =>
      val lo = records.length * i / n
      val hi = records.length * (i + 1) / n
      HttpInputPartition(records.slice(lo, hi)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new HttpReaderFactory
  override def deserializeOffset(json: String): Offset = window.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = (version, validators) for change-detection mode. The version
  * makes offsets comparable; the validators make the next poll cheap
  * (304) and the "did it really change" decision server-independent. */
private[sources] final case class HttpSnapshotOffset(ver: Long, etag: String,
                                                     lastModified: String,
                                                     sha256: String) extends Offset {
  override def json(): String = {
    val m = Auth.mapper.createObjectNode()
    m.put("ver", ver); m.put("etag", etag)
    m.put("lastModified", lastModified); m.put("sha256", sha256)
    m.toString
  }
}
private[sources] object HttpSnapshotOffset {
  def fromJson(s: String): HttpSnapshotOffset = {
    val n = Auth.mapper.readTree(s)
    require(n.has("ver"), s"bad graft-http offset: $s")
    HttpSnapshotOffset(n.path("ver").asLong(), n.path("etag").asText(""),
      n.path("lastModified").asText(""), n.path("sha256").asText(""))
  }
}

private[sources] final class GraftHttpSnapshotStream(val opts: HttpStream.Opts)
  extends MicroBatchStream with SupportsAdmissionControl with HttpStreamFetch {

  private val decode = HttpStream.decode(opts)
  @volatile private var cached: (Long, Array[String]) = _
  // what a restart REPLAY actually shipped for a version: replay serves
  // CURRENT content while the logged offset still carries the old body
  // hash — without remembering the shipped hash, the next poll would see
  // a "change" and deliver the identical document again as a new version
  @volatile private var replayed: (Long, String) = _

  private def sha256(body: String): String =
    S3.sha256Hex(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def initialOffset(): Offset = HttpSnapshotOffset(0L, "", "", "")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** The poll: conditional GET against the previous validators. 304, or a
    * 200 whose body hashes identically, is "nothing changed" → no epoch.
    * The version advances exactly when the body bytes changed; the
    * validators only make the no-change poll cheap. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val prev = start.asInstanceOf[HttpSnapshotOffset]
    val cond =
      (if (prev.etag.nonEmpty) Map("If-None-Match" -> prev.etag)
       else if (prev.lastModified.nonEmpty) Map("If-Modified-Since" -> prev.lastModified)
       else Map.empty[String, String])
    val r = fetchRetry(opts.url, cond,
      allow = s => (s >= 200 && s < 300) || s == 304)
    if (r.status == 304) return prev
    val h = sha256(r.body)
    val etag = r.header("ETag").getOrElse("")
    val lm = r.header("Last-Modified").getOrElse("")
    val rep = replayed
    if (prev.ver > 0 && (h == prev.sha256 ||
        (rep != null && rep._1 == prev.ver && rep._2 == h))) {
      // body unchanged (vs the logged hash, OR vs what a restart replay
      // of this version actually shipped): no epoch — but ADOPT rotated
      // validators (per-node ETags behind a balancer, Last-Modified
      // reset on redeploy) and the replay-corrected hash, or every later
      // poll re-downloads / re-ships for nothing. Same version ⇒ Spark
      // still plans an EMPTY batch for the offset change (the ver<=ver
      // guard in planInputPartitions returns zero partitions — there is
      // no batch-suppression mechanism, just an empty plan).
      return if (etag == prev.etag && lm == prev.lastModified && h == prev.sha256) prev
             else HttpSnapshotOffset(prev.ver, etag, lm, h)
    }
    cached = (prev.ver + 1, decode(r.body).toArray)
    HttpSnapshotOffset(prev.ver + 1, etag, lm, h)
  }

  override def deserializeOffset(json: String): Offset =
    HttpSnapshotOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[HttpSnapshotOffset]
    val b = end.asInstanceOf[HttpSnapshotOffset]
    if (b.ver <= a.ver) return Array.empty
    val c = cached
    val records =
      if (c != null && c._1 == b.ver) c._2
      else {
        // restart replay: a snapshot feed has no "as of version N" query —
        // serve CURRENT content (documented last-writer-wins), and record
        // its hash so the next poll doesn't re-ship the same bytes
        val body = fetchRetry(opts.url).body
        replayed = (b.ver, sha256(body))
        decode(body).toArray
      }
    if (records.isEmpty) return Array.empty
    val n = math.min(math.max(1, opts.numPartitions), records.length)
    (0 until n).map { i =>
      val lo = records.length * i / n
      val hi = records.length * (i + 1) / n
      HttpInputPartition(records.slice(lo, hi)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new HttpReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] final case class HttpInputPartition(records: Array[String])
  extends InputPartition

private[sources] final class HttpReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val recs = p.asInstanceOf[HttpInputPartition].records
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < recs.length }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](UTF8String.fromString(recs(i))))
      override def close(): Unit = ()
    }
  }
}
