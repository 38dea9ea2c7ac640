package graft.sources

import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

/** THE driver-side buffer behind every push edge (WS hub/client, HTTP
  * jack, TLS NDJSON jack, sealed/WS/gRPC/NATS receiving relays, HTTP
  * poll source) — the reference's single `Submitter[T]` that every
  * receiver, jack and adapter feeds (`receivingrelay/receive.go:13-97`).
  * An edge owns its protocol (framing, handshake, auth, decode rule,
  * acks); this class owns where an accepted record goes and when it
  * counts as received.
  *
  * Restart contract, selected by `spoolDir` / `spoolSegment`:
  *  - memory (`spoolDir = None`, the default): records feed a
  *    MemoryStream, which does NOT survive driver restart — recovery is
  *    replay-from-peer, not checkpoint replay.
  *  - spool (`spoolDir = Some(dir)`): each record lands as one
  *    atomically-renamed NDJSON file ([[Spool.writeRecord]]) BEFORE it is
  *    counted received (and before an acking edge answers its peer);
  *    [[raw]] reads the directory through the checkpointable file
  *    source, so a restarted query ships every spooled record exactly
  *    once. Records must already be single-line (see [[Spool.jsonLine]]).
  *  - segment (`spoolSegment = Some(policy)`, requires `spoolDir`): group
  *    commit through [[Spool.SegmentWriter]] — many records per file,
  *    counted received at the flush. [[offer]] is fire-and-forget, so a
  *    crash loses the unflushed tail (≤ policy bounds); [[offerAcked]]
  *    blocks until its record's batch landed, keeping the spool mode's
  *    ack contract.
  *
  * A record is counted in [[receivedCount]] only once it is durable in
  * the chosen buffer. Every MemoryStream append takes ONE lock: its row
  * encoder is not thread-safe, and concurrent appends from per-connection
  * threads corrupt stored rows (duplicated/overwritten values). The spool
  * paths take no lock. */
final class Ingress(spark: SparkSession,
                    spoolDir: Option[String] = None,
                    spoolMaxFilesPerTrigger: Option[Int] = None,
                    spoolSegment: Option[Spool.SegmentPolicy] = None) {
  require(spoolSegment.isEmpty || spoolDir.isDefined,
    "spoolSegment requires a spoolDir")

  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val stream = MemoryStream[String]
  private val spool = spoolDir.map(d => Spool.open(spark, d))
  private val received = new AtomicLong(0)

  /** The group-commit writer in segment mode; owning servers read it for
    * their shutdown drains (HttpServerJack.stop). */
  private[sources] val segmentWriter: Option[Spool.SegmentWriter] = for {
    (fs, root) <- spool; p <- spoolSegment
  } yield new Spool.SegmentWriter(fs, root, p, n => { received.addAndGet(n); () })

  /** Buffer one record. Throws when the spool write (or a poisoned
    * segment writer) fails — the edge turns that into its loud
    * transport-level refusal. In segment mode durability (and the count)
    * arrive later, at the flush. */
  def offer(line: String): Unit = segmentWriter match {
    case Some(w) => w.append(line)
    case None => offerNow(line)
  }

  /** [[offer]] that returns only once the record is durable in every
    * mode — the path for edges that acknowledge their peer. */
  def offerAcked(line: String): Unit = segmentWriter match {
    case Some(w) => w.appendSync(line)
    case None => offerNow(line)
  }

  private def offerNow(line: String): Unit = {
    spool match {
      case Some((fs, root)) => Spool.writeRecord(fs, root, line)
      case None => stream.synchronized { stream.addData(line) }
    }
    received.incrementAndGet()
  }

  /** Buffer a batch: one lock and one MemoryStream append per batch in
    * memory mode, [[offer]] per record otherwise. */
  def offerAll(lines: Seq[String]): Unit =
    if (spool.isDefined) lines.foreach(offer)
    else if (lines.nonEmpty) {
      stream.synchronized { stream.addData(lines) }
      received.addAndGet(lines.length)
    }

  /** The receiver-side inverse of [[Chunking.chunks]], shared by every
    * relay ingest: split one unwrapped NDJSON body into records
    * ([[HttpPollSource.ndjsonLines]] — blank lines dropped, LF or CRLF)
    * and buffer them as one batch. */
  def feed(body: Array[Byte]): Unit =
    offerAll(HttpPollSource.ndjsonLines(new String(body, UTF_8)))

  /** Raw ingress stream (one string per record): the checkpoint-
    * recoverable file source over the spool dir in the spool modes, the
    * MemoryStream otherwise. */
  def raw: Dataset[String] = spoolDir match {
    case Some(dir) => Spool.readStream(spark, dir, spoolMaxFilesPerTrigger)
    case None => stream.toDS()
  }

  /** Typed ingress: each record JSON-decoded to `schema` fields (blank or
    * unparseable records dropped — see [[Sources.jsonLines]]). */
  def jsonStream(schema: StructType): DataFrame =
    Sources.jsonLines(raw.toDF("value"), "value", schema)

  def receivedCount: Long = received.get()

  /** Flush the segment tail; LOUD on failure (see
    * [[Spool.SegmentWriter.close]]). A no-op in the other modes. */
  def close(): Unit = segmentWriter.foreach(_.close())
}

/** The accept loop shared by the socket-listening edges: one daemon
  * acceptor thread named `<name>-accept`, one daemon `<name>-conn-<port>`
  * thread per accepted socket running `serve`, a back-off after a failed
  * accept (a persistent failure such as FD exhaustion must not become a
  * busy-spin), and a set of EVERY accepted socket — including peers still
  * in a handshake or upgrade — so [[stop]] closes them all and no blocked
  * reader thread outlives the edge. `serve` need not close its socket;
  * the loop closes it when `serve` returns. The owner calls [[start]] as
  * its own statement after the loop's val is assigned: `serve` may read
  * the owner's fields, the loop itself included, and `Thread.start` is
  * what publishes them to the connection threads. */
final class AcceptLoop(server: ServerSocket, name: String)(serve: Socket => Unit) {
  private val running = new AtomicBoolean(true)
  private val open = ConcurrentHashMap.newKeySet[Socket]()

  private def closeQuietly(s: java.io.Closeable): Unit =
    try s.close() catch { case _: Throwable => () }

  private val acceptor = new Thread(() => {
    while (running.get() && !server.isClosed) {
      try {
        val sock = server.accept()
        open.add(sock)
        // a stop() racing this accept may have swept `open` before the add
        if (!running.get()) closeQuietly(sock)
        val t = new Thread(() =>
          try serve(sock) finally { open.remove(sock); closeQuietly(sock) },
          s"$name-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable => if (running.get() && !server.isClosed) Thread.sleep(100)
      }
    }
  }, s"$name-accept")
  acceptor.setDaemon(true)

  def start(): Unit = acceptor.start()

  /** False once [[stop]] ran: serve loops exit, and a failure seen after
    * it is the shutdown, not the peer's fault. */
  def isRunning: Boolean = running.get()

  /** Stop accepting and close the listener and every accepted socket. */
  def stop(): Unit = {
    running.set(false)
    closeQuietly(server)
    open.forEach(s => closeQuietly(s))
    open.clear()
  }
}
