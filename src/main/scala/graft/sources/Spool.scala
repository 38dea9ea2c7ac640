package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Durable-ingress spool behind [[Ingress]]'s spool modes (the restart
  * contract is stated there). Push transports can't checkpoint a
  * server-side cursor the way the poll-loop sources do
  * (`graft-s3`/`graft-jdbc`/`graft-http`): once a frame is read off the
  * socket, the transport forgets it, so the durable form is write-ahead.
  *
  * One file per record is the control-plane trade (no flusher thread, no
  * batching latency — these edges are notification-sized; the
  * high-volume edges stay Kafka/files per SURVEY §2.1). The `.tmp` →
  * rename dance means a reader never observes a half-written file, and a
  * crash mid-write leaves only an invisible `.spool-*.tmp` orphan.
  * Lifecycle: [[SegmentWriter]] amortizes the per-record fsync for hot
  * edges; [[retire]] reclaims files the consumer has committed past, so
  * the directory (and the file source's listing cost) stays bounded.
  */
object Spool {

  /** Open (mkdirs) a spool directory. */
  def open(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val (fs, root) = Fs.of(spark, dir)
    fs.mkdirs(root)
    (fs, root)
  }

  /** Re-render one message as a COMPACT single-line JSON object. Spool
    * files are line-oriented (the text file source splits on newlines),
    * so a raw message with embedded newlines would come back as several
    * rows — every spool producer must normalize first. Throws on
    * non-object input; the caller turns that into its transport-level
    * refusal (HTTP 400, WS connection drop). */
  def jsonLine(msg: String): String = {
    val node = graft.sources.Auth.mapper.readTree(msg)
    require(node != null && node.isObject,
      s"spooled record must be a JSON object: ${msg.take(120)}")
    graft.sources.Auth.mapper.writeValueAsString(node)
  }

  /** Durably write one record as an atomically-renamed NDJSON file.
    * Throws on failure — the caller decides the transport-level reaction
    * (HTTP 500 so the peer retries; WS drops the connection so the peer
    * reconnects and resends). hsync pushes past client buffers before
    * the caller acknowledges: on HDFS that reaches disk; the local
    * filesystem downgrades it to a flush, so locally the guarantee is
    * JVM/process-crash durability (power-loss durability needs a
    * syncing FS). */
  def writeRecord(fs: FileSystem, root: Path, line: String): Unit =
    writeAtomicAt(fs, root, (line + "\n").getBytes(UTF_8),
      java.util.UUID.randomUUID().toString, mayExist = false)

  /** The atomic-write dance every spool producer shares (per-record,
    * segment, the S3 bridge's per-key landing): hidden `.tmp` create +
    * write + hsync + rename-or-throw, landing `spool-<unique>.ndjson`.
    * One copy, so a fix to the durability-critical sequence reaches
    * every producer. Returns true when THIS call made `dst` exist,
    * false when a previous attempt (or a previous process incarnation,
    * for deterministic names) had already landed it — the honest
    * "newly written" signal idempotent callers count.
    *
    * The NAME comes from the caller so a RETRY can re-run the attempt
    * under the SAME destination: a remote FS can fail the rename RPC
    * after the rename actually applied, and a retry minting a fresh
    * UUID would land the identical batch under a second path — which
    * the consumer's path-keyed dedup cannot see (every record doubles).
    * Under one name the retry is idempotent: dst already present =
    * the previous attempt won (content is identical by construction),
    * done. The tmp create overwrites for the same reason — it may be
    * this writer's own half-written previous attempt. `mayExist` gates
    * the up-front exists() probe: a first attempt under a fresh UUID
    * can never collide, and the probe would cost one metadata RPC per
    * record on a path that is already fsync-bound — only retries and
    * deterministic-name re-sweeps pay it. */
  private[sources] def writeAtomicAt(fs: FileSystem, root: Path,
                                     bytes: Array[Byte], unique: String,
                                     mayExist: Boolean): Boolean = {
    val tmp = new Path(root, s".spool-$unique.tmp")
    val dst = new Path(root, s"spool-$unique.ndjson")
    if (mayExist && fs.exists(dst)) return false // an earlier attempt applied
    val out = fs.create(tmp, true)
    try {
      out.write(bytes)
      out.hsync()
    } finally out.close()
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new java.io.IOException(s"spool rename failed: $dst")
    true
  }

  /** Checkpoint-recoverable reader over a spool directory (one string
    * per spooled record). The file source's default maxFileAge (7d)
    * would silently SKIP acknowledged spool files older than
    * (newest - 7d) when a consumer restarts after a long outage —
    * exactly-once must not decay by wall clock, so the age cutoff is
    * disabled. The cost of the disabled cutoff is that the source's
    * seen-files map grows with the total file count — bound it
    * operationally with [[SegmentPolicy]] (fewer files) plus [[retire]]
    * (fewer files REMAINING), not by re-enabling the age cutoff. */
  def readStream(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int]): Dataset[String] = {
    import spark.implicits._
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.option("maxFileAge", "36500d").text(dir).as[String]
  }

  /** Retention for a spool directory read by ONE checkpointed consumer —
    * the missing piece of the spool lifecycle at scale: the file
    * source's listing cost grows with the file count FOREVER, and the
    * safe remedy is deletion, not compaction (a merged file is a NEW
    * path the source would ship again as fresh data; that is why spools
    * get retention while parquet tables get
    * `Maintenance.compactParquet`).
    *
    * Deletes exactly the spool files the consumer has DURABLY processed.
    * The horizon is two lookups deep, and the second one matters: the
    * commit log gives the last committed QUERY batch, but the file
    * source's log entries are keyed by the source's OWN log offset
    * (`FileStreamSource.metadataLogCurrentOffset`), which lags the query
    * batch id whenever a batch finds no new files, runs no-data
    * (watermark/state-timeout) work, or the query has several sources.
    * So retire reads `offsets/<committedBatch>` and takes the
    * sourceIndex-th source's `logOffset` — deleting by the query batch
    * id instead would reap files of a still-UNCOMMITTED source batch
    * the moment the two counters diverge, breaking crash replay.
    * A file at-or-below that logOffset has its rows committed to the
    * sink, and Spark's file source never re-reads a seen path — removal
    * is invisible to replay.
    *
    * The formats read here are Spark's on-disk streaming checkpoint
    * layout (public Spark source): HDFSMetadataLog commit files named by
    * batch id; OffsetSeqLog `v1` + metadata line + one offset line per
    * source; FileStreamSourceLog `v1` + one JSON entry per line, with
    * `.compact` rollups whose entries keep their original batchId.
    * Parsing is strict and delete-only-what-parsed: anything unreadable
    * (or a missing/`-` source offset) can only RETAIN files, never
    * delete a wrong one; deletion is further confined to `spoolDir` by
    * resolving logged file NAMES against it, and the spool directory is
    * listed ONCE per call (one RPC, not one exists() per historical log
    * entry — `.compact` rollups carry every entry ever seen).
    *
    * Returns (file-source logOffset horizon, files deleted); horizon -1
    * means nothing committed/knowable yet (nothing deleted). Run it on
    * a schedule from the consumer side; it is safe against a LIVE query
    * (the source only lists files it has not seen; files it has seen
    * are never re-opened after their batch commits). Single-consumer by
    * design — with several independent consumers of one spool, retire
    * against the slowest consumer's checkpoint or not at all. */
  def retire(spark: SparkSession, spoolDir: String, checkpointDir: String,
             sourceIndex: Int = 0): (Long, Int) = {
    val (sfs, sroot) = Fs.of(spark, spoolDir)
    val (cfs, croot) = Fs.of(spark, checkpointDir)
    val commitsDir = new Path(croot, "commits")
    if (!cfs.exists(commitsDir)) return (-1L, 0)
    val committedBatch = cfs.listStatus(commitsDir)
      .flatMap(st => st.getPath.getName.toLongOption).foldLeft(-1L)(math.max)
    if (committedBatch < 0) return (-1L, 0)
    // the committed batch's OFFSETS entry -> this source's logOffset
    val horizon: Long = {
      val off = new Path(croot, s"offsets/$committedBatch")
      if (!cfs.exists(off)) return (-1L, 0)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(cfs.open(off), UTF_8))
      try {
        reader.readLine() // "v1"
        reader.readLine() // batch metadata
        var i = 0
        var line = reader.readLine()
        while (line != null && i < sourceIndex) { i += 1; line = reader.readLine() }
        val parsed =
          try {
            if (line == null) None
            else {
              val n = Auth.mapper.readTree(line)
              val lo = if (n == null) null else n.path("logOffset")
              if (lo != null && lo.isNumber) Some(lo.asLong()) else None
            }
          } catch { case _: Exception => None }
        parsed.getOrElse(return (-1L, 0)) // unknown offset → retain all
      } finally reader.close()
    }
    val srcDir = new Path(croot, s"sources/$sourceIndex")
    if (!cfs.exists(srcDir)) return (horizon, 0)
    // one listing of the spool dir, then membership tests — not one
    // exists() RPC per historical entry
    val present = sfs.listStatus(sroot)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".ndjson"))
      .map(_.getPath.getName).to(scala.collection.mutable.Set)
    var deleted = 0
    cfs.listStatus(srcDir).map(_.getPath)
      .filter(p => p.getName.stripSuffix(".compact").toLongOption.isDefined)
      .foreach { lf =>
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(cfs.open(lf), UTF_8))
        try {
          var line = reader.readLine() // "v1" header
          line = reader.readLine()
          while (line != null) {
            try {
              val node = Auth.mapper.readTree(line)
              val bid = node.path("batchId")
              val p = node.path("path")
              if (bid.isNumber && bid.asLong() <= horizon && p.isTextual) {
                val name = new Path(java.net.URI.create(p.asText())).getName
                if (present.remove(name) &&
                    sfs.delete(new Path(sroot, name), false)) deleted += 1
              }
            } catch { case _: Exception => () } // unparseable entry → retain
            line = reader.readLine()
          }
        } finally reader.close()
      }
    (horizon, deleted)
  }

  /** Segment-mode flush policy: a pending batch lands when it reaches
    * `maxRecords` lines or has waited `maxDelayMillis` — whichever
    * first. */
  final case class SegmentPolicy(maxRecords: Int = 256, maxDelayMillis: Long = 5,
                                 flushAttempts: Int = 3,
                                 flushRetryBackoffMillis: Long = 50) {
    require(maxRecords > 0 && maxDelayMillis > 0 && flushAttempts > 0 &&
      flushRetryBackoffMillis > 0, s"bad segment policy: $this")
    /** Worst-case total retry sleep for one batch (backoff × attempt,
      * summed): every deadline that brackets a flush — the appendSync
      * ack timeout, close()'s drain join, an owning server's shutdown
      * drain — must sit ABOVE this, or a legal retry config turns
      * transiently-failing batches into timeouts whose records then
      * land anyway (the manufactured-duplicate shape again). */
    def maxRetrySleepMillis: Long =
      flushRetryBackoffMillis * (flushAttempts.toLong * (flushAttempts - 1) / 2)
  }

  /** Group-commit spool writer for the WS edges — the amortized form of
    * [[writeRecord]], motivated by the measured per-record bound
    * (graft.tools.SpoolRate on a 4-core VM, local ext4: ~4,400
    * records/s/writer, one create + hsync + rename each; it was ~160–200
    * while Hadoop forked `chmod` for each file and its `.crc`, before
    * [[LocalFs]]). Producers [[append]] completed
    * lines; a flusher thread drains whatever queued during the previous
    * flush into ONE atomically-renamed NDJSON segment file, then runs
    * `onDurable(count)` — so a record is still COUNTED RECEIVED only
    * after its bytes are durable, and the reader contract is unchanged
    * (line-oriented NDJSON, rename-atomic visibility, the same
    * [[readStream]]). Under load, segments gather naturally (classic
    * group commit: arrivals during flush N form segment N+1), lifting
    * the bound from per-record fsync latency toward
    * `maxRecords × flush rate`.
    *
    * The durability trade vs per-record mode depends on the append
    * flavor — fire-and-forget [[append]] loses the unflushed tail on a
    * crash, blocking [[appendSync]] is exactly as durable as per-record
    * mode (see [[Ingress]]); concurrent appendSync callers share one
    * hsync (classic WAL group commit).
    *
    * A failed segment write is RETRIED in place with bounded backoff
    * (`flushAttempts` total tries, `flushRetryBackoffMillis × attempt`
    * between them) before anything poisons: per-record mode fails only
    * the one request and recovers on the next, and opting into segment
    * mode must not silently trade that recovery for a writer that turns
    * every later request into a 500 after ONE transient FS hiccup.
    * Only a flush that exhausts its retries poisons the writer (the
    * error rethrows from every later append, and every waiter whose
    * batch failed gets it) so producers drop their connections / answer
    * 500 loudly — the per-record mode's failure contract, reached only
    * for a persistently failing FS. */
  final class SegmentWriter(fs: FileSystem, root: Path, policy: SegmentPolicy,
                            onDurable: Int => Unit,
                            stallFloorMs: Long = 30000L) {
    private type Entry = (String, java.util.concurrent.CompletableFuture[Void])
    private val queue = new java.util.concurrent.LinkedBlockingQueue[Entry]()
    @volatile private var failure: Throwable = null
    @volatile private var closing = false
    @volatile private var inFlight = false
    // liveness heartbeat, NOT a completion signal: touched at every idle
    // poll, batch start, and write attempt, so the gap only grows while
    // the flusher is stuck inside one FS call or one retry sleep. Every
    // deadline below is a bound on THIS gap, never on total drain time —
    // a deep queue may legally hold many batches, each entitled to the
    // full retry budget, and a total-time bound would declare the writer
    // hung mid-recovery (its records then land anyway: the manufactured-
    // duplicate shape the deadlines exist to prevent).
    @volatile private var lastProgressNanos = System.nanoTime()
    private def touch(): Unit = lastProgressNanos = System.nanoTime()

    /** Milliseconds since the flusher last showed life (see the heartbeat
      * note above). Owning servers use it to keep their shutdown drains
      * progress-based (HttpServerJack.stop). */
    def progressGapMs: Long = (System.nanoTime() - lastProgressNanos) / 1000000L

    /** Whether the writer still holds undurable work (queued entries or a
      * batch mid-flush). Owning servers gate their progress-based drains
      * on THIS, not on the heartbeat alone: an idle flusher heartbeats
      * forever, so "writer alive" must never keep a shutdown waiting for
      * a handler that is hung on something else entirely. */
    def pendingWork: Boolean = inFlight || !queue.isEmpty

    private val flusher = new Thread(() => {
      val ms = java.util.concurrent.TimeUnit.MILLISECONDS
      val batch = new java.util.ArrayList[Entry](policy.maxRecords)
      // a failed flush still CONSUMES its batch (waiters complete
      // exceptionally) and keeps draining, so no waiter ever hangs and
      // the loop terminates once the queue empties
      while (!closing || !queue.isEmpty) {
        try {
          batch.clear()
          inFlight = false
          touch() // idle polling is liveness
          val first = queue.poll(policy.maxDelayMillis, ms)
          if (first != null) {
            inFlight = true
            batch.add(first)
            // gather window — the documented policy: flush when the
            // batch reaches maxRecords or the FIRST record has waited
            // maxDelayMillis, whichever comes first (a close() drains
            // immediately). Group commit then stacks on top: records
            // arriving during the flush itself seed the next batch.
            val deadline = System.nanoTime() + policy.maxDelayMillis * 1000000L
            var open = true
            while (open && !closing && batch.size() < policy.maxRecords) {
              val leftMs = (deadline - System.nanoTime()) / 1000000L
              if (leftMs <= 0) open = false
              else {
                val nxt = queue.poll(leftMs, ms)
                if (nxt == null) open = false else batch.add(nxt)
              }
            }
            queue.drainTo(batch, policy.maxRecords - batch.size())
            val sb = new StringBuilder
            batch.forEach(e => { sb.append(e._1); sb.append('\n') })
            val bytes = sb.result().getBytes(UTF_8)
            // bounded in-place retry BEFORE the poison path: a transient
            // FS error must fail (at most) this batch, not every request
            // until process restart. Exhausted retries fall through to
            // the outer catch, which keeps the loud-poison contract.
            // ONE name across attempts: an ambiguous failure (rename RPC
            // lost after applying) retried under a fresh UUID would land
            // the batch twice (see writeAtomicAt). NonFatal only — an
            // interrupt or VM error must propagate, not sleep-and-retry.
            val unique = java.util.UUID.randomUUID().toString
            var attempt = 1
            var written = false
            while (!written) {
              touch() // each attempt (first or retry) is liveness
              try {
                writeAtomicAt(fs, root, bytes, unique,
                  mayExist = attempt > 1) // only a retry can collide
                written = true
              } catch {
                case e if attempt < policy.flushAttempts &&
                    scala.util.control.NonFatal(e) =>
                  Thread.sleep(policy.flushRetryBackoffMillis * attempt)
                  attempt += 1
              }
            }
            onDurable(batch.size())
            batch.forEach(e => if (e._2 != null) e._2.complete(null))
            inFlight = false // also on the exit path: the loop may not come back
          }
        } catch {
          case e: Throwable =>
            failure = e
            closing = true // stop accepting; appends now rethrow
            batch.forEach(en => if (en._2 != null) en._2.completeExceptionally(e))
            inFlight = false
        }
      }
    }, "graft-spool-segment")
    flusher.setDaemon(true)
    flusher.start()

    private def checkPoisoned(): Unit = {
      val f = failure
      if (f != null) throw new java.io.IOException("spool segment flush failed", f)
    }

    /** Enqueue with the closed-writer race closed: a producer passing
      * the pre-checks while the flusher takes its FINAL empty-queue look
      * would otherwise strand its entry in a queue nobody drains
      * (silent loss for append, a full-timeout stall for appendSync).
      * Re-checking `closing` AFTER the put and taking the entry back on
      * a hit guarantees every entry is either flushed (remove missed:
      * the flusher has it) or refused loudly here. Removing an EQUAL
      * entry from another producer is equivalent — both producers then
      * refuse and neither record is silently lost. */
    private def enqueue(e: Entry): Unit = {
      checkPoisoned()
      queue.put(e)
      if (closing && queue.remove(e)) {
        checkPoisoned() // poisoned close: surface the root cause
        throw new java.io.IOException("spool segment writer is closed")
      }
    }

    /** Enqueue one normalized line (see [[jsonLine]]); durability is
      * signalled via `onDurable`, not by this call returning. Rethrows
      * the flusher's failure so the producer drops loudly. */
    def append(line: String): Unit = enqueue((line, null))

    /** THE no-progress deadline — the writer's single definition of "a
      * hung FS call", shared by [[appendSync]], [[close]], and the
      * owning servers' shutdown drains, so no path can declare the
      * writer hung while another still deems the same gap legal (a
      * split definition 500s/fails requests whose records then land
      * anyway — the manufactured duplicate). Generous floor
      * (`stallFloorMs`, default 30 s — shrink it only in tests), always
      * safely ABOVE the longest legal heartbeat gap: a sparse feed
      * legitimately holds a lone record for maxDelayMillis, and a
      * transiently-failing flush legitimately sleeps the full retry
      * budget. It deliberately does NOT bound total wait: a deep queue
      * may hold many batches, each entitled to the full budget. */
    val ackTimeoutMs: Long =
      math.max(stallFloorMs, policy.maxDelayMillis * 3) + policy.maxRetrySleepMillis

    /** Enqueue one normalized line and BLOCK until its batch is durable
      * — the group-commit ack path: the caller may acknowledge its peer
      * the moment this returns. Throws on flush failure (answer 5xx /
      * drop, peer retries) and after [[ackTimeoutMs]] without flusher
      * PROGRESS (a hung FS must not hold requests open forever; a live
      * flusher draining a deep queue legitimately takes longer). */
    def appendSync(line: String): Unit = {
      val fut = new java.util.concurrent.CompletableFuture[Void]()
      enqueue((line, fut))
      var done = false
      while (!done) {
        try { fut.get(250, java.util.concurrent.TimeUnit.MILLISECONDS); done = true }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw new java.io.IOException("spool segment flush failed", e.getCause)
          case _: java.util.concurrent.TimeoutException =>
            if (progressGapMs > ackTimeoutMs)
              throw new java.io.IOException(
                s"spool segment flush stalled (no flusher progress in ${ackTimeoutMs}ms)")
        }
      }
    }

    /** Flush the tail and stop the flusher (blocking). LOUD: rethrows a
      * stored flush failure and refuses to report a clean shutdown when
      * the flusher failed to drain — the failure contract otherwise
      * delivers via the NEXT append, which never comes at shutdown, and
      * a silent close would vanish the very tail it promises to land.
      * The drain is PROGRESS-based, not total-time-bounded: the tail may
      * hold several batches, each entitled to the full retry budget, and
      * a fixed overall bound would declare the writer hung while it was
      * mid-recovery — with its records landing after the throw. The hang
      * threshold is [[ackTimeoutMs]] — the writer's ONE definition of a
      * hung FS call (a tighter close-side threshold would fail shutdowns
      * over gaps the ack path itself deems legal); enqueue's closing
      * guard caps the queue at close time, so a live flusher always
      * drains it in finitely many touched attempts. */
    def close(): Unit = {
      closing = true
      while (flusher.isAlive && progressGapMs <= ackTimeoutMs)
        flusher.join(100L)
      val f = failure
      if (f != null)
        throw new java.io.IOException("spool segment flush failed", f)
      if (flusher.isAlive)
        throw new java.io.IOException(
          s"spool segment flusher stalled (no progress in ${ackTimeoutMs}ms)")
      if (!queue.isEmpty) // belt-and-braces vs the enqueue race guard
        throw new java.io.IOException(
          s"spool segment writer closed with ${queue.size()} unflushed records")
    }
  }
}
