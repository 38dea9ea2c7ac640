package perfbench

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerSync
import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dsl.Pipeline
import graft.reliability.CircuitBreaker
import graft.sources.{Sources, Spool, WsServerHub}
import graft.streaming.{GuardedBatchSink, StreamOps}

/** One ingested event. `ts` is its event time and `due` the time the
  * generator was due to send it, both epoch nanoseconds. */
final case class Ev(id: String, seq: Long, ts: Long, due: Long, user: String, kind: String,
                    value: Double, text: String)

/** The open-loop streaming workload. One generator thread sends seeded
  * NDJSON events over one JDK WebSocket connection to a `WsServerHub` in
  * spool segment mode; one streaming query reads the spool
  * (`Spool.readStream` → `Sources.jsonLines`), validates with
  * `Pipeline.transformEither`, drops duplicates and late events with
  * `StreamOps.dedupeWithinWatermark`, stamps `Crypto.contentId`, and commits
  * through a `GuardedBatchSink` into parquet main and error sinks, while
  * `Spool.retire` runs on a fixed cadence.
  *
  * A pass is a burst of `BurstEvents` sent as fast as the generator can,
  * timed until its last result is committed. Latency is measured after the
  * bursts, for the run's `--seconds` at `ReferenceEps`, from each event's
  * due time to the commit of its result. The reference rate sits well
  * below the burst throughput (~2.5k events/s on 4 cores), so the latency
  * is that of an unsaturated pipeline. */
object Ingest {
  val BurstEvents = 5000
  val WarmBursts = 2
  val ReferenceEps = 1000
  val Lateness = "5 seconds"
  val RetireEveryMs = 500L
  /** Group commit waits up to 50 ms for a segment to fill. The default 5 ms
    * flushes ~200 segment files a second at any rate above that, and the
    * file source's per-file cost then saturates the query near 100 events/s:
    * latency at the reference rate would measure only that. */
  val Segments: Spool.SegmentPolicy = Spool.SegmentPolicy(maxDelayMillis = 50)
  private val Kinds = Array("click", "view", "purchase", "signup", "error")
  private val Vocab = ("a the spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast").split(" ")

  // event classes; a duplicate is a resend of an earlier normal event
  private val Normal: Byte = 0
  private val OutOfOrder: Byte = 1
  private val Late: Byte = 2
  private val Malformed: Byte = 3

  def validate(e: Ev): Either[String, Ev] =
    if (e.user == null || e.user.isEmpty) Left("missing user")
    else if (!Kinds.contains(e.kind)) Left(s"unknown kind ${e.kind}")
    else if (!(e.value >= 0)) Left(s"negative value ${e.value}")
    else Right(e)

  /** Epoch nanoseconds on the monotonic clock. */
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowEpochNs(): Long = epoch0 + (System.nanoTime() - nano0)

  /** Everything one set-up owns. */
  final class Rig(val spark: SparkSession, val hub: WsServerHub, val ws: WebSocket, val dir: String) {
    def close(): Unit = {
      try ws.sendClose(WebSocket.NORMAL_CLOSURE, "").join() catch { case _: Throwable => () }
      hub.stop()
      spark.stop()
    }
  }

  def rig(cpus: Int, dir: String): Rig = {
    val spark = Main.session(cpus)
    val hub = new WsServerHub(spark, 0, spoolDir = Some(s"$dir/spool"), authRequired = false,
      spoolSegment = Some(Segments))
    val ws = HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(URI.create(s"ws://127.0.0.1:${hub.boundPort}/"), new WebSocket.Listener {}).join()
    new Rig(spark, hub, ws, dir)
  }

  /** Seeded event plan: class, user, kind, value and text per sequence
    * number, and which sends are resends. */
  final class Plan(seed: Long, val n: Int, lateFrom: Int) {
    private val rnd = new scala.util.Random(seed)
    val cls: Array[Byte] = Array.tabulate(n) { i =>
      val r = rnd.nextInt(100)
      if (r < 2) Malformed else if (r < 4) OutOfOrder else if (r < 5 && i >= lateFrom) Late else Normal
    }
    val dupAfter: Array[Boolean] = Array.tabulate(n)(i => cls(i) == Normal && rnd.nextInt(100) < 3)
    private val users = Array.fill(n)(s"u${rnd.nextInt(5000)}")
    private val kinds = Array.fill(n)(Kinds(rnd.nextInt(Kinds.length)))
    private val values = Array.fill(n)(math.round(rnd.nextDouble() * 50000) / 100.0)
    private val texts = Array.fill(n)(Array.fill(12 + rnd.nextInt(8))(Vocab(rnd.nextInt(Vocab.length))).mkString(" "))

    def json(i: Int, due: Long): String = {
      val ts = cls(i) match {
        case OutOfOrder => due - 1000000000L
        case Late => due - 60000000000L
        case _ => due
      }
      val (user, kind) = if (cls(i) == Malformed) ("", "??") else (users(i), kinds(i))
      s"""{"id":"e$i","seq":$i,"ts":$ts,"due":$due,"user":"$user","kind":"$kind","value":${values(i)},"text":"${texts(i)}"}"""
    }
  }

  /** Exactly-once ledger of what the sinks committed, per sequence number. */
  final class Ledger(n: Int) {
    val main = new AtomicIntegerArray(n)
    val errors = new AtomicIntegerArray(n)
    val commitNs = new AtomicLongArray(n)
    val committed = new AtomicLong(0)
    def note(seqs: Array[Long], err: Boolean, at: Long): Unit = seqs.foreach { s =>
      val i = s.toInt
      (if (err) errors else main).incrementAndGet(i)
      commitNs.compareAndSet(i, 0L, at)
      committed.incrementAndGet()
    }
  }

  // The sink functions run in this JVM but are serialized with the plan,
  // so they reach the run's ledger through this field instead of capturing it.
  @volatile private var ledger: Ledger = _

  private def commit(dir: String, err: Boolean)(ds: Dataset[Row], batchId: Long): Unit = {
    ds.write.mode("append").parquet(s"$dir/${if (err) "errors" else "main"}")
    val at = nowEpochNs()
    ledger.note(ds.select("seq").collect().map(_.getLong(0)), err, at)
  }

  def startQuery(r: Rig, breaker: CircuitBreaker, diverted: AtomicLong): StreamingQuery = {
    val spark = r.spark
    import spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[Ev] = Encoders.product[Ev]
    val parsed = Sources.jsonLines(r.hub.raw.toDF("value"), "value", enc.schema).as[Ev]
    val p = Pipeline(parsed).transformEither("validate")(validate)
    val good = StreamOps.dedupeWithinWatermark(p.output.toDF(), "ts", Seq("id"), Lateness)
      .select(col("seq"), col("due"), graft.functions.Crypto.contentId(col("text")).as("cid"),
        lit(null).cast("string").as("error"))
    val bad = p.errors.select(col("value.seq").as("seq"), col("value.due").as("due"),
      lit(null).cast("string").as("cid"), col("error"))
    val dir = r.dir
    val sink = GuardedBatchSink[Row](breaker, commit(dir, err = false), commit(dir, err = true),
      (row: Row) => !row.isNullAt(3))
    good.unionByName(bad).writeStream
      .option("checkpointLocation", s"${r.dir}/checkpoint")
      .foreachBatch { (ds: Dataset[Row], id: Long) =>
        if (breaker.isOpen) diverted.incrementAndGet()
        sink(ds, id)
      }
      .start()
  }

  def run(cfg: Main.Config, out: java.util.Map[String, AnyRef]): Unit = {
    val (r, setupS) = Main.setupRepeated[Rig](Main.Setups, _.close())(() => rig(cfg.cpus, s"${cfg.work}/ingest"))
    out.put("setup_s", Main.jl(setupS))
    Main.phase("set up")
    val tracer = new Tracer(cfg.trace)
    val meter = new SparkMeter(tracer)
    val streamMeter = new StreamMeter(tracer)
    // a cold and `WarmBursts` warm bursts (four more when tracing), then
    // `seconds` at the reference rate
    val refEvents = (ReferenceEps * cfg.seconds).toInt
    val n = BurstEvents * (1 + WarmBursts + 4) + refEvents
    val plan = new Plan(cfg.seed, n, lateFrom = BurstEvents)
    ledger = new Ledger(n)
    val breaker = new CircuitBreaker(Int.MaxValue, 1000L)
    val diverted = new AtomicLong(0)
    val dueNs = new Array[Long](n)
    val sendLateNs = mutable.ArrayBuffer[Double]()
    val sentAt = mutable.ArrayBuffer[Long]() // per message, for spool durability
    var sent = 0L

    def send(i: Int, due: Long): Unit = {
      dueNs(i) = due
      val msg = plan.json(i, due)
      r.ws.sendText(msg, true).join()
      sent += 1
      if (cfg.trace) sentAt.synchronized(sentAt += System.nanoTime())
      if (plan.dupAfter(i)) {
        r.ws.sendText(msg, true).join()
        sent += 1
        if (cfg.trace) sentAt.synchronized(sentAt += System.nanoTime())
      }
    }
    def expected(i: Int): Boolean = plan.cls(i) != Late
    def awaitCommitted(from: Int, until: Int, timeoutS: Double): Long = {
      val want = (from until until).count(expected)
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      var last = 0L
      while ({
        var got = 0; var i = from
        last = 0L
        while (i < until) {
          if (ledger.main.get(i) + ledger.errors.get(i) > 0) { got += 1; last = math.max(last, ledger.commitNs.get(i)) }
          i += 1
        }
        got < want
      }) {
        if (System.nanoTime() > deadline) sys.error(s"events $from..$until not committed in ${timeoutS}s")
        Thread.sleep(2)
      }
      last
    }
    def burst(from: Int, start: Long = nowEpochNs()): Double = tracer.span("burst", s"burst-$from") {
      (from until from + BurstEvents).foreach(i => send(i, start))
      (awaitCommitted(from, from + BurstEvents, 60) - start) / 1e9
    }

    // background: spool retirement on a fixed cadence, spool size samples,
    // backlog samples, and (traced) spool durability
    val retireNs = new AtomicLong(0)
    val retired = new AtomicLong(0)
    val filesLive = new AtomicLong(0)
    val bg = Executors.newScheduledThreadPool(2)
    val spoolDir = new java.io.File(s"${r.dir}/spool")
    def liveFiles(): Int = Option(spoolDir.list()).map(_.count(_.endsWith(".ndjson"))).getOrElse(0)
    bg.scheduleWithFixedDelay(() => {
      filesLive.accumulateAndGet(liveFiles().toLong, (a, b) => math.max(a, b))
      val t0 = System.nanoTime()
      try retired.addAndGet(Spool.retire(r.spark, spoolDir.getPath, s"${r.dir}/checkpoint")._2.toLong)
      catch { case e: Throwable => System.err.println(s"[perfbench] retire failed: $e") }
      retireNs.addAndGet(System.nanoTime() - t0)
    }, RetireEveryMs, RetireEveryMs, TimeUnit.MILLISECONDS)
    // traced: how long each sent message took to become durable in the
    // spool (the hub counts a message received once its segment is flushed;
    // one connection, so messages land in send order)
    val durableMs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    @volatile var polling = true
    val poller = new Thread(() => {
      var seen = 0L
      while (polling) {
        val now = r.hub.receivedCount
        val t = System.nanoTime()
        val known = sentAt.synchronized(sentAt.length)
        while (seen < now && seen < known) {
          durableMs.add((seen, (t - sentAt.synchronized(sentAt(seen.toInt))) / 1e6)); seen += 1
        }
        LockSupport.parkNanos(200000L)
      }
    }, "perfbench-durable")
    poller.setDaemon(true)
    if (cfg.trace) poller.start()

    val coldStart = nowEpochNs()
    val q = startQuery(r, breaker, diverted)
    val cold = burst(0, coldStart)
    out.put("cold_pass_s", Main.jl(Seq(cold)))
    val passes = mutable.ArrayBuffer[Double]()
    var next = BurstEvents
    (0 until WarmBursts).foreach { _ => passes += burst(next); next += BurstEvents }
    out.put("pass_s", Main.jl(passes))
    Main.phase("bursts")
    // traced run: alternate untraced and traced bursts, so the overhead
    // compares bursts at the same point of warm-up; tracing stays on after
    val (plainPasses, tracedPasses) = (mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Double]())
    if (cfg.trace) (0 until 4).foreach { k =>
      val traced = k % 2 == 1
      if (traced) {
        r.spark.sparkContext.addSparkListener(meter)
        r.spark.streams.addListener(streamMeter)
      }
      (if (traced) tracedPasses else plainPasses) += burst(next)
      next += BurstEvents
      if (traced && k < 3) {
        r.spark.sparkContext.removeSparkListener(meter)
        r.spark.streams.removeListener(streamMeter)
      }
    }

    // open loop at the reference rate
    val refFrom = next
    val backlog = mutable.ArrayBuffer[(Double, Double)]()
    if (cfg.trace) ListenerSync.drain(r.spark.sparkContext)
    val before = meter.snapshot
    val progressFrom = streamMeter.progress.size
    val refMessagesFrom = sent
    val t0 = System.nanoTime()
    val start = nowEpochNs()
    var lastSample = t0
    (refFrom until refFrom + refEvents).foreach { i =>
      val due = start + ((i - refFrom) * 1e9 / ReferenceEps).toLong
      val wait = due - nowEpochNs()
      if (wait > 0) LockSupport.parkNanos(wait)
      sendLateNs += (nowEpochNs() - due).toDouble
      send(i, due)
      val t = System.nanoTime()
      if (t - lastSample > 100000000L) {
        backlog += (((t - t0) / 1e9, (sent - ledger.committed.get()).toDouble)); lastSample = t
      }
    }
    awaitCommitted(refFrom, refFrom + refEvents, 60)
    val refWall = (System.nanoTime() - t0) / 1e9
    Main.phase("reference rate")
    val latencyMs = (refFrom until refFrom + refEvents).filter(expected)
      .map(i => (ledger.commitNs.get(i) - dueNs(i)) / 1e6)
    out.put("latency_ms", Main.jl(latencyMs))
    out.put("attempted", Long.box(sent))

    polling = false
    poller.join()
    bg.shutdown()
    bg.awaitTermination(30, TimeUnit.SECONDS)
    q.stop()
    if (cfg.trace) ListenerSync.drain(r.spark.sparkContext)
    val sentEvents = next + refEvents

    // exactly-once ledger, untimed: every expected event committed once, to
    // the sink its class names; late events never committed
    val violations = (0 until sentEvents).count { i =>
      val (m, e) = (ledger.main.get(i), ledger.errors.get(i))
      plan.cls(i) match {
        case Late => m + e != 0
        case Malformed => !(m == 0 && e == 1)
        case _ => !(m == 1 && e == 0)
      }
    }
    val onDisk = r.spark.read.parquet(s"${r.dir}/main").count() + r.spark.read.parquet(s"${r.dir}/errors").count()
    val committedRows = ledger.committed.get()
    out.put("failed", Long.box(violations + (if (onDisk == committedRows) 0 else 1)))
    out.put("retained_heap_mb", Main.jl(Seq(Main.retainedHeapMb())))
    Main.phase("checked")

    if (cfg.trace) {
      val layers = new java.util.LinkedHashMap[String, java.lang.Double]()
      Layers.spark(layers, Batch.diff(meter.snapshot, before), refWall, cfg.cpus)
      val prog = streamMeter.progress.asScala.map(_.progress).toSeq.drop(progressFrom)
      def dur(k: String) = prog.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
      val withData = prog.filter(_.numInputRows > 0)
      val errRows = (0 until sentEvents).map(ledger.errors.get).sum
      val segments = liveFiles() + retired.get()
      val durable = durableMs.asScala.filter(_._1 >= refMessagesFrom).map(_._2)
      layers.put("sources.spool_durable_ms_p50", Stats.median(durable))
      layers.put("sources.spool_durable_ms_p99", Stats.q(durable, 0.99))
      layers.put("sources.records_per_segment", r.hub.receivedCount.toDouble / math.max(1, segments))
      layers.put("sources.spool_files_live", filesLive.get().toDouble)
      layers.put("sources.retire_s", retireNs.get() / 1e9)
      layers.put("streaming.batches", withData.size.toDouble)
      layers.put("streaming.batch_ms_p50", Stats.median(withData.map(_.batchDuration.toDouble)))
      layers.put("streaming.batch_ms_p99", Stats.q(withData.map(_.batchDuration.toDouble), 0.99))
      layers.put("streaming.add_batch_ms_p50", Stats.median(dur("addBatch")))
      layers.put("streaming.wal_commit_ms_p50", Stats.median(dur("walCommit")))
      layers.put("streaming.latest_offset_ms_p50", Stats.median(dur("latestOffset")))
      layers.put("streaming.rows_per_batch_p50", Stats.median(withData.map(_.numInputRows.toDouble)))
      layers.put("streaming.backlog_slope_eps", slope(backlog.toSeq))
      val states = prog.flatMap(_.stateOperators.headOption)
      layers.put("streaming.state_rows_max", states.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max))
      layers.put("streaming.state_mb_max", states.map(_.memoryUsedBytes / 1048576.0).foldLeft(0.0)(math.max))
      layers.put("streaming.late_dropped_rows", states.map(_.numRowsDroppedByWatermark.toDouble).sum)
      layers.put("dsl.error_routed_rows", errRows.toDouble)
      layers.put("reliability.breaker_open_batches", diverted.get().toDouble)
      layers.put("gen.late_ms_p99", Stats.q(sendLateNs, 0.99) / 1e6)
      layers.put("trace.overhead_frac", Stats.median(tracedPasses) / Stats.median(plainPasses) - 1.0)
      Kernels.run(r.spark, cfg.data).foreach { case (k, v) => layers.put(s"functions.$k", v) }
      out.put("layers", layers)
      out.put("spans", Layers.spanTable(tracer))
    }
    r.close()
    if (cfg.trace)
      out.get("layers").asInstanceOf[java.util.Map[String, java.lang.Double]]
        .put("spark.parallel_speedup", singleThreadBurst(cfg) / Stats.median(passes))
  }

  /** The single-thread baseline: a fresh rig at local[1], one burst to warm
    * the query, then the timed burst. */
  def singleThreadBurst(cfg: Main.Config): Double = {
    val r = rig(1, s"${cfg.work}/ingest-local1")
    val plan = new Plan(cfg.seed, 2 * BurstEvents, lateFrom = 2 * BurstEvents)
    ledger = new Ledger(plan.n)
    val q = startQuery(r, new CircuitBreaker(Int.MaxValue, 1000L), new AtomicLong(0))
    def burst(from: Int): Double = {
      val start = nowEpochNs()
      (from until from + BurstEvents).foreach { i =>
        r.ws.sendText(plan.json(i, start), true).join()
      }
      val deadline = System.nanoTime() + 60000000000L
      while ((from until from + BurstEvents).exists(i => ledger.main.get(i) + ledger.errors.get(i) == 0)) {
        if (System.nanoTime() > deadline) sys.error("local[1] burst not committed in 60s")
        Thread.sleep(5)
      }
      (nowEpochNs() - start) / 1e9
    }
    burst(0)
    val s = burst(BurstEvents)
    q.stop()
    r.close()
    s
  }

  /** Least-squares slope of (t, y). */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val den = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (den == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / den
  }
}
