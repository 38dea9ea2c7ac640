package graft.streaming

import graft.SparkSpec
import graft.reliability.CircuitBreaker
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String, value: Double)
case class StreamDoc(doc_id: Long, ts: Long, text: String)
case class StreamVec(vec_id: Long, embedding: Array[Float])

class StreamingSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  private val minuteNs = 60L * 1000 * 1000 * 1000
  private def ev(id: Long, minute: Long, v: Double = 1.0, typ: String = "click") =
    Ev(id, minute * minuteNs + id * 1000, id % 3, typ, v)

  test("tumbling window counts with watermark (streaming twin of q08)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.tumblingCounts(mem.toDF(), "ts", "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode("complete").start()
    try {
      mem.addData(ev(1, 0), ev(2, 0), ev(3, 1), ev(4, 1), ev(5, 1))
      q.processAllAvailable()
      val rows = spark.table("tumbling").orderBy("window_start").collect()
      assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(2L, 3L))
    } finally q.stop()
  }

  test("session windows close after the gap timeout (streaming twin of q15)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.sessionCounts(mem.toDF(), "ts", "user_id", "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("complete").start()
    try {
      // user 0: events at minute 0,1 (one session) and minute 20 (new session)
      mem.addData(
        Ev(1, 0L * minuteNs, 0, "click", 1.0),
        Ev(2, 1L * minuteNs, 0, "click", 1.0),
        Ev(3, 20L * minuteNs, 0, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").orderBy("session_start").collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark collapses repeated ids (A7 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.dedupeWithinWatermark(mem.toDF(), "ts", Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData(ev(1, 0), ev(1, 0), ev(2, 0), ev(1, 0), ev(3, 1))
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join correlates events within the window, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val joined = StreamOps.intervalJoinStream(
      clicks.toDF(), buys.toDF().withColumnRenamed("event_id", "buy_id")
        .select(col("buy_id"), col("ts"), col("user_id")),
      keyCol = "user_id", nsCol = "ts", windowSpec = "'5' MINUTE", lateness = "10 minutes")
    val q = joined.select(col("event_id"), col("r_row.buy_id"))
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      // realistic epoch base: an event time AT the initial watermark (epoch
      // 0) is dropped as late — epoch-zero fixtures silently empty the join
      val base = 1700000000L * 1000 * 1000 * 1000
      // user 0 clicks at minute 0; buys at minute 3 (in window) and 9 (out)
      clicks.addData(Ev(1, base, 0, "click", 1.0))
      buys.addData(
        Ev(100, base + 3 * minuteNs, 0, "buy", 1.0),
        Ev(101, base + 9 * minuteNs, 0, "buy", 1.0),
        Ev(102, base + 3 * minuteNs, 1, "buy", 1.0)) // other user: no match
      q.processAllAvailable()
      val rows = spark.table("ivj").as[(Long, Long)].collect().toSeq
      assert(rows == Seq((1L, 100L)), rows)
    } finally q.stop()
  }

  test("interval join rejects inputs whose columns collide with reserved names") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val bad = mem.toDF().withColumnRenamed("value", "r_row")
    val e = intercept[IllegalArgumentException] {
      StreamOps.intervalJoinStream(bad, mem.toDF(), "user_id", "ts",
        "'5' MINUTE", "10 minutes")
    }
    assert(e.getMessage.contains("r_row"))
  }

  test("streaming curation gates quality and collapses reordered boilerplate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    val fluent = ("the data table row value key scan merge join " * 4).trim
    val reordered = fluent.split(" ").reverse.mkString(" ") // same word set
    val distinctDoc = ("window batch stream filter sort group agg column " * 4).trim
    val q = StreamOps.curateStream(mem.toDF(), "ts", "10 minutes")
      .writeStream.format("memory").queryName("curated").outputMode("append").start()
    try {
      mem.addData(
        StreamDoc(1, 0L, fluent),
        StreamDoc(2, 1000, reordered),   // bag-of-words dup of doc 1
        StreamDoc(3, 2000, "too short"), // fails the quality gate
        StreamDoc(4, 3000, distinctDoc))
      q.processAllAvailable()
      val kept = spark.table("curated").select("doc_id").as[Long].collect().sorted.toSeq
      // exactly one of the bag-of-words twins survives (which one is a
      // partition-order detail), the short doc never enters state
      assert(kept.length == 2 && kept.contains(4L), kept)
      assert(kept.count(id => id == 1L || id == 2L) == 1, kept)
    } finally q.stop()
  }

  test("streaming bloom prefilter: corpus texts drop, new texts pass, within-stream dups collapse") {
    implicit val sqlCtx = spark.sqlContext
    val corpusTexts = Seq("already ingested document one", "already ingested document two")
    val corpus = corpusTexts.toDF("text").select(md5(col("text")).as("__md5"))
    val bloom = corpus.stat.bloomFilter("__md5", 10, 0.03)
    val mem = MemoryStream[StreamDoc]
    val q = StreamOps.bloomPrefilterStream(mem.toDF(), "ts", "10 minutes", bloom, corpus)
      .writeStream.format("memory").queryName("bloom_stream").outputMode("append").start()
    try {
      mem.addData(
        StreamDoc(1, 0L, "already ingested document one"), // in corpus -> drop
        StreamDoc(2, 1000, "a genuinely new document"),
        StreamDoc(3, 2000, "a genuinely new document"),    // within-stream dup of 2
        StreamDoc(4, 3000, "another new document"),
        StreamDoc(5, 4000, null),                          // null text: no identity,
        StreamDoc(6, 5000, null))                          // BOTH pass (null != null)
      q.processAllAvailable()
      val kept = spark.table("bloom_stream").select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept.length == 4 && kept.contains(4L), kept)
      assert(kept.count(id => id == 2L || id == 3L) == 1, kept)
      assert(kept.contains(5L) && kept.contains(6L), kept)
    } finally q.stop()
  }

  test("streaming centroid assignment matches the batch argmin on the same vectors") {
    implicit val sqlCtx = spark.sqlContext
    // batch truth: the oracle-checked sim_assign on the fixture
    val batch = graft.queries.TrainingData.simAssign(spark, sfDir)
      .select("vec_id", "assigned_label", "d2").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // centroid snapshot in the same integer-ppm space the batch uses
    val centroids = graft.queries.TrainingData.simCentroids(spark, sfDir)
      .select(col("label"), col("pos"), expr("sum_ppm div n").as("c"))
      .collect().groupBy(_.getInt(0)).toSeq
      .map { case (label, rows) =>
        label -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray
      }
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val mem = MemoryStream[StreamVec]
    val q = StreamOps.assignStream(mem.toDF(), centroids)
      .writeStream.format("memory").queryName("assign_stream").outputMode("append").start()
    try {
      mem.addData(vecs.take(50).map { case (id, e) => StreamVec(id, e) }.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("assign_stream")
        .select("vec_id", "assigned_label", "d2").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
      assert(got.size == 50)
      got.foreach { case (id, a) => assert(a == batch(id), s"vec $id: $a vs ${batch(id)}") }
    } finally q.stop()
  }

  test("streaming centroid assignment nulls malformed vectors and guards reserved names") {
    implicit val sqlCtx = spark.sqlContext
    val centroids = Seq(0 -> Array(0L, 0L), 1 -> Array(1000000L, 1000000L))
    val mem = MemoryStream[StreamVec]
    val q = StreamOps.assignStream(mem.toDF(), centroids)
      .writeStream.format("memory").queryName("assign_malformed").outputMode("append").start()
    try {
      mem.addData(
        StreamVec(1, Array(0.1f, 0.1f)),            // well-formed -> label 0
        StreamVec(2, Array(0.1f)),                  // wrong dimension -> null
        StreamVec(3, null),                         // missing vector -> null
        StreamVec(4, Array(0.9f, 0.9f)))            // well-formed -> label 1
      q.processAllAvailable()
      val rows = spark.table("assign_malformed")
        .select("vec_id", "assigned_label").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(rows == Map(1L -> Some(0), 2L -> None, 3L -> None, 4L -> Some(1)), rows)
    } finally q.stop()
    // a null ELEMENT must null the assignment, not quantize as zero — fed
    // through a boxed-array frame since the case class carries primitives
    val boxed = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(9L, Array[java.lang.Float](0.5f, null))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
    val scored = StreamOps.assignStream(boxed, centroids).collect().head
    assert(scored.isNullAt(scored.fieldIndex("assigned_label")), scored)
    // reserved-name guard is case-insensitive, like Spark's resolution
    val e = intercept[IllegalArgumentException] {
      StreamOps.assignStream(boxed.withColumn("D2", lit(1)), centroids)
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("priority resister drains in aged-priority order within budget (queue.go:11-163)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[QueuedElement]
    val fixedNow = 10L * 60000
    val drained = PriorityResister.drain(mem.toDS(), budgetPerTrigger = 2, now = () => fixedNow)
    val q = drained.writeStream.format("memory").queryName("resister")
      .outputMode("append").start()
    try {
      mem.addData(
        QueuedElement("low", 0, 1, fixedNow, 0, "low-prio"),
        QueuedElement("high", 0, 9, fixedNow, 0, "high-prio"),
        QueuedElement("aged", 0, 5, fixedNow - 5 * 60000, 0, "5-min-old"), // +5 aging
        QueuedElement("mid", 0, 4, fixedNow, 0, "mid-prio"))
      q.processAllAvailable()
      // budget 2: high(9) and aged(5+5=10) drain first
      val first = spark.table("resister").select("id").as[String].collect().toSet
      assert(first == Set("high", "aged"))
      mem.addData(QueuedElement("urgent", 0, 99, fixedNow, 0, "jump the queue"))
      q.processAllAvailable()
      val second = spark.table("resister").select("id").as[String].collect().toSet
      assert(second == Set("high", "aged", "urgent", "mid"))
    } finally q.stop()
  }

  test("requeue-by-id collapses to one element keeping max priority (queue.go:65-83)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[QueuedElement]
    val drained = PriorityResister.drain(mem.toDS(), budgetPerTrigger = 10, now = () => 0L)
    val q = drained.writeStream.format("memory").queryName("requeue")
      .outputMode("append").start()
    try {
      mem.addData(
        QueuedElement("x", 0, 1, 0, 0, "v1"),
        QueuedElement("x", 0, 7, 0, 1, "v2"),
        QueuedElement("y", 0, 2, 0, 0, "y"))
      q.processAllAvailable()
      val rows = spark.table("requeue").collect()
      assert(rows.length == 2)
      val x = rows.find(_.getAs[String]("id") == "x").get
      assert(x.getAs[Int]("priority") == 7 && x.getAs[String]("payload") == "v2")
      assert(x.getAs[Int]("retryCount") == 1)
    } finally q.stop()
  }

  test("guarded sink splits errors to DLQ and diverts while breaker is open (F5/T4)") {
    var now = 0L
    val cb = new CircuitBreaker(errorThreshold = 3, windowMillis = 1000, clock = () => now)
    val main = collection.mutable.ArrayBuffer[Ev]()
    val dlq = collection.mutable.ArrayBuffer[Ev]()
    val sink = GuardedBatchSink[Ev](cb,
      (ds, _) => main ++= ds.collect(),
      (ds, _) => dlq ++= ds.collect(),
      isError = _.event_type == "error")

    val batch1 = spark.createDataset(Seq(ev(1, 0), ev(2, 0), ev(3, 0, typ = "error")))
    sink(batch1, 0L)
    assert(main.size == 2 && dlq.size == 1 && cb.allow)

    val batch2 = spark.createDataset(Seq(ev(4, 0, typ = "error"), ev(5, 0, typ = "error")))
    sink(batch2, 1L) // 1+2 errors >= 3 -> trips AFTER writing
    assert(!cb.allow)

    val batch3 = spark.createDataset(Seq(ev(6, 0)))
    sink(batch3, 2L) // breaker open -> whole batch diverted to DLQ
    assert(main.size == 2 && dlq.size == 4)

    now = 2000 // window elapsed -> closed again
    sink(spark.createDataset(Seq(ev(7, 0))), 3L)
    assert(main.size == 3)
  }

  test("guarded sink writers may close over driver-only handles (filters do not ship the sink)") {
    final class DriverHandle { val rows = collection.mutable.ArrayBuffer[Ev]() } // not Serializable
    val handle = new DriverHandle
    val dlq = collection.mutable.ArrayBuffer[Ev]()
    val sink = GuardedBatchSink[Ev](new CircuitBreaker(errorThreshold = 100, windowMillis = 1000),
      (ds, _) => handle.rows ++= ds.collect(),
      (ds, _) => dlq ++= ds.collect(),
      isError = _.event_type == "error")
    sink(spark.createDataset(Seq(ev(1, 0), ev(2, 0, typ = "error"), ev(3, 0))), 0L)
    assert(handle.rows.map(_.event_id).sorted == Seq(1L, 3L))
    assert(dlq.map(_.event_id) == Seq(2L))
  }

  test("blackout window diverts whole batches to the backup sink (F2/F3)") {
    var now = 0L
    val cb = new CircuitBreaker(errorThreshold = 100, windowMillis = 1000, clock = () => now)
    val blackout = new graft.reliability.Blackout(100, 200, () => now)
    val main = collection.mutable.ArrayBuffer[Ev]()
    val dlq = collection.mutable.ArrayBuffer[Ev]()
    val backup = collection.mutable.ArrayBuffer[Ev]()
    val sink = GuardedBatchSink[Ev](cb,
      (ds, _) => main ++= ds.collect(),
      (ds, _) => dlq ++= ds.collect(),
      isError = _ => false,
      blackout = Some(blackout),
      writeBackup = Some((ds, _) => backup ++= ds.collect()))
    sink(spark.createDataset(Seq(ev(1, 0))), 0L)
    assert(main.size == 1 && backup.isEmpty)
    now = 150 // inside the blackout window
    sink(spark.createDataset(Seq(ev(2, 0), ev(3, 0))), 1L)
    assert(main.size == 1 && backup.size == 2 && dlq.isEmpty)
    now = 250 // blackout over
    sink(spark.createDataset(Seq(ev(4, 0))), 2L)
    assert(main.size == 2)
  }

  test("query supervisor restarts a failing query until it recovers (generator/internal.go:89-117)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(ev(1, 0), ev(2, 0))
    val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(2)
    val processed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val cb = new graft.reliability.CircuitBreaker(errorThreshold = 10, windowMillis = 50)
    val sup = new QuerySupervisor(cb, maxRestarts = 5, restartBackoffMs = 1, sleep = _ => ())
    def mkQuery() = mem.toDS().writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Ev], _: Long) =>
        if (failuresLeft.getAndDecrement() > 0) throw new RuntimeException("sink down")
        ds.collect().foreach(e => processed.add(e.event_id))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val clean = sup.superviseBlocking(() => mkQuery())
    assert(clean, s"supervisor gave up: ${sup.lastError}")
    assert(sup.restarts == 2)
    assert(processed.contains(1L) && processed.contains(2L))
  }

  test("observed meters surface via StreamingQueryListener (A1-A6)") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new MeterListener()
    spark.streams.addListener(listener)
    val mem = MemoryStream[Ev]
    val observed = StreamOps.observed(mem.toDF(), "meter", col("event_type") === "error")
    val q = observed.writeStream.format("memory").queryName("metered")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, 0, v = 5.0), ev(2, 0, v = 9.0), ev(3, 0, v = 1.0, typ = "error"))
      q.processAllAvailable()
      // listener callbacks are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.count("meter.processed_count") < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.count("meter.processed_count") == 3)
      assert(listener.count("meter.error_count") == 1)
      assert(listener.peak("meter.peak_value") == 9.0)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("component gauges (sensor→meter): a registered component counter " +
    "reads LIVE through the meter surface and tracks the component") {
    val listener = new MeterListener()
    val drops = new java.util.concurrent.atomic.AtomicLong(0)
    listener.registerGauge("ws_client.drops", () => drops.get())
    assert(listener.count("ws_client.drops") == 0)
    drops.set(3) // a connection flapped three times
    assert(listener.count("ws_client.drops") == 3,
      "gauge reads must be live, not a stale registration-time snapshot")
    // unregistered names keep the plain-counter behavior
    assert(listener.count("ws_client.unknown") == 0)
  }

  test("driver-side gauge reads seed the degraded fallback: a registry " +
    "with NO streaming query attached still degrades a dead gauge to " +
    "the last successfully READ value, never to a false 0") {
    val listener = new MeterListener()
    val v = new java.util.concurrent.atomic.AtomicLong(7)
    val dead = new java.util.concurrent.atomic.AtomicBoolean(false)
    listener.registerGauge("jack.rejected", () => {
      if (dead.get()) throw new IllegalStateException("component stopped")
      v.get()
    })
    assert(listener.count("jack.rejected") == 7) // a live read seeds the snapshot
    dead.set(true) // stopped WITHOUT any progress event ever firing
    assert(listener.count("jack.rejected") == 7,
      "a dead gauge must degrade to the last read, not conflate " +
        "'component stopped' with 'zero events'")
  }

  test("a gauge that starts THROWING (its component was stopped) degrades " +
    "to the last progress snapshot instead of breaking count(), and a " +
    "later progress event still feeds every other meter") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new MeterListener()
    spark.streams.addListener(listener)
    val live = new java.util.concurrent.atomic.AtomicLong(5)
    val dead = new java.util.concurrent.atomic.AtomicBoolean(false)
    listener.registerGauge("ws_client.reconnects", () => {
      if (dead.get()) throw new IllegalStateException("component stopped")
      live.get()
    })
    val mem = MemoryStream[Ev]
    val q = mem.toDF().writeStream.format("memory").queryName("gauged")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, 0), ev(2, 0))
      q.processAllAvailable()
      // listener callbacks are async; wait for the snapshot to land
      val deadline = System.currentTimeMillis() + 10000
      while (listener.count("inputRows") < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.count("ws_client.reconnects") == 5)
      dead.set(true) // the component stops; its gauge now throws
      assert(listener.count("ws_client.reconnects") == 5,
        "a throwing gauge must degrade to the last snapshot, not propagate")
      // the guarded snapshot loop must not let the dead gauge abort the
      // rate meters (or, worse, the A5 trip policy) on later progress
      mem.addData(ev(3, 0))
      q.processAllAvailable()
      val d2 = System.currentTimeMillis() + 10000
      while (listener.count("inputRows") < 3 && System.currentTimeMillis() < d2)
        Thread.sleep(50)
      assert(listener.count("inputRows") == 3,
        "one dead gauge silenced the other meters")
      assert(listener.count("ws_client.reconnects") == 5)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("A6 named timers: observeTimer durations fold to exact per-name " +
    "min/max/avg across micro-batches; driver Start/StopTimer shares the " +
    "registry and an unmatched stop reads 0") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new MeterListener()
    spark.streams.addListener(listener)
    val mem = MemoryStream[Ev]
    // rows carry their own start/stop-equivalent duration in ms (value)
    val timed = StreamOps.observeTimer(mem.toDF(), "ingest_lag",
      col("value").cast("long"))
    val q = timed.writeStream.format("memory").queryName("timed")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, 0, v = 40.0), ev(2, 0, v = 10.0))
      q.processAllAvailable()
      mem.addData(ev(3, 0, v = 100.0), ev(4, 0, v = 30.0))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 10000
      while (listener.timer("ingest_lag").count < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val t = listener.timer("ingest_lag")
      assert(t.count == 4, t)
      assert(t.minMs == 10L && t.maxMs == 100L, t) // exact across batches
      assert(t.sumMs == 180L && t.avgMs == 45L, t)
      // the reference's driver-side pair writes into the SAME registry
      listener.startTimer("publish")
      Thread.sleep(30)
      val ms = listener.stopTimer("publish")
      assert(ms >= 20L, s"elapsed $ms")
      val pub = listener.timer("publish")
      assert(pub.count == 1 && pub.minMs == ms && pub.maxMs == ms)
      // unmatched stop: 0, nothing recorded (metrics.go:279-287 contract)
      assert(listener.stopTimer("never-started") == 0L)
      assert(listener.timer("never-started").count == 0)
      // an unrelated timer name stays zeroed
      assert(listener.timer("other").avgMs == 0L)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("streaming perceptual hashes match batch bit-for-bit (media ingest twin)") {
    // imageDHashes/audioFingerprints are STATELESS mapPartitions kernels,
    // so they apply unchanged to a streaming Dataset — the online half of
    // multimodal dedup (hash arriving media, probe the persisted index).
    // This differential locks stream ≡ batch on the same payloads.
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.range(8).toDF("doc_id")
    val images = Multimodal.syntheticImages(docs, families = 3).collect()
    val audio = Multimodal.syntheticAudio(docs, families = 3).collect()
    val batchImg = Multimodal.imageDHashes(
      spark.createDataset(images.toSeq)).collect()
      .map(r => r.media_id -> r.dhash).toMap
    val batchAud = Multimodal.audioFingerprints(
      spark.createDataset(audio.toSeq)).collect()
      .map(r => r.media_id -> r.fp).toMap
    val mem = MemoryStream[Multimodal.MediaRecord]
    val q = Multimodal.imageDHashes(mem.toDS())
      .writeStream.format("memory").queryName("img_hash_stream")
      .outputMode("append").start()
    val qa = Multimodal.audioFingerprints(mem.toDS())
      .writeStream.format("memory").queryName("aud_fp_stream")
      .outputMode("append").start()
    try {
      mem.addData(images.toSeq ++ audio.toSeq)
      q.processAllAvailable(); qa.processAllAvailable()
      val gotImg = spark.table("img_hash_stream")
        .select("media_id", "dhash").as[(Long, Long)].collect().toMap
      val gotAud = spark.table("aud_fp_stream")
        .select("media_id", "fp").as[(Long, Long)].collect().toMap
      assert(gotImg == batchImg, "image stream/batch hash drift")
      assert(gotAud == batchAud, "audio stream/batch fingerprint drift")
    } finally { q.stop(); qa.stop() }
  }

  test("funnel stream equals the batch per-user funnel under ordered arrival") {
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.Tables.events(spark, sfDir)
    val batch = graft.queries.Relational.evFunnelPerUser(events)
      .collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getLong(0) -> ((opt(1), opt(2), opt(3)))
      }.toMap
    // event-time order, split across three micro-batches
    val rows = events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("ts", "event_id").as[Ev].collect()
    val mem = MemoryStream[Ev]
    val q = StreamOps.funnelStream(mem.toDF())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // states only gain fields, so the per-user max over updates IS the
      // final state
      val got = spark.table("funnel_stream")
        .groupBy("user_id").agg(max("t1").as("t1"), max("t2").as("t2"),
          max("t3").as("t3"))
        .collect().map { r =>
          def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
          r.getLong(0) -> ((opt(1), opt(2), opt(3)))
        }.toMap
      assert(got.keySet == batch.keySet)
      got.foreach { case (u, s) => assert(s == batch(u), s"user $u: $s vs ${batch(u)}") }
    } finally q.stop()
  }

  test("transition stream equals the batch transition matrix under ordered arrival") {
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.Tables.events(spark, sfDir)
    val batch = graft.queries.Relational.evTransitions(spark, sfDir)
      .select("from_type", "to_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rows = events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("ts", "event_id").as[Ev].collect()
    val mem = MemoryStream[Ev]
    val q = StreamOps.transitionStream(mem.toDF())
      .writeStream.format("memory").queryName("trans_stream")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("trans_stream")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("funnel stream state survives a checkpointed stop/restart") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L
    val ckpt = java.nio.file.Files.createTempDirectory("funnel_ckpt").toString
    val mem = MemoryStream[Ev]
    // memory sink refuses checkpoint recovery; foreachBatch is the
    // recovery-supported sink shape (the GuardedBatchSink production path)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Int)]()
    def start() = StreamOps.funnelStream(mem.toDF())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.FunnelState], _: Long) =>
        b.collect().foreach(s => seen.add(
          (s.t1.getOrElse(-1L), s.t2.getOrElse(-1L), s.t3.getOrElse(-1L), s.step)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    val q1 = start()
    try {
      mem.addData(Ev(1, 100 * us, 11, "view", 0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the same checkpoint: the user's t1 must still
    // anchor the chain for events arriving after the restart
    val q2 = start()
    try {
      mem.addData(Ev(2, 200 * us, 11, "click", 0), Ev(3, 300 * us, 11, "purchase", 0))
      q2.processAllAvailable()
      val states = seen.toArray(Array.empty[(Long, Long, Long, Int)])
      assert(states.contains((100L, 200L, 300L, 3)),
        s"state lost across restart: ${states.mkString(", ")}")
    } finally q2.stop()
  }

  test("heavy-hitters stream equals the batch sketch across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import SparkSpec.session.implicits._
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.heavyHittersStream(
        mem.toDF().toDF("doc_id", "text"), capacity = 64)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    try {
      mem.addData((1L, "alpha beta alpha"), (2L, "beta gamma beta"))
      q.processAllAvailable()
      mem.addData((3L, "alpha alpha delta"))
      q.processAllAvailable()
      val got = spark.table("hh_stream")
        .select(explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.count"))
        .as[(String, Long)].collect().toMap
      // capacity >= vocab -> exact counts over everything seen so far,
      // including the merge across the two micro-batches
      assert(got == Map("alpha" -> 4L, "beta" -> 3L, "gamma" -> 1L,
        "delta" -> 1L), got)
      // state-store footprint lock: the complete-mode global aggregate
      // keeps exactly ONE state row (the merged sketch buffer) no matter
      // how many words streamed through — per-word state (a groupBy
      // formulation, store size ∝ vocabulary) would show up here
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.nonEmpty, "no state operator in progress metrics")
      assert(stateOps.map(_.numRowsTotal).sum == 1,
        s"expected one sketch-buffer state row, got " +
          stateOps.map(_.numRowsTotal).mkString(","))
    } finally q.stop()
  }

  test("cooccur stream emits exactly the batch marks for closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L
    val gapUs = 5L * 60 * 1000 * 1000
    val mem = MemoryStream[Ev]
    val q = StreamOps.cooccurStream(mem.toDF())
      .writeStream.format("memory").queryName("cooccur_marks")
      .outputMode("append").start()
    try {
      // user 7: session {view, click} then (gap) session {view, purchase};
      // user 8: one session {click}; events arrive in event-time order
      // split across micro-batches (including a session spanning batches)
      mem.addData(Ev(1, 100 * us, 7, "view", 0), Ev(2, 200 * us, 7, "click", 0))
      q.processAllAvailable()
      mem.addData(Ev(3, 250 * us, 7, "view", 0)) // same session (gap small)
      q.processAllAvailable()
      val far = 500 * 1000 * 1000L // µs — 500 s, past the 5-min gap
      mem.addData(Ev(4, far * us, 7, "view", 0),
        Ev(5, (far + 1) * us, 7, "purchase", 0),
        Ev(6, 300 * us, 8, "click", 0))
      q.processAllAvailable()
      // close the open sessions with sentinel events (their own sessions
      // stay open and emit nothing — the documented contract)
      val flush = far + 2 * gapUs
      mem.addData(Ev(7, flush * us, 7, "sentinel", 0),
        Ev(8, flush * us, 8, "sentinel", 0))
      q.processAllAvailable()
      val marks = spark.table("cooccur_marks")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
        .groupBy(identity).view.mapValues(_.length).toMap
      // session 1 of user 7: {click, view} -> marker + 2 singles + 1 pair;
      // session 2: {purchase, view}; user 8: {click}
      val expected = Map(
        (7L, None, None) -> 2, (8L, None, None) -> 1,
        (7L, Some("click"), None) -> 1, (7L, Some("view"), None) -> 2,
        (7L, Some("purchase"), None) -> 1, (8L, Some("click"), None) -> 1,
        (7L, Some("click"), Some("view")) -> 1,
        (7L, Some("purchase"), Some("view")) -> 1)
      assert(marks == expected, marks)
    } finally q.stop()
  }

  test("rollup merge sink folds every batch exactly once across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L
    val ckpt = java.nio.file.Files.createTempDirectory("rollup_ckpt").toString
    val path = java.nio.file.Files.createTempDirectory("rollup_art").toString + "/r"
    val mem = MemoryStream[Ev]
    def start() = mem.toDF()
      .select(col("event_type"), lit(1L).as("n"),
        round(col("value") * 100).cast("long").as("cents"))
      .writeStream
      .foreachBatch(StreamOps.mergeRollupBatch(path,
        Seq("event_type"), Seq("n", "cents")) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def rollup() = spark.read.parquet(
        graft.sources.Fs.resolveCurrent(spark, path, "no rollup") + "/rollup")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val q1 = start()
    try {
      mem.addData(Ev(1, 100 * us, 1, "view", 1.0), Ev(2, 200 * us, 1, "view", 2.0))
      q1.processAllAvailable()
      mem.addData(Ev(3, 300 * us, 2, "click", 0.5))
      q1.processAllAvailable()
      assert(rollup() == Map("view" -> ((2L, 300L)), "click" -> ((1L, 50L))))
    } finally q1.stop()
    // restart on the same checkpoint: new data folds in, nothing doubles
    val q2 = start()
    try {
      mem.addData(Ev(4, 400 * us, 1, "view", 3.0))
      q2.processAllAvailable()
      assert(rollup() == Map("view" -> ((3L, 600L)), "click" -> ((1L, 50L))))
    } finally q2.stop()
    // a replayed batch AT the high-water mark (the checkpoint-recovery
    // case) is a no-op: version pointer and values must not move
    val (fs, root) = graft.sources.Fs.of(spark, path)
    val vBefore = graft.sources.Fs.currentVersion(fs, root).get
    val replay = spark.createDataFrame(
      Seq(("view", 1L, 600L))).toDF("event_type", "n", "cents")
    val lastId = graft.sources.Fs.readMeta[StreamOps.RollupMeta](spark,
      graft.sources.Fs.resolveCurrent(spark, path, "no rollup"), "no rollup")
      .lastBatch
    StreamOps.mergeRollupBatch(path, Seq("event_type"), Seq("n", "cents"))(
      replay, lastId)
    assert(graft.sources.Fs.currentVersion(fs, root).get == vBefore)
    assert(rollup() == Map("view" -> ((3L, 600L)), "click" -> ((1L, 50L))))
    // a batchId BELOW the mark is an unrelated stream, not a replay —
    // silently skipping would drop its earlier batches, so it must throw
    val ex = intercept[IllegalArgumentException] {
      StreamOps.mergeRollupBatch(path, Seq("event_type"), Seq("n", "cents"))(
        replay, lastId - 1)
    }
    assert(ex.getMessage.contains("unrelated stream"), ex.getMessage)
    assert(rollup() == Map("view" -> ((3L, 600L)), "click" -> ((1L, 50L))))
  }

  test("distinct-rollup sink: pair-set artifact exact across restart; counts match batch") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L
    val ckpt = java.nio.file.Files.createTempDirectory("drollup_ckpt").toString
    val path = java.nio.file.Files.createTempDirectory("drollup_art").toString + "/r"
    val mem = MemoryStream[Ev]
    def start() = mem.toDF()
      .select(col("event_type"), col("user_id"))
      .writeStream
      .foreachBatch(StreamOps.mergeDistinctRollupBatch(path,
        Seq("event_type"), "user_id") _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def counts() = graft.operators.Maintenance.distinctRollupCounts(
        spark.read.parquet(
          graft.sources.Fs.resolveCurrent(spark, path, "no rollup") + "/pairs"),
        Seq("event_type"), "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val q1 = start()
    try {
      // user 1 views twice (one distinct pair), user 2 clicks
      mem.addData(Ev(1, 100 * us, 1, "view", 1.0), Ev(2, 200 * us, 1, "view", 2.0))
      q1.processAllAvailable()
      mem.addData(Ev(3, 300 * us, 2, "click", 0.5))
      q1.processAllAvailable()
      assert(counts() == Map("view" -> 1L, "click" -> 1L))
    } finally q1.stop()
    // restart on the same checkpoint: a NEW user and a RE-SEEN pair fold
    // in — the new pair counts, the re-seen one is absorbed by the union
    val q2 = start()
    try {
      mem.addData(Ev(4, 400 * us, 3, "view", 3.0), Ev(5, 500 * us, 1, "view", 4.0))
      q2.processAllAvailable()
      assert(counts() == Map("view" -> 2L, "click" -> 1L))
    } finally q2.stop()
    // replay AT the high-water mark: version pointer must not move (the
    // fold would be value-idempotent anyway; the skip saves the write)
    val (fs, root) = graft.sources.Fs.of(spark, path)
    val vBefore = graft.sources.Fs.currentVersion(fs, root).get
    val lastId = graft.sources.Fs.readMeta[StreamOps.RollupMeta](spark,
      graft.sources.Fs.resolveCurrent(spark, path, "no rollup"), "no rollup")
      .lastBatch
    val replay = spark.createDataFrame(Seq(("view", 1L)))
      .toDF("event_type", "user_id")
    StreamOps.mergeDistinctRollupBatch(path, Seq("event_type"), "user_id")(
      replay, lastId)
    assert(graft.sources.Fs.currentVersion(fs, root).get == vBefore)
    // batchId BELOW the mark = unrelated stream, must throw not skip
    val ex = intercept[IllegalArgumentException] {
      StreamOps.mergeDistinctRollupBatch(path, Seq("event_type"), "user_id")(
        replay, lastId - 1)
    }
    assert(ex.getMessage.contains("unrelated stream"), ex.getMessage)
    // differential: the maintained artifact's counts equal the batch
    // distinct over every row that entered the stream
    val allRows = Seq(("view", 1L), ("view", 1L), ("click", 2L),
      ("view", 3L), ("view", 1L))
    val batchDirect = spark.createDataFrame(allRows)
      .toDF("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts() == batchDirect)
  }

  test("hll-rollup sink: sketch artifact folds across restart; small-set estimates exact") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L
    val ckpt = java.nio.file.Files.createTempDirectory("hrollup_ckpt").toString
    val path = java.nio.file.Files.createTempDirectory("hrollup_art").toString + "/r"
    val mem = MemoryStream[Ev]
    def start() = mem.toDF()
      .select(col("event_type"), col("user_id"))
      .writeStream
      .foreachBatch(StreamOps.mergeHllRollupBatch(path,
        Seq("event_type"), "user_id") _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def est() = graft.operators.Maintenance.hllRollupEstimates(
        spark.read.parquet(
          graft.sources.Fs.resolveCurrent(spark, path, "no rollup") + "/sketch"),
        Seq("event_type"), "hll_user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val q1 = start()
    try {
      mem.addData(Ev(1, 100 * us, 1, "view", 1.0), Ev(2, 200 * us, 1, "view", 2.0))
      q1.processAllAvailable()
      mem.addData(Ev(3, 300 * us, 2, "click", 0.5))
      q1.processAllAvailable()
      assert(est() == Map("view" -> 1L, "click" -> 1L))
    } finally q1.stop()
    // restart on the same checkpoint: a new user unions in, a re-seen
    // user is absorbed by the register max
    val q2 = start()
    try {
      mem.addData(Ev(4, 400 * us, 3, "view", 3.0), Ev(5, 500 * us, 1, "view", 4.0))
      q2.processAllAvailable()
      assert(est() == Map("view" -> 2L, "click" -> 1L))
    } finally q2.stop()
    // replay AT the mark: skipped (version pointer frozen); BELOW: rejected
    val (fs, root) = graft.sources.Fs.of(spark, path)
    val vBefore = graft.sources.Fs.currentVersion(fs, root).get
    val lastId = graft.sources.Fs.readMeta[StreamOps.RollupMeta](spark,
      graft.sources.Fs.resolveCurrent(spark, path, "no rollup"), "no rollup")
      .lastBatch
    val replay = spark.createDataFrame(Seq(("view", 1L)))
      .toDF("event_type", "user_id")
    StreamOps.mergeHllRollupBatch(path, Seq("event_type"), "user_id")(
      replay, lastId)
    assert(graft.sources.Fs.currentVersion(fs, root).get == vBefore)
    val ex = intercept[IllegalArgumentException] {
      StreamOps.mergeHllRollupBatch(path, Seq("event_type"), "user_id")(
        replay, lastId - 1)
    }
    assert(ex.getMessage.contains("unrelated stream"), ex.getMessage)
    assert(est() == Map("view" -> 2L, "click" -> 1L))
  }

  test("theta-rollup sink: sketch artifact folds across restart; overlap reads work live") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L
    val ckpt = java.nio.file.Files.createTempDirectory("trollup_ckpt").toString
    val path = java.nio.file.Files.createTempDirectory("trollup_art").toString + "/r"
    val mem = MemoryStream[Ev]
    def start() = mem.toDF()
      .select(col("event_type"), col("user_id"))
      .writeStream
      .foreachBatch(StreamOps.mergeThetaRollupBatch(path,
        Seq("event_type"), "user_id") _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def artifact() = spark.read.parquet(
      graft.sources.Fs.resolveCurrent(spark, path, "no rollup") + "/sketch")
    def est() = graft.operators.Maintenance.thetaRollupEstimates(
        artifact(), Seq("event_type"), "theta_user_id")
      .collect().map(r => r.getString(0) -> r.getAs[Double](1).toLong).toMap
    val q1 = start()
    try {
      mem.addData(Ev(1, 100 * us, 1, "view", 1.0), Ev(2, 200 * us, 1, "view", 2.0))
      q1.processAllAvailable()
      mem.addData(Ev(3, 300 * us, 2, "click", 0.5))
      q1.processAllAvailable()
      assert(est() == Map("view" -> 1L, "click" -> 1L))
    } finally q1.stop()
    val q2 = start()
    try {
      mem.addData(Ev(4, 400 * us, 3, "view", 3.0), Ev(5, 500 * us, 1, "view", 4.0))
      q2.processAllAvailable()
      assert(est() == Map("view" -> 2L, "click" -> 1L))
    } finally q2.stop()
    // the theta-only capability on the LIVE artifact: overlap between the
    // maintained view rollup and a reference click rollup — user 1 viewed
    // AND user 2 clicked, only user overlap counted per type pair
    val clicks = graft.operators.Maintenance.thetaRollup(
      spark.createDataFrame(Seq(("view", 1L), ("view", 9L)))
        .toDF("event_type", "user_id"),
      Seq("event_type"), "user_id")
    val o = graft.operators.Maintenance.thetaOverlap(
      artifact().filter(col("event_type") === "view"), clicks,
      Seq("event_type"), "theta_user_id").collect().head
    assert(o.getAs[Double]("est_a") == 2.0) // users 1, 3
    assert(o.getAs[Double]("est_intersection") == 1.0) // user 1
    assert(o.getAs[Double]("est_union") == 3.0) // users 1, 3, 9
    // replay AT the mark skipped; BELOW rejected
    val (fs, root) = graft.sources.Fs.of(spark, path)
    val vBefore = graft.sources.Fs.currentVersion(fs, root).get
    val lastId = graft.sources.Fs.readMeta[StreamOps.RollupMeta](spark,
      graft.sources.Fs.resolveCurrent(spark, path, "no rollup"), "no rollup")
      .lastBatch
    val replay = spark.createDataFrame(Seq(("view", 1L)))
      .toDF("event_type", "user_id")
    StreamOps.mergeThetaRollupBatch(path, Seq("event_type"), "user_id")(replay, lastId)
    assert(graft.sources.Fs.currentVersion(fs, root).get == vBefore)
    val ex = intercept[IllegalArgumentException] {
      StreamOps.mergeThetaRollupBatch(path, Seq("event_type"), "user_id")(
        replay, lastId - 1)
    }
    assert(ex.getMessage.contains("unrelated stream"), ex.getMessage)
  }

  test("kll-rollup sink: quantile artifact folds across restart; replay protection is load-bearing") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L
    val ckpt = java.nio.file.Files.createTempDirectory("krollup_ckpt").toString
    val path = java.nio.file.Files.createTempDirectory("krollup_art").toString + "/r"
    val mem = MemoryStream[Ev]
    def start() = mem.toDF()
      .select(col("event_type"), col("value"))
      .writeStream
      .foreachBatch(StreamOps.mergeKllRollupBatch(path,
        Seq("event_type"), "value") _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def read() = graft.operators.Maintenance.kllRollupQuantiles(
        spark.read.parquet(
          graft.sources.Fs.resolveCurrent(spark, path, "no rollup") + "/sketch"),
        Seq("event_type"), "kll_value", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> ((r.getAs[Long]("n"), r.getAs[Double]("p50")))).toMap
    val q1 = start()
    try {
      mem.addData(Ev(1, 100 * us, 1, "view", 10.0), Ev(2, 200 * us, 1, "view", 20.0))
      q1.processAllAvailable()
      assert(read() == Map("view" -> ((2L, 10.0))))
    } finally q1.stop()
    val q2 = start()
    try {
      mem.addData(Ev(3, 300 * us, 2, "view", 30.0))
      q2.processAllAvailable()
      // exact inclusive median of {10, 20, 30} after the cross-restart fold
      assert(read() == Map("view" -> ((3L, 20.0))))
    } finally q2.stop()
    // replay AT the mark MUST be skipped — the fold is non-idempotent, a
    // re-fold would double-count n (the contract the doc calls load-bearing)
    val lastId = graft.sources.Fs.readMeta[StreamOps.RollupMeta](spark,
      graft.sources.Fs.resolveCurrent(spark, path, "no rollup"), "no rollup")
      .lastBatch
    val replay = spark.createDataFrame(Seq(("view", 99.0)))
      .toDF("event_type", "value")
    StreamOps.mergeKllRollupBatch(path, Seq("event_type"), "value")(replay, lastId)
    assert(read() == Map("view" -> ((3L, 20.0))), "replayed batch was double-counted")
    val ex = intercept[IllegalArgumentException] {
      StreamOps.mergeKllRollupBatch(path, Seq("event_type"), "value")(
        replay, lastId - 1)
    }
    assert(ex.getMessage.contains("unrelated stream"), ex.getMessage)
  }

  test("funnel stream documents the no-retraction contract under disorder") {
    implicit val sqlCtx = spark.sqlContext
    val us = 1000L // ns per µs
    val mem = MemoryStream[Ev]
    val q = StreamOps.funnelStream(mem.toDF())
      .writeStream.format("memory").queryName("funnel_disorder")
      .outputMode("update").start()
    try {
      // batch 1: view@100, click@200 -> chain (100, 200)
      mem.addData(Ev(1, 100 * us, 7, "view", 0), Ev(2, 200 * us, 7, "click", 0))
      q.processAllAvailable()
      // batch 2: LATE view@50 — the batch query would re-anchor t1=50;
      // the stream keeps its monotone chain (the documented trade)
      mem.addData(Ev(3, 50 * us, 7, "view", 0))
      q.processAllAvailable()
      val last = spark.table("funnel_disorder")
        .groupBy("user_id").agg(max("t1").as("t1"), max("t2").as("t2"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
      assert(last == ((100L, 200L)))
    } finally q.stop()
  }
}
