package graft.tools

import org.apache.spark.sql.SparkSession

import graft.sources.{HttpServerJack, Spool, WsClientSource, WsServerHub}

/** WS spool rate bound: SCALING.md
  * asserts "the file-per-record rate bound is the jack's, not Spark's"
  * with no number behind it. This main measures, on the current box:
  *
  *  1. the RAW spool floor — `Spool.writeRecord` in a tight loop (one
  *     create + hsync + atomic rename per record, no transport), and
  *  2. the full WS ingress path — JDK WebSocket client(s) pushing text
  *     frames through [[WsServerHub]] in spool mode, timed from first
  *     to last message landed, for 1 sender (per-connection serial
  *     latency included: `sendText(...).join()` per frame) and for 4
  *     concurrent senders (the server-side bound).
  *
  * Usage: `runMain graft.tools.SpoolRate [nMessages]`
  * Prints one JSON line: records/s for each mode. Results land in
  * SCALING.md; the control-plane claim holds if the bound sits well
  * above notification-edge rates (hundreds/s), NOT at Kafka/file-edge
  * rates — those edges stay on the bulk transports by design
  * (Spool.scala:21-24). */
object SpoolRate {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(8000)
    val spark = graft.Session.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, n)
    finally spark.stop()
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-spoolrate-$tag").toString

  def run(spark: SparkSession, n: Int): Unit = {
    def s3(v: Double): String = String.format(java.util.Locale.ROOT, "%.1f", v)

    // 1. raw floor: writeRecord tight loop, no transport
    val rawRate = {
      val (fs, root) = Spool.open(spark, tmpDir("raw"))
      val line = """{"id":1,"name":"ratecheck"}"""
      (0 until 500).foreach(_ => Spool.writeRecord(fs, root, line)) // warm
      val sec = timed((0 until n).foreach(_ => Spool.writeRecord(fs, root, line)))
      n / sec
    }

    // 2. full WS ingress, k concurrent senders; optional group-commit
    def wsRate(k: Int, segment: Option[Spool.SegmentPolicy] = None): Double = {
      val hub = new WsServerHub(spark, 0, spoolDir = Some(tmpDir(s"ws$k")),
        spoolSegment = segment)
      val clients = (0 until k).map { _ =>
        val c = new WsClientSource(spark, s"ws://127.0.0.1:${hub.boundPort}/feed")
        c.connect(); c
      }
      try {
        val warm = 200
        clients.head.synchronized {
          (0 until warm).foreach(i => clients.head.send(s"""{"id":$i,"w":1}"""))
        }
        while (hub.receivedCount < warm) Thread.sleep(1)
        val per = n / k
        val sec = timed {
          val threads = clients.zipWithIndex.map { case (c, ci) =>
            val t = new Thread(() =>
              (0 until per).foreach(i => c.send(s"""{"id":${ci * per + i}}""")))
            t.start(); t
          }
          threads.foreach(_.join())
          while (hub.receivedCount < warm + per.toLong * k) Thread.sleep(1)
        }
        (per.toLong * k) / sec
      } finally {
        clients.foreach(_.stop()); hub.stop()
      }
    }

    // 3. HTTP jack ingress, k concurrent posters — per-record mode acks
    //    after its own fsync; segment mode is BLOCKING group commit
    //    (each 2xx still waits for its batch), so the win needs real
    //    request concurrency: poolThreads = k
    def httpRate(k: Int, segment: Option[Spool.SegmentPolicy] = None): Double = {
      val jack = new HttpServerJack(spark, 0, authRequired = false,
        spoolDir = Some(tmpDir(s"http$k")), spoolSegment = segment,
        poolThreads = k)
      val client = java.net.http.HttpClient.newHttpClient()
      val uri = java.net.URI.create(s"http://127.0.0.1:${jack.boundPort}/ingest")
      def post(body: String): Int = client.send(
        java.net.http.HttpRequest.newBuilder(uri)
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      try {
        (0 until 100).foreach(i => post(s"""{"id":$i,"w":1}""")) // warm
        val per = n / k
        val failed = new java.util.concurrent.atomic.AtomicInteger(0)
        val sec = timed {
          val threads = (0 until k).map { ci =>
            val t = new Thread(() => (0 until per).foreach { i =>
              if (post(s"""{"id":${ci * per + i}}""") != 200)
                failed.incrementAndGet()
            })
            t.start(); t
          }
          threads.foreach(_.join())
        }
        require(failed.get() == 0, s"http bench saw ${failed.get()} non-200s")
        (per.toLong * k) / sec
      } finally jack.stop()
    }

    val ws1 = wsRate(1)
    val ws4 = wsRate(4)
    val seg = Some(Spool.SegmentPolicy())
    val ws1seg = wsRate(1, seg)
    val ws4seg = wsRate(4, seg)
    val http4 = httpRate(4)
    val http16seg = httpRate(16, seg)
    println(s"""{"metric":"spool_rate","n":$n,"raw_write_per_s":${s3(rawRate)},""" +
      s""""ws_1_sender_per_s":${s3(ws1)},"ws_4_senders_per_s":${s3(ws4)},""" +
      s""""ws_1_sender_segment_per_s":${s3(ws1seg)},""" +
      s""""ws_4_senders_segment_per_s":${s3(ws4seg)},""" +
      s""""http_4_posters_per_s":${s3(http4)},""" +
      s""""http_16_posters_segment_per_s":${s3(http16seg)}}""")
  }
}
