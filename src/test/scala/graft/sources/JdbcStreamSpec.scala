package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** S7's Serve poll loop as Structured Streaming, END-TO-END against live
  * Derby: `readStream.format("graft-jdbc")` polls a watermark-bounded
  * range per micro-batch, the offset log checkpoints the high-water
  * mark, and a RESTART resumes exactly-once — the streaming proof the
  * S3 Serve loop got in r12 (`GraftS3FsSpec`), now for the JDBC edge
  * (`postgresclient/reader.go:13-46`). */
class JdbcStreamSpec extends SparkSpec {

  System.setProperty("derby.stream.error.file", "target/derby.log")
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val url = "jdbc:derby:memory:graftstream;create=true"

  private def exec(sql: String*): Unit = {
    Class.forName(driver)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try sql.foreach(st.executeUpdate) finally st.close()
    } finally c.close()
  }

  private def insertRows(table: String, from: Int, until: Int): Unit =
    exec((from until until).map(i =>
      s"($i, 'evt${i % 3}', ${i * 1.5})")
      .mkString(s"INSERT INTO $table VALUES ", ", ", ""))

  private def reader(table: String, extra: Map[String, String] = Map.empty) = {
    val base = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("table", table).option("watermarkColumn", "id")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("poll → micro-batch → checkpointed RESTART resumes exactly-once " +
    "(no replay, no loss, no re-read of the table)") {
    exec("CREATE TABLE poll1 (id BIGINT PRIMARY KEY, etype VARCHAR(16), val DOUBLE)")
    insertRows("poll1", 0, 20)
    val ckpt = java.nio.file.Files.createTempDirectory("jdbc_stream_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    def run(body: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
      val q = reader("poll1").writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          df.collect().foreach(r => got.add(r.getAs[Long]("id"))); ()
        })
        .option("checkpointLocation", ckpt).start()
      try body(q) finally q.stop()
    }

    import scala.jdk.CollectionConverters._
    run { q =>
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === (0L until 20L))
      // new rows land in the NEXT batch only — prior rows never re-ship
      insertRows("poll1", 20, 35)
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === (0L until 35L))
    }
    // rows arriving while the query is DOWN are picked up from the
    // checkpointed mark on restart — exactly once, without a table rescan
    insertRows("poll1", 35, 50)
    run { q =>
      q.processAllAvailable()
      val ids = got.asScala.toSeq.sorted
      assert(ids.length === 50, s"got ${ids.length} rows (replay or loss)")
      assert(ids === (0L until 50L))
    }
  }

  test("schema inference maps JDBC types; values arrive typed") {
    exec("CREATE TABLE poll2 (id BIGINT PRIMARY KEY, etype VARCHAR(16), val DOUBLE)")
    insertRows("poll2", 0, 5)
    val df = reader("poll2")
    assert(df.schema === StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("etype", StringType),
      StructField("val", DoubleType))))
    val q = df.writeStream.format("memory").queryName("jdbc_poll2").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("jdbc_poll2").collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === (0L until 5L))
      assert(rows.find(_.getLong(0) == 2L).get.getString(1) === "evt2")
      assert(rows.find(_.getLong(0) == 2L).get.getDouble(2) === 3.0)
    } finally q.stop()
  }

  test("startingWatermark=latest ships only rows inserted after the start; " +
    "an explicit mark starts mid-table; `where` scopes every poll") {
    exec("CREATE TABLE poll3 (id BIGINT PRIMARY KEY, etype VARCHAR(16), val DOUBLE)")
    insertRows("poll3", 0, 10)
    val q = reader("poll3", Map("startingWatermark" -> "latest"))
      .writeStream.format("memory").queryName("jdbc_poll3").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jdbc_poll3").count() === 0)
      insertRows("poll3", 10, 14)
      q.processAllAvailable()
      import spark.implicits._
      assert(spark.table("jdbc_poll3").select("id").as[Long].collect().sorted
        .toSeq === (10L until 14L))
    } finally q.stop()

    val q2 = reader("poll3", Map("startingWatermark" -> "5",
      "where" -> "etype <> 'evt0'"))
      .writeStream.format("memory").queryName("jdbc_poll3b").start()
    try {
      q2.processAllAvailable()
      import spark.implicits._
      // ids 6..13 minus the evt0 ones (id % 3 == 0): 6,9,12 dropped
      assert(spark.table("jdbc_poll3b").select("id").as[Long].collect().sorted
        .toSeq === Seq(7L, 8L, 10L, 11L, 13L))
    } finally q2.stop()
  }

  test("admission control: maxRowsPerPoll bounds each micro-batch; the " +
    "backlog drains across several epochs without loss") {
    exec("CREATE TABLE poll4 (id BIGINT PRIMARY KEY, etype VARCHAR(16), val DOUBLE)")
    insertRows("poll4", 0, 25)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = reader("poll4", Map("maxRowsPerPoll" -> "10"))
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        val rows = df.collect()
        batches.add(rows.length.toLong)
        rows.foreach(r => got.add(r.getAs[Long]("id")))
        ()
      }).start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq.sorted === (0L until 25L))
      // 25 pending rows under a 10-row budget: no epoch over budget, and
      // the backlog needs at least 3 epochs to drain
      assert(batches.asScala.filter(_ > 0).max <= 10L, batches.toString)
      assert(batches.asScala.count(_ > 0) >= 3, batches.toString)
    } finally q.stop()
  }

  test("TIMESTAMP watermark column: marks travel as epoch-micros in the " +
    "offset log and bound the range scan") {
    exec("CREATE TABLE poll5 (ts TIMESTAMP, payload VARCHAR(32))")
    def insertTs(fromSec: Int, untilSec: Int): Unit =
      exec((fromSec until untilSec).map(s =>
        s"(TIMESTAMP('2026-08-16 10:00:${"%02d".format(s)}'), 'p$s')")
        .mkString("INSERT INTO poll5 VALUES ", ", ", ""))
    insertTs(0, 10)
    val df = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("table", "poll5").option("watermarkColumn", "ts").load()
    assert(df.schema("ts").dataType === TimestampType)
    val q = df.writeStream.format("memory").queryName("jdbc_poll5").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jdbc_poll5").count() === 10)
      insertTs(10, 15)
      q.processAllAvailable()
      import spark.implicits._
      assert(spark.table("jdbc_poll5").select("payload").as[String].collect()
        .sorted.length === 15)
    } finally q.stop()
  }

  test("a late row and a far hwm advance in the SAME trigger: the epoch " +
    "clamps its end mark so the late row stays inside the end window — " +
    "shipped exactly once, not silently evicted (r15 review finding)") {
    exec("CREATE TABLE late4 (id BIGINT PRIMARY KEY, etype VARCHAR(16), val DOUBLE)")
    exec("INSERT INTO late4 VALUES (10,'e',1.0), (20,'e',2.0), (30,'e',3.0)")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = reader("late4", Map("lookback" -> "15")).writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        df.collect().foreach(r => got.add(r.getAs[Long]("id"))); ()
      }).start()
    try {
      import scala.jdk.CollectionConverters._
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(10L, 20L, 30L))
      // BOTH arrive between triggers: 18 is late inside the window
      // (18 > 30 - 15) while 45 would advance the hwm past 18 + 15;
      // without the clamp, 18 is charged to the epoch but never shipped
      exec("INSERT INTO late4 VALUES (18,'late',1.8), (45,'new',4.5)")
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(10L, 18L, 20L, 30L, 45L),
        s"same-trigger late row lost or duplicated: ${got.asScala.toSeq.sorted}")
      q.processAllAvailable()
      assert(got.asScala.size === 5, s"re-shipped: ${got.asScala.toSeq}")
    } finally q.stop()
  }

  test("lookback admission charges ROWS, not marks: a window of late rows " +
    "sharing watermark values drains across bounded epochs instead of " +
    "flooding one micro-batch past maxRowsPerPoll") {
    // wm deliberately NON-unique (second-granularity-timestamp analogue)
    exec("CREATE TABLE adm1 (id BIGINT PRIMARY KEY, wm BIGINT, val DOUBLE)")
    exec("INSERT INTO adm1 VALUES (1,10,0.1), (2,20,0.2), (3,30,0.3)")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("table", "adm1").option("watermarkColumn", "wm")
      .option("lookback", "15").option("maxRowsPerPoll", "5")
      .load().writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        val rows = df.collect()
        if (rows.nonEmpty) batches.add(rows.length.toLong)
        rows.foreach(r => got.add(r.getAs[Long]("id"))); ()
      }).start()
    try {
      import scala.jdk.CollectionConverters._
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(1L, 2L, 3L))
      // 12 late rows on 3 UNSEEN in-window marks (4 rows each), budget 5:
      // the old mark-count charging would ship all 12 in one batch
      exec((0 until 12).map(i => s"(${100 + i}, ${17 + (i % 3)}, 1.0)")
        .mkString("INSERT INTO adm1 VALUES ", ", ", ""))
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted.drop(3) === (100L until 112L),
        s"late rows lost/duplicated: ${got.asScala.toSeq.sorted}")
      import scala.jdk.CollectionConverters._
      val lateBatches = batches.asScala.toSeq.drop(1)
      assert(lateBatches.forall(_ <= 5L),
        s"a batch exceeded maxRowsPerPoll=5: $lateBatches")
      assert(lateBatches.count(_ > 0) >= 3, s"expected a multi-epoch drain: $lateBatches")
    } finally q.stop()
  }

  test("TIMESTAMP watermark + lookback: the window is MICROSECONDS, a " +
    "late transaction committing inside it ships exactly once, and the " +
    "bindable-floor clamp holds on an initially-empty table") {
    exec("CREATE TABLE late2 (ts TIMESTAMP, payload VARCHAR(32))")
    def insert(sec: Int): Unit =
      exec(s"INSERT INTO late2 VALUES (TIMESTAMP('2026-08-16 10:00:${"%02d".format(sec)}'), 'p$sec')")
    Seq(0, 10, 20, 30).foreach(insert)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // 15 s window in micros
    val q = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("table", "late2").option("watermarkColumn", "ts")
      .option("lookback", (15L * 1000000).toString).load()
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        df.collect().foreach(r => got.add(r.getAs[String]("payload"))); ()
      }).start()
    try {
      import scala.jdk.CollectionConverters._
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq("p0", "p10", "p20", "p30"))
      // hwm = :30, window (:15, :30]: a late commit at :25 ships once
      insert(25)
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq("p0", "p10", "p20", "p25", "p30"))
      q.processAllAvailable()
      assert(got.asScala.size === 5, s"re-shipped: ${got.asScala.toSeq}")
      // below the window (:05 <= :30 - 15 s): missed, the documented caveat
      insert(5)
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq("p0", "p10", "p20", "p25", "p30"))
      // hwm still advances past the window
      insert(45)
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted ===
        Seq("p0", "p10", "p20", "p25", "p30", "p45"))
    } finally q.stop()
    // empty-table sentinel + a lookback wider than the sentinel margin:
    // the poll floor clamps to the bindable emptyFloor instead of
    // underflowing Derby's year-1 range on every poll
    exec("CREATE TABLE late3 (ts TIMESTAMP, payload VARCHAR(32))")
    val q2 = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("table", "late3").option("watermarkColumn", "ts")
      .option("lookback", (30L * 86400 * 1000000).toString) // 30 days
      .load()
      .writeStream.format("memory").queryName("jdbc_late3").start()
    try {
      q2.processAllAvailable() // must not throw out-of-range on the probe
      exec("INSERT INTO late3 VALUES (TIMESTAMP('2026-08-16 11:00:00'), 'x')")
      q2.processAllAvailable()
      assert(spark.table("jdbc_late3").count() === 1)
    } finally q2.stop()
  }

  test("an INITIALLY-EMPTY table with a TIMESTAMP watermark starts clean " +
    "(the sentinel binds as a legal timestamp) and ships rows when they " +
    "arrive; a bad `where` clause surfaces its own error, not a reconnect " +
    "artifact") {
    exec("CREATE TABLE poll7 (ts TIMESTAMP, payload VARCHAR(32))")
    // no rows yet: the common 'start the stream, then data flows' shape
    val df = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("table", "poll7").option("watermarkColumn", "ts").load()
    val q = df.writeStream.format("memory").queryName("jdbc_poll7").start()
    try {
      q.processAllAvailable() // polls the EMPTY table: sentinel must bind
      assert(spark.table("jdbc_poll7").count() === 0)
      exec("INSERT INTO poll7 VALUES (TIMESTAMP('2026-08-16 12:00:00'), 'first')",
        "INSERT INTO poll7 VALUES (TIMESTAMP('2026-08-16 12:00:01'), 'second')")
      q.processAllAvailable()
      import spark.implicits._
      assert(spark.table("jdbc_poll7").select("payload").as[String].collect()
        .sorted.toSeq === Seq("first", "second"))
    } finally q.stop()
    // deterministic SQL error: the original SQLException surfaces (a
    // syntax error is not a dead connection)
    val bad = spark.readStream.format("graft-jdbc")
      .option("url", url).option("driver", driver)
      .option("table", "poll7").option("watermarkColumn", "ts")
      .option("where", "no_such_column = 1").load()
    val q2 = bad.writeStream.format("memory").queryName("jdbc_poll7b").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
        q2.awaitTermination(10000)
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(_.isInstanceOf[java.sql.SQLException]),
        chain(e).map(_.getClass.getName).toString)
    } finally q2.stop()
  }

  test("range splitting: a backlog epoch plans numPartitions contiguous " +
    "mark slices that tile (start, end] exactly") {
    val opts = JdbcStream.Opts(new CaseInsensitiveStringMap(
      java.util.Map.of("url", url, "driver", driver, "table", "poll1",
        "watermarkColumn", "id", "numPartitions", "4")))
    exec("CREATE TABLE poll6 (id BIGINT PRIMARY KEY, etype VARCHAR(16), val DOUBLE)")
    val schema = StructType(Seq(StructField("id", LongType)))
    val stream = new GraftJdbcMicroBatchStream(schema, opts.copy(table = "poll6"))
    try {
      val parts = stream.planInputPartitions(
        CursorOffset("hwm", 0L), CursorOffset("hwm", 100L))
        .map(_.asInstanceOf[JdbcInputPartition])
      assert(parts.length === 4)
      assert(parts.head.lo === 0L && parts.last.hi === 100L)
      assert(parts.sliding(2).forall(w => w(0).hi == w(1).lo))
      // a 2-row epoch never plans more slices than marks
      assert(stream.planInputPartitions(
        CursorOffset("hwm", 0L), CursorOffset("hwm", 2L)).length === 2)
      assert(stream.planInputPartitions(
        CursorOffset("hwm", 5L), CursorOffset("hwm", 5L)).isEmpty)
    } finally stream.stop()
  }

  test("lookback window: a row committing OUT OF ORDER below the hwm " +
    "ships exactly once; beyond the window it is missed (the documented " +
    "narrowed caveat); a restart preserves the dedup") {
    exec("CREATE TABLE late1 (id BIGINT PRIMARY KEY, etype VARCHAR(16), val DOUBLE)")
    // ids 0,10,20,30 with holes a late transaction will fill
    exec("INSERT INTO late1 VALUES (0,'e',0.0), (10,'e',1.0), (20,'e',2.0), (30,'e',3.0)")
    val ckpt = java.nio.file.Files.createTempDirectory("jdbc_lookback_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    def run(body: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
      val q = reader("late1", Map("lookback" -> "15")).writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          df.collect().foreach(r => got.add(r.getAs[Long]("id"))); ()
        })
        .option("checkpointLocation", ckpt).start()
      try body(q) finally q.stop()
    }

    import scala.jdk.CollectionConverters._
    run { q =>
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(0L, 10L, 20L, 30L))
      // hwm = 30, window (15, 30]: a late row at 25 ships exactly once
      exec("INSERT INTO late1 VALUES (25,'late',2.5)")
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(0L, 10L, 20L, 25L, 30L))
      // further polls must NOT re-ship it (it is in the seen list)
      q.processAllAvailable()
      assert(got.asScala.size === 5, s"late row re-shipped: ${got.asScala.toSeq}")
      // a row below the window (5 <= 30 - 15) is missed, silently — the
      // documented residual caveat, narrowed from "any late row"
      exec("INSERT INTO late1 VALUES (5,'toolate',0.5)")
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(0L, 10L, 20L, 25L, 30L))
    }
    // a late row arriving while the query is DOWN, inside the window,
    // ships exactly once on restart from the checkpoint; already-shipped
    // in-window marks (20, 25, 30) do not re-ship
    exec("INSERT INTO late1 VALUES (28,'late2',2.8)")
    run { q =>
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(0L, 10L, 20L, 25L, 28L, 30L))
      // and the hwm still advances normally past the window
      exec("INSERT INTO late1 VALUES (40,'new',4.0)")
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted === Seq(0L, 10L, 20L, 25L, 28L, 30L, 40L))
    }
  }
}
