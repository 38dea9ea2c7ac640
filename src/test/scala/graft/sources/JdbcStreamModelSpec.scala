package graft.sources

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** Randomized MODEL test of graft-jdbc's lookback semantics — the Derby
  * twin of HttpStreamModelSpec: seeded interleavings of in-order inserts,
  * in-window late commits, below-window commits, admission budgets, and
  * crash replay (fresh stream instance re-planning a logged epoch),
  * asserted against the delivery contract: a row whose watermark was
  * inside `(hwm - lookback, ∞)` at COMMIT time ships exactly once; a row
  * at-or-below the window floor never ships; replay equals the fresh
  * plan. Non-unique watermarks are deliberately generated sometimes —
  * rows sharing an admitted mark ride along (the documented by-mark
  * semantics), checked by ROW id. */
class JdbcStreamModelSpec extends SparkSpec {

  System.setProperty("derby.stream.error.file", "target/derby.log")
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val url = "jdbc:derby:memory:graftmodel;create=true"

  private def exec(sql: String*): Unit = {
    Class.forName(driver)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try sql.foreach(st.executeUpdate) finally st.close()
    } finally c.close()
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("wm", LongType)))

  private def rowsOf(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Seq[(Long, Long)] = {
    val factory = new JdbcReaderFactory
    parts.flatMap { p =>
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      try {
        while (r.next()) {
          val row = r.get()
          out += ((row.getLong(0), row.getLong(1)))
        }
      } finally r.close()
      out
    }.toSeq
  }

  test("seeded random interleavings vs Derby: in-window late rows ship " +
    "exactly once, below-window rows never ship, crash replay equals the " +
    "fresh plan — across budgets and non-unique watermarks") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(1000 + seed)
      val lookback = 5 + rnd.nextInt(20)
      val budget = if (rnd.nextBoolean()) Some(2L + rnd.nextInt(6)) else None
      val table = s"model$seed"
      exec(s"CREATE TABLE $table (id BIGINT PRIMARY KEY, wm BIGINT)")
      val opts = JdbcStream.Opts(new CaseInsensitiveStringMap({
        val m = new java.util.HashMap[String, String]()
        m.put("url", url); m.put("driver", driver); m.put("table", table)
        m.put("watermarkColumn", "wm"); m.put("lookback", lookback.toString)
        budget.foreach(b => m.put("maxRowsPerPoll", b.toString))
        m
      }))
      var stream = new GraftJdbcMicroBatchStream(schema, opts)
      val limit = budget.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())
      try {
        var cur = stream.initialOffset().asInstanceOf[CursorOffset]
        var nextWm = 10L
        var nextId = 1L
        val shipped = scala.collection.mutable.Map[Long, Int]() // by row id
        val mustShip = scala.collection.mutable.Set[Long]()
        val mustNot = scala.collection.mutable.Set[Long]()
        val seenWm = scala.collection.mutable.Set[Long]() // marks ever inserted

        def insert(wm: Long): Unit = {
          val id = nextId; nextId += 1
          exec(s"INSERT INTO $table VALUES ($id, $wm)")
          // by-mark dedup semantics: a row re-using a mark that was
          // already SHIPPED is legitimately suppressed — only classify
          // rows on fresh marks (ties inserted before their mark ships
          // ride along and DO count)
          val markShippedAlready =
            wm <= cur.mark && (cur.seenSet.contains(wm) || wm <= cur.mark - lookback)
          if (wm > cur.mark - lookback && !(markShippedAlready && seenWm.contains(wm)))
            mustShip += id
          else if (wm <= cur.mark - lookback) mustNot += id
          seenWm += wm
        }

        def pollOnce(): Boolean = {
          val end = stream.latestOffset(cur, limit).asInstanceOf[CursorOffset]
          if (end.json() == cur.json()) return false
          val fresh = rowsOf(stream.planInputPartitions(cur, end))
          if (rnd.nextInt(3) == 0) {
            stream.stop()
            stream = new GraftJdbcMicroBatchStream(schema, opts)
            val replayed = rowsOf(stream.planInputPartitions(cur, end))
            assert(replayed.map(_._1).sorted == fresh.map(_._1).sorted,
              s"seed=$seed: replay ${replayed.sorted} != fresh ${fresh.sorted} " +
                s"for ${cur.json()} -> ${end.json()}")
          }
          fresh.foreach { case (id, _) => shipped(id) = shipped.getOrElse(id, 0) + 1 }
          cur = end
          true
        }

        for (_ <- 0 until 30) {
          rnd.nextInt(5) match {
            case 0 | 1 => // in-order append run (occasionally tie the wm)
              (0 until 1 + rnd.nextInt(3)).foreach { _ =>
                insert(nextWm)
                if (rnd.nextInt(4) == 0) insert(nextWm) // tie BEFORE ship
                nextWm += 2 + rnd.nextInt(4)
              }
            case 2 | 3 => // late BURST aimed INSIDE the current window —
              // several at once stresses the row-charged admission cut;
              // only once the hwm is a real mark (the empty-table
              // sentinel's window is clamped off by design)
              if (cur.mark >= 10) {
                val lo = cur.mark - lookback + 1
                (0 until 1 + rnd.nextInt(3)).foreach { _ =>
                  val m = lo + rnd.nextInt((cur.mark - lo + 1).toInt)
                  if (!seenWm.contains(m)) insert(m)
                }
              }
            case 4 => // late commit BEYOND the window
              val m = cur.mark - lookback - 1 - rnd.nextInt(5)
              if (m > 0 && !seenWm.contains(m)) insert(m)
          }
          if (rnd.nextBoolean()) pollOnce()
        }
        var idle = 0
        while (idle < 3) { if (pollOnce()) idle = 0 else idle += 1 }

        val dup = shipped.filter(_._2 > 1)
        assert(dup.isEmpty, s"seed=$seed: duplicated row ids $dup")
        // late rows re-using an ALREADY-SHIPPED mark are suppressed by
        // design; everything else classified mustShip must be present
        val lost = mustShip.diff(shipped.keySet)
        assert(lost.isEmpty,
          s"seed=$seed (lookback=$lookback budget=$budget): lost rows " +
            s"${lost.toSeq.sorted} (shipped=${shipped.keySet.toSeq.sorted})")
        val leaked = mustNot.intersect(shipped.keySet)
        assert(leaked.isEmpty, s"seed=$seed: below-window rows shipped ${leaked.toSeq.sorted}")
      } finally stream.stop()
    }
  }

  test("maxSeenMarks guard: a lookback window holding more marks than the " +
    "ceiling fails the poll loudly (actionable message) instead of " +
    "silently bloating every offset-log entry") {
    val table = "modelguard"
    exec(s"CREATE TABLE $table (id BIGINT PRIMARY KEY, wm BIGINT)")
    val opts = JdbcStream.Opts(new CaseInsensitiveStringMap({
      val m = new java.util.HashMap[String, String]()
      m.put("url", url); m.put("driver", driver); m.put("table", table)
      m.put("watermarkColumn", "wm"); m.put("lookback", "100")
      m.put("maxSeenMarks", "3")
      m
    }))
    val stream = new GraftJdbcMicroBatchStream(schema, opts)
    try {
      exec(s"INSERT INTO $table VALUES (1, 10)", s"INSERT INTO $table VALUES (2, 50)")
      var cur = stream.initialOffset().asInstanceOf[CursorOffset]
      cur = stream.latestOffset(cur, ReadLimit.allAvailable())
        .asInstanceOf[CursorOffset]
      assert(cur.seen == Vector(10L, 50L)) // 2 marks: under the ceiling
      // three late commits inside the window push the seen count to 5 > 3
      exec(s"INSERT INTO $table VALUES (3, 45)",
        s"INSERT INTO $table VALUES (4, 46)",
        s"INSERT INTO $table VALUES (5, 47)")
      val e = intercept[IllegalStateException] {
        stream.latestOffset(cur, ReadLimit.allAvailable())
      }
      assert(e.getMessage.contains("maxSeenMarks"), e.getMessage)
      assert(e.getMessage.contains("lookback"), e.getMessage)
      assert(e.getMessage.contains("graft-jdbc"), e.getMessage)
    } finally stream.stop()
  }
}
