package graft.sources

import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.SparkSpec

/** Randomized MODEL test of the graft-http cursor stream's lookback
  * semantics — the strongest form of the r15 review follow-up: the
  * same-trigger eviction bug survived the hand-written e2e because those
  * tests exercised late arrival and hwm advance in separate triggers.
  * Here a seeded generator drives arbitrary interleavings of
  *
  *  - in-order appends,
  *  - late commits INSIDE the lookback window,
  *  - late commits BEYOND the window (must never ship),
  *  - admission budgets, page limits, and
  *  - CRASHES (a fresh stream instance replays the uncommitted epoch
  *    from the offset log with no poll cache),
  *
  * and asserts the delivery contract against a reference model:
  * a record whose mark was inside `(hwm - lookback, ∞)` at COMMIT time
  * ships exactly once (no loss, no duplication, fresh-path and replay
  * agree); a record landing at-or-below the window floor never ships.
  * Every failure message carries the seed. */
class HttpStreamModelSpec extends SparkSpec {

  private def opts(url: String, lookback: Long, pages: Int,
                   budget: Option[Long]): HttpStream.Opts =
    HttpStream.Opts(new org.apache.spark.sql.util.CaseInsensitiveStringMap({
      val m = new java.util.HashMap[String, String]()
      m.put("url", url); m.put("cursorField", "id")
      m.put("lookback", lookback.toString)
      m.put("pagesPerPoll", pages.toString)
      budget.foreach(b => m.put("maxRecordsPerPoll", b.toString))
      m
    }))

  private def marksOf(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Seq[Long] =
    parts.flatMap(_.asInstanceOf[HttpInputPartition].records)
      .map(HttpStream.markOf(_, "id")).toSeq

  test("seeded random interleavings: in-window late commits ship exactly " +
    "once, below-window commits never ship, crash replay equals the " +
    "fresh path — across budgets, page limits, and crash points") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val lookback = 5 + rnd.nextInt(20)            // 5..24 cursor units
      val pageLimit = 2 + rnd.nextInt(5)            // tiny pages stress walks
      val pages = 1 + rnd.nextInt(3)
      val budget = if (rnd.nextBoolean()) Some(2L + rnd.nextInt(6)) else None
      val feed = new PagedFeed(pageLimit)
      try {
        val o = opts(feed.url, lookback, pages, budget)
        var stream = new GraftHttpCursorStream(o)
        val limit = budget.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())
        var cur = stream.initialOffset().asInstanceOf[CursorOffset]

        var nextMark = 10L
        val shipped = scala.collection.mutable.Map[Long, Int]()
        val mustShip = scala.collection.mutable.Set[Long]()
        val mustNot = scala.collection.mutable.Set[Long]()
        val present = scala.collection.mutable.Set[Long]()

        def insert(m: Long): Unit = if (!present.contains(m)) {
          present += m
          feed.rows.updateAndGet(_ :+ m)
          if (m > cur.mark - lookback) mustShip += m else mustNot += m
        }

        def pollOnce(): Boolean = {
          val end = stream.latestOffset(cur, limit).asInstanceOf[CursorOffset]
          if (end.json() == cur.json()) return false
          val fresh = marksOf(stream.planInputPartitions(cur, end))
          // crash point: replay the SAME epoch on a fresh instance (no
          // poll cache) — the offset log is all it has
          if (rnd.nextInt(3) == 0) {
            stream = new GraftHttpCursorStream(o)
            val replayed = marksOf(stream.planInputPartitions(cur, end))
            assert(replayed.sorted == fresh.sorted,
              s"seed=$seed: replay ${replayed.sorted} != fresh ${fresh.sorted} " +
                s"for epoch ${cur.json()} -> ${end.json()}")
          }
          fresh.foreach(m => shipped(m) = shipped.getOrElse(m, 0) + 1)
          cur = end
          true
        }

        for (_ <- 0 until 40) {
          rnd.nextInt(4) match {
            case 0 | 1 => // in-order append run
              (0 until 1 + rnd.nextInt(3)).foreach { _ => insert(nextMark); nextMark += 2 + rnd.nextInt(4) }
            case 2 => // late BURST aimed INSIDE the current window — several
              // at once stresses budget-cut late batches riding pendingPast
              // into the next trigger's window re-scan; only once the hwm
              // is a real mark (no feed commits at the earliest sentinel,
              // whose window the source rightly never scans)
              val lo = cur.mark - lookback + 1
              if (cur.mark >= 10 && cur.mark > lo) {
                (0 until 1 + rnd.nextInt(3)).foreach { _ =>
                  val m = lo + rnd.nextInt(math.min(Int.MaxValue.toLong, cur.mark - lo).toInt + 1)
                  insert(m)
                }
              }
            case 3 => // late commit BEYOND the window (when one exists)
              val m = cur.mark - lookback - 1 - rnd.nextInt(5)
              if (m > 0) insert(m)
          }
          if (rnd.nextBoolean()) pollOnce()
        }
        // drain: polls until quiescent (budgeted/page-limited backlogs
        // need several; a poll that moved the offset resets the clock)
        var idle = 0
        while (idle < 3) { if (pollOnce()) idle = 0 else idle += 1 }

        val dup = shipped.filter(_._2 > 1)
        assert(dup.isEmpty, s"seed=$seed: duplicated $dup")
        val lost = mustShip.diff(shipped.keySet)
        assert(lost.isEmpty,
          s"seed=$seed (lookback=$lookback pageLimit=$pageLimit pages=$pages " +
            s"budget=$budget): lost in-window records ${lost.toSeq.sorted}")
        val leaked = mustNot.intersect(shipped.keySet)
        assert(leaked.isEmpty, s"seed=$seed: below-window records shipped ${leaked.toSeq.sorted}")
      } finally feed.close()
    }
  }

  test("maxSeenMarks guard: a lookback window holding more marks than the " +
    "ceiling fails the poll loudly (actionable message) instead of " +
    "silently bloating every offset-log entry") {
    val feed = new PagedFeed(10)
    try {
      val o = HttpStream.Opts(new org.apache.spark.sql.util.CaseInsensitiveStringMap({
        val m = new java.util.HashMap[String, String]()
        m.put("url", feed.url); m.put("cursorField", "id")
        m.put("lookback", "100"); m.put("maxSeenMarks", "3")
        m
      }))
      val stream = new GraftHttpCursorStream(o)
      var cur = stream.initialOffset().asInstanceOf[CursorOffset]
      feed.rows.updateAndGet(_ :+ 10L :+ 50L)
      cur = stream.latestOffset(cur, ReadLimit.allAvailable())
        .asInstanceOf[CursorOffset]
      assert(cur.seen == Vector(10L, 50L)) // 2 marks: under the ceiling
      // three late commits inside the window push the seen count to 5 > 3
      feed.rows.updateAndGet(_ :+ 45L :+ 46L :+ 47L)
      val e = intercept[IllegalStateException] {
        stream.latestOffset(cur, ReadLimit.allAvailable())
      }
      assert(e.getMessage.contains("maxSeenMarks"), e.getMessage)
      assert(e.getMessage.contains("lookback"), e.getMessage)
      assert(e.getMessage.contains("graft-http"), e.getMessage)
    } finally feed.close()
  }
}
