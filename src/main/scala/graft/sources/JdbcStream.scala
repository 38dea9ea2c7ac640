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

/** S7's `Serve` poll loop as a Structured Streaming source —
  * `readStream.format("graft-jdbc")`. The reference re-runs its select
  * on a ticker and re-submits every row each tick
  * (`/root/reference/pkg/internal/adapter/postgresclient/reader.go:13-46`,
  * `buildSelectQuery` at `:103-129` — no cursor unless the caller's
  * WhereClause keeps one); the Spark-first form checkpoints a HIGH-WATER
  * MARK on a monotonic column instead, so each row ships in exactly one
  * micro-batch and a restart resumes from the offset log, not from
  * re-reading the table.
  *
  * Options: `url`, `driver`, `table`, `watermarkColumn` (append-monotonic
  * BIGINT/INT or TIMESTAMP), optional `where` (AND-ed into every query,
  * the reference's WhereClause), `startingWatermark`
  * (`earliest` = everything in the table, `latest` = only new rows,
  * or an explicit long / epoch-micros value), `numPartitions` (range-split
  * the epoch across executors), `maxRowsPerPoll` (admission control: the
  * epoch's high-water mark is clamped to the n-th pending row's value).
  *
  * Delivery contract: exactly-once FOR APPEND-MONOTONIC tables — a row
  * whose watermark lands at-or-below a committed mark is never seen
  * (the standard incremental-ingest caveat; same as the reference when
  * its WhereClause tracks a cursor). A `lookback` window (mark units —
  * raw values for integral watermarks, MICROSECONDS for TIMESTAMP ones;
  * the standard CDC hardening) re-probes `(hwm - lookback, hwm]` each
  * poll so a row that COMMITS OUT OF ORDER inside the window still ships
  * exactly once; `maxSeenMarks` (default
  * [[CursorWindow.defaultMaxSeenMarks]]) bounds the marks one window may
  * hold. [[CursorWindow]] holds the window contract and its
  * concurrent-commit caveat (cap the per-epoch advance with
  * `maxRowsPerPoll` when concurrent late commits matter). Updates in
  * place are still invisible: poll CDC-style tables on an updated-at
  * column, or use the batch reader.
  *
  * Scale note: each epoch is a WHERE-bounded range scan the database can
  * serve from the watermark index; `numPartitions` splits the range so a
  * catch-up backlog reads in parallel. No driver-side rows ever — the
  * driver only runs MIN/MAX/nth-mark probes (one row each). */
final class GraftJdbcProvider extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-jdbc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JdbcStream.inferSchema(JdbcStream.Opts(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftJdbcTable(schema,
      JdbcStream.Opts(new CaseInsensitiveStringMap(properties)))
}

private[sources] final class GraftJdbcTable(tschema: StructType,
                                            opts: JdbcStream.Opts)
  extends Table with SupportsRead {
  override def name(): String = s"graft-jdbc:${opts.table}"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tschema
        override def description(): String = s"graft-jdbc ${opts.table}"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftJdbcMicroBatchStream(tschema, opts)
      }
    }
}

object JdbcStream {

  final case class Opts(url: String, driver: String, table: String,
                        watermarkColumn: String, where: Option[String],
                        numPartitions: Int, maxRowsPerPoll: Option[Long],
                        window: CursorWindow.Opts) {
    def whereAnd(cond: String): String =
      where.map(w => s"($w) AND $cond").getOrElse(cond)
  }

  object Opts {
    def apply(o: CaseInsensitiveStringMap): Opts = {
      def req(k: String) = {
        val v = o.get(k)
        require(v != null && v.nonEmpty, s"graft-jdbc: option '$k' is required")
        v
      }
      Opts(req("url"), Option(o.get("driver")).getOrElse(""), req("table"),
        req("watermarkColumn"),
        Option(o.get("where")).filter(_.nonEmpty),
        Option(o.get("numPartitions")).map(_.toInt).getOrElse(1),
        Option(o.get("maxRowsPerPoll")).map(_.toLong),
        CursorWindow.Opts("graft-jdbc", "startingWatermark", o))
    }
  }

  private[sources] def connect(opts: Opts): java.sql.Connection = {
    if (opts.driver.nonEmpty) Class.forName(opts.driver)
    java.sql.DriverManager.getConnection(opts.url)
  }

  /** JDBC → Catalyst type mapping for the polled reader (the common
    * analytic column types; anything else fails loudly rather than
    * silently stringifying). */
  private[sources] def sparkType(jdbcType: Int, precision: Int, scale: Int): DataType = {
    import java.sql.Types._
    jdbcType match {
      case BIGINT => LongType
      case INTEGER | SMALLINT | TINYINT => IntegerType
      case DOUBLE | FLOAT => DoubleType
      case REAL => FloatType
      case DECIMAL | NUMERIC =>
        DecimalType(math.min(math.max(precision, 1), 38), math.max(scale, 0))
      case BOOLEAN | BIT => BooleanType
      case VARCHAR | CHAR | LONGVARCHAR | NVARCHAR | NCHAR | CLOB => StringType
      case TIMESTAMP => TimestampType
      case DATE => DateType
      case BINARY | VARBINARY | LONGVARBINARY | BLOB => BinaryType
      case other => throw new IllegalArgumentException(
        s"graft-jdbc: unsupported JDBC type $other")
    }
  }

  private[sources] def inferSchema(opts: Opts): StructType = {
    val c = connect(opts)
    try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT * FROM ${opts.table} WHERE 1=0")
        val md = rs.getMetaData
        StructType((1 to md.getColumnCount).map { i =>
          StructField(md.getColumnLabel(i).toLowerCase,
            sparkType(md.getColumnType(i), md.getPrecision(i), md.getScale(i)),
            md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls)
        })
      } finally st.close()
    } finally c.close()
  }

  /** One JDBC value → Catalyst, matching [[sparkType]]. */
  private[sources] def toCatalyst(rs: java.sql.ResultSet, i: Int,
                                  dt: DataType): Any = {
    val v: Any = dt match {
      case LongType => rs.getLong(i)
      case IntegerType => rs.getInt(i)
      case DoubleType => rs.getDouble(i)
      case FloatType => rs.getFloat(i)
      case BooleanType => rs.getBoolean(i)
      case StringType =>
        val s = rs.getString(i); if (s == null) null else UTF8String.fromString(s)
      case d: DecimalType =>
        val b = rs.getBigDecimal(i)
        if (b == null) null
        else org.apache.spark.sql.types.Decimal(b, d.precision, d.scale)
      case TimestampType =>
        val t = rs.getTimestamp(i)
        if (t == null) null
        else t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      case DateType =>
        val d = rs.getDate(i)
        if (d == null) null
        else java.time.LocalDate.ofEpochDay(0).until(
          d.toLocalDate, java.time.temporal.ChronoUnit.DAYS).toInt
      case BinaryType => rs.getBytes(i)
      case other => throw new IllegalArgumentException(s"graft-jdbc: $other")
    }
    if (rs.wasNull()) null else v
  }

  /** The watermark travels as a LONG in the offset log: integral columns
    * as-is, TIMESTAMP columns as epoch-micros. */
  private[sources] def markOf(rs: java.sql.ResultSet, i: Int): Option[Long] = {
    val md = rs.getMetaData
    val v = md.getColumnType(i) match {
      case java.sql.Types.TIMESTAMP =>
        val t = rs.getTimestamp(i)
        if (t == null) 0L else t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      case _ => rs.getLong(i)
    }
    if (rs.wasNull()) None else Some(v)
  }

  private[sources] def setMark(ps: java.sql.PreparedStatement, i: Int,
                               columnIsTimestamp: Boolean, mark: Long): Unit =
    if (columnIsTimestamp) {
      val t = new java.sql.Timestamp(Math.floorDiv(mark, 1000L))
      t.setNanos((Math.floorMod(mark, 1000000L) * 1000L).toInt)
      ps.setTimestamp(i, t)
    } else ps.setLong(i, mark)
}

private[sources] final class GraftJdbcMicroBatchStream(schema: StructType,
                                                       opts: JdbcStream.Opts)
  extends MicroBatchStream with SupportsAdmissionControl {

  // driver-side connection with one reconnect retry per call (servers
  // drop idle sessions; a long trigger interval must survive that) —
  // only for CONNECTION-shaped failures: a deterministic SQL error (bad
  // `where`, out-of-range parameter) rethrows as-is instead of paying a
  // spurious reconnect + doomed re-execution per trigger
  @volatile private var connOpt: java.sql.Connection = _
  private def reconnectable(e: Throwable): Boolean = e match {
    case _: java.io.IOException => true
    case _: java.sql.SQLTransientException => true
    case _: java.sql.SQLRecoverableException => true
    case _: java.sql.SQLNonTransientConnectionException => true
    case s: java.sql.SQLException =>
      // SQLState class 08 = connection exception (the vendor-neutral tag)
      Option(s.getSQLState).exists(_.startsWith("08"))
    case _ => false
  }
  private def withConn[A](f: java.sql.Connection => A): A = synchronized {
    if (connOpt == null) connOpt = JdbcStream.connect(opts)
    try f(connOpt)
    catch {
      case e if reconnectable(e) =>
        try connOpt.close() catch { case _: Exception => () }
        connOpt = JdbcStream.connect(opts)
        try f(connOpt)
        catch { case second: Throwable => second.addSuppressed(e); throw second }
    }
  }

  private val wmIsTimestamp: Boolean =
    schema(opts.watermarkColumn.toLowerCase).dataType == TimestampType

  private def oneLong(sql: String): Option[Long] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      if (!rs.next()) None else JdbcStream.markOf(rs, 1)
    } finally st.close()
  }

  /** Empty-table floor, also the window's floor so no probe binds below
    * it: for TIMESTAMP watermarks the sentinel must BIND
    * as a legal timestamp (Derby allows years 1–9999, Postgres 4713 BC+)
    * — a Long.MinValue-ish value would throw out-of-range on every poll
    * of an initially-empty table. 0001-01-03T00:00:00Z in epoch-micros:
    * the two-day margin keeps the LOCAL wall-clock the driver binds
    * (setTimestamp without a Calendar) inside year 1 in every timezone. */
  private val emptyFloor: Long =
    if (wmIsTimestamp) -62135596800000000L + 2L * 86400L * 1000000L
    else CursorWindow.minMark

  private val window = new CursorWindow("graft-jdbc", "hwm", opts.window, emptyFloor)

  override def initialOffset(): Offset = {
    val wm = opts.watermarkColumn
    val t = opts.table
    val guard = opts.where.map(w => s" WHERE ($w)").getOrElse("")
    val hwm = opts.window.start.toLowerCase match {
      case "earliest" =>
        // one below the smallest mark: the first epoch ships everything
        oneLong(s"SELECT MIN($wm) FROM $t$guard").map(_ - 1).getOrElse(emptyFloor)
      case "latest" =>
        oneLong(s"SELECT MAX($wm) FROM $t$guard").getOrElse(emptyFloor)
      case n => n.toLong
    }
    // for `earliest` the window below MIN-1 is empty, so the probe is a no-op
    window.initial(hwm)(marksIn)
  }

  override def getDefaultReadLimit: ReadLimit =
    opts.maxRowsPerPoll.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** DISTINCT marks in `(lo, hi]` with their ROW counts — the window
    * probe. Bounded by the rows one lookback window holds; never run for
    * the full backlog. Counts matter for admission: the IN-list ships
    * every row at an admitted mark, so the budget must be charged rows,
    * not marks (a second-granularity timestamp can share one mark across
    * thousands of rows). */
  private def windowMarks(lo: Long, hi: Long): Vector[(Long, Long)] =
    if (hi <= lo) Vector.empty
    else withConn { c =>
      val wm = opts.watermarkColumn
      val ps = c.prepareStatement(
        s"SELECT $wm, COUNT(*) FROM ${opts.table} WHERE " +
          s"${opts.whereAnd(s"$wm > ? AND $wm <= ?")} GROUP BY $wm ORDER BY $wm")
      try {
        JdbcStream.setMark(ps, 1, wmIsTimestamp, lo)
        JdbcStream.setMark(ps, 2, wmIsTimestamp, hi)
        val rs = ps.executeQuery()
        val out = Vector.newBuilder[(Long, Long)]
        while (rs.next()) JdbcStream.markOf(rs, 1).foreach(m => out += (m -> rs.getLong(2)))
        out.result()
      } finally ps.close()
    }

  private def marksIn(lo: Long, hi: Long): Vector[Long] = windowMarks(lo, hi).map(_._1)

  /** The poll: MAX(wm) above the hwm for an unbounded trigger; under a
    * row budget, the n-th pending row's mark (ANSI FETCH FIRST — Derby
    * and Postgres both speak it) so one epoch never exceeds the budget
    * by more than the ties on its final mark; THEN the late-mark window
    * probe. The probe runs AFTER the forward queries (the graft-http
    * ordering) so a row committing into the window while the forward
    * queries execute is still caught by this trigger's probe — the
    * residual concurrent-commit race narrows to the probe-to-offset-
    * write interval (the [[CursorWindow]] caveat; cap the per-epoch hwm
    * advance with `maxRowsPerPoll` when concurrent late commits
    * matter). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CursorOffset]
    val from = s.mark
    val wm = opts.watermarkColumn
    val t = opts.table
    val max = withConn { c =>
      val ps = c.prepareStatement(
        s"SELECT MAX($wm) FROM $t WHERE ${opts.whereAnd(s"$wm > ?")}")
      try {
        JdbcStream.setMark(ps, 1, wmIsTimestamp, from)
        val rs = ps.executeQuery()
        if (!rs.next()) None else JdbcStream.markOf(rs, 1)
      } finally ps.close()
    }
    def cappedForward(budget: Long): Long = max match {
      case Some(m) if budget > 0 =>
        val capped =
          if (budget == Long.MaxValue) m
          else withConn { c =>
            val ps = c.prepareStatement(
              s"SELECT MAX($wm) FROM (SELECT $wm FROM $t WHERE " +
                s"${opts.whereAnd(s"$wm > ?")} ORDER BY $wm " +
                s"FETCH FIRST $budget ROWS ONLY) capped_marks")
            try {
              JdbcStream.setMark(ps, 1, wmIsTimestamp, from)
              val rs = ps.executeQuery()
              if (!rs.next()) None else JdbcStream.markOf(rs, 1)
            } finally ps.close()
          }.getOrElse(m)
        math.min(m, capped)
      case _ => from
    }
    val fullBudget = limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _ => Long.MaxValue
    }
    val forwardFull = cappedForward(fullBudget)
    val seen = s.seenSet
    val lateAll = window.scan(from)(windowMarks).filterNot(m => seen.contains(m._1))
    // admit late marks ascending until their ROW total exhausts the
    // budget (always at least one, overrun bounded to that mark's ties —
    // the old nth-mark softness); the remainder ships next epochs
    val (late, lateRows) = limit match {
      case mr: ReadMaxRows =>
        var rows = 0L
        val taken = lateAll.takeWhile { case (_, cnt) =>
          val first = rows == 0L
          val fits = rows + cnt <= mr.maxRows()
          if (first || fits) { rows += cnt; true } else false
        }
        (taken.map(_._1), rows)
      case _ => (lateAll.map(_._1), lateAll.map(_._2).sum)
    }
    // the late rows spend admission budget first (they are the oldest):
    // with late marks admitted under a finite budget, the forward cap
    // shrinks to what is left — one extra indexed query on the rarer
    // late path, so the common no-late path keeps the probe as the last
    // statement before the offset write
    val uncappedEnd =
      if (late.isEmpty || fullBudget == Long.MaxValue) forwardFull
      else cappedForward(math.max(0L, fullBudget - lateRows))
    val endHwm = window.endMark(from, uncappedEnd, late)
    if (late.isEmpty && endHwm == from) return start
    // forward marks landing inside the end window join `seen` too (the
    // range below that window ships unconditionally)
    window.end(s, endHwm, late ++ window.scan(endHwm, above = from)(marksIn))
  }

  /** [[CursorWindow.epoch]] as partitions: the range part splits into
    * contiguous slices, the in-window marks ride as an IN-list per
    * partition. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val epoch = window.epoch(start.asInstanceOf[CursorOffset], end.asInstanceOf[CursorOffset])
    if (epoch.isEmpty) return Array.empty
    val rangeLo = epoch.lo
    val rangeHi = epoch.hi
    val inMarks = epoch.marks.toArray.sorted
    val n = math.max(1, opts.numPartitions)
    val span = math.max(0L, rangeHi - rangeLo)
    // split the range into numPartitions contiguous mark slices — each
    // task range-scans its own slice (index-served DB-side); the
    // window marks ride along in contiguous chunks
    val rangeParts = if (span == 0) 0 else math.min(n.toLong, span).toInt
    val parts = math.max(rangeParts,
      if (inMarks.isEmpty) 0 else math.min(n, inMarks.length))
    if (parts == 0) return Array.empty
    (0 until parts).map { i =>
      val (lo, hi) =
        if (i < rangeParts)
          (rangeLo + span * i / rangeParts, rangeLo + span * (i + 1) / rangeParts)
        else (0L, 0L) // no range slice for this partition
      val mlo = inMarks.length * i / parts
      val mhi = inMarks.length * (i + 1) / parts
      JdbcInputPartition(opts, schema, lo, hi, wmIsTimestamp,
        inMarks.slice(mlo, mhi)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JdbcReaderFactory

  override def deserializeOffset(json: String): Offset = window.parse(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = synchronized {
    if (connOpt != null) {
      try connOpt.close() catch { case _: Exception => () }
      connOpt = null
    }
  }
}

private[sources] final case class JdbcInputPartition(opts: JdbcStream.Opts,
                                                     schema: StructType,
                                                     lo: Long, hi: Long,
                                                     wmIsTimestamp: Boolean,
                                                     marks: Array[Long] = Array.empty)
  extends InputPartition

private[sources] final class JdbcReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val jp = p.asInstanceOf[JdbcInputPartition]
    new PartitionReader[InternalRow] {
      private val conn = JdbcStream.connect(jp.opts)
      private val wm = jp.opts.watermarkColumn
      private val cols = jp.schema.fields.map(_.name).mkString(", ")

      // up to two queries in sequence: the contiguous range slice, then
      // the in-window IN-list (lookback marks). Built lazily so a
      // throwing prepare/execute can't leak the connection — no caller
      // gets a reader handle to close.
      private def rangeQuery(): (java.sql.PreparedStatement, java.sql.ResultSet) = {
        val st = conn.prepareStatement(
          s"SELECT $cols FROM ${jp.opts.table} WHERE " +
            jp.opts.whereAnd(s"$wm > ? AND $wm <= ?"))
        JdbcStream.setMark(st, 1, jp.wmIsTimestamp, jp.lo)
        JdbcStream.setMark(st, 2, jp.wmIsTimestamp, jp.hi)
        (st, st.executeQuery())
      }
      private def marksQuery(): (java.sql.PreparedStatement, java.sql.ResultSet) = {
        val holes = Array.fill(jp.marks.length)("?").mkString(", ")
        val st = conn.prepareStatement(
          s"SELECT $cols FROM ${jp.opts.table} WHERE " +
            jp.opts.whereAnd(s"$wm IN ($holes)"))
        jp.marks.zipWithIndex.foreach { case (m, i) =>
          JdbcStream.setMark(st, i + 1, jp.wmIsTimestamp, m)
        }
        (st, st.executeQuery())
      }
      private val pendingQueries =
        scala.collection.mutable.Queue[() => (java.sql.PreparedStatement, java.sql.ResultSet)](
          (if (jp.hi > jp.lo) Seq(() => rangeQuery()) else Nil) ++
          (if (jp.marks.nonEmpty) Seq(() => marksQuery()) else Nil): _*)
      private var current: (java.sql.PreparedStatement, java.sql.ResultSet) = _

      private def closeCurrent(): Unit = if (current != null) {
        try current._2.close() catch { case _: Exception => () }
        try current._1.close() catch { case _: Exception => () }
        current = null
      }

      override def next(): Boolean = {
        try {
          while (current == null || !current._2.next()) {
            closeCurrent()
            if (pendingQueries.isEmpty) return false
            current = pendingQueries.dequeue()()
          }
          true
        } catch {
          case e: Throwable =>
            try close() catch { case c: Exception => e.addSuppressed(c) }
            throw e
        }
      }

      override def get(): InternalRow =
        new GenericInternalRow(jp.schema.fields.zipWithIndex.map {
          case (f, i) => JdbcStream.toCatalyst(current._2, i + 1, f.dataType)
        })

      override def close(): Unit = {
        closeCurrent()
        conn.close()
      }
    }
  }
}
