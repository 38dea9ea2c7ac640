package graft.sources

import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The checkpointed cursor window behind `graft-http` (cursor mode) and
  * `graft-jdbc`: the offset, its `lookback` out-of-order window and the
  * epoch-membership rule. The sources only fetch marks; every decision
  * about which marks an epoch ships lives here.
  *
  * An offset is the exclusive high-water mark already shipped plus, when
  * a `lookback` window is configured, the sorted marks already shipped
  * WITHIN `(mark - lookback, mark]`. Each trigger re-scans that window
  * and ships only marks absent from `seen`, so a record that COMMITS OUT
  * OF ORDER inside the window still ships exactly once; a record landing
  * below the window (or re-using an already-shipped mark) is missed — the
  * append-monotonic caveat narrows to "beyond `lookback`". The window is
  * measured against the hwm at each trigger's scan: a record committing
  * CONCURRENTLY with a trigger that advances the hwm by Δ is guaranteed
  * only when it lands within `lookback − Δ` of the pre-trigger hwm. Both
  * sources scan the window AFTER their forward fetch to keep that race to
  * the scan-to-offset-write interval; cap Δ with the source's admission
  * budget when concurrent late commits matter.
  *
  * `lookback` is in MARK UNITS (how far below the hwm the scan reaches);
  * `maxSeenMarks` is in MARKS (how many distinct in-window values the
  * feed actually produced). The `seen` list rides every offset-log entry
  * and the window is re-scanned to completion every trigger, so a window
  * too hot for the feed fails loudly at that bound instead of silently
  * bloating checkpoint and poll.
  *
  * `floor` is the lowest mark the source can express (its empty-feed
  * start); the window never reaches below it. */
private[sources] final class CursorWindow(source: String, key: String,
                                          opts: CursorWindow.Opts, floor: Long) {
  import opts.{lookback, maxSeenMarks}

  def parse(json: String): CursorOffset = CursorOffset.fromJson(key, json)

  /** Exclusive lower end of the window below `mark`; `mark` itself when
    * the window is off or `mark` sits at the floor (the window is empty). */
  def pollFloor(mark: Long): Long =
    if (lookback == 0 || mark <= floor) mark
    else math.max(mark - lookback, floor)

  /** `fetch(lo, hi)` over the part of `mark`'s window above `above`, or
    * nothing (no fetch at all) when that part is empty. */
  def scan[A](mark: Long, above: Long = Long.MinValue)(
      fetch: (Long, Long) => Vector[A]): Vector[A] = {
    val lo = math.max(above, pollFloor(mark))
    if (lo < mark) fetch(lo, mark) else Vector.empty
  }

  /** Start offset at `mark`: marks already present in its window count as
    * shipped, or the first poll would re-deliver the window below a
    * `latest`/explicit start as late records. */
  def initial(mark: Long)(marksIn: (Long, Long) => Vector[Long]): CursorOffset =
    at(mark, scan(mark)(marksIn))

  /** End mark of an epoch from `start` whose forward part reaches
    * `forwardEnd` and which ships the late (at-or-below `start`) marks
    * `late`. An epoch that ships a late mark must NOT advance the hwm past
    * that mark's window: `end.seen` is the only channel that ships an
    * in-window late mark, at plan time and on crash replay alike, so an
    * epoch outrunning the window would lose it. The outrun forward marks
    * are still above the hwm and ship next epoch. A late-only epoch keeps
    * the hwm and grows `seen`. */
  def endMark(start: Long, forwardEnd: Long, late: Iterable[Long]): Long = {
    val end = math.max(start, forwardEnd)
    if (late.isEmpty) end
    else math.min(end, math.max(start, CursorWindow.satAdd(late.min, lookback - 1)))
  }

  /** End offset at `mark`: `s.seen` plus the marks this epoch `shipped`,
    * kept where they fall inside the end window. */
  def end(s: CursorOffset, mark: Long, shipped: Iterable[Long]): CursorOffset =
    at(mark, s.seen ++ shipped)

  private def at(mark: Long, marks: Vector[Long]): CursorOffset = {
    val lo = pollFloor(mark)
    val seen = marks.distinct.filter(m => m > lo && m <= mark).sorted
    if (seen.size > maxSeenMarks) throw new IllegalStateException(
      s"$source: lookback window ($lookback cursor units) holds ${seen.size} " +
        s"marks, over the maxSeenMarks ceiling $maxSeenMarks — every offset-log " +
        "entry carries the window's marks and every trigger re-scans the full " +
        "window, so this feed is too hot for this window: shrink `lookback` " +
        "or (if the offset-log/poll cost is acceptable) raise `maxSeenMarks`")
    CursorOffset(key, mark, seen)
  }

  /** Epoch membership from the two offsets alone, so a crash replay is
    * deterministic even if more late records arrived since: the range
    * `(s.mark, e.mark - lookback]` ships unconditionally (below `e`'s
    * window `seen` cannot track it), and inside the window exactly the
    * marks that entered `seen` this epoch ship. With `lookback = 0` this
    * is the plain `(s.mark, e.mark]` range. */
  def epoch(s: CursorOffset, e: CursorOffset): CursorWindow.Epoch =
    CursorWindow.Epoch(s.mark, math.max(s.mark, pollFloor(e.mark)), e.seenSet -- s.seen)
}

object CursorWindow {

  /** Default [[Opts.maxSeenMarks]]. */
  val defaultMaxSeenMarks: Int = 4096

  /** Floor mark for an `earliest` start or an empty feed: below any real
    * id/sequence/epoch value but far from Long overflow in window sums. */
  val minMark: Long = Long.MinValue / 2

  /** The marks one epoch ships: the range `(lo, hi]` plus `marks`. */
  private[sources] final case class Epoch(lo: Long, hi: Long, marks: Set[Long]) {
    def isEmpty: Boolean = hi <= lo && marks.isEmpty
    def contains(m: Long): Boolean = (m > lo && m <= hi) || marks.contains(m)
  }

  /** The window options, parsed and validated at load: `start`
    * (`earliest`|`latest`|explicit long, under the source's own key),
    * `lookback` and `maxSeenMarks`. */
  final case class Opts(start: String, lookback: Long, maxSeenMarks: Int)

  object Opts {
    def apply(source: String, startKey: String, o: CaseInsensitiveStringMap): Opts = {
      val parsed = Opts(Option(o.get(startKey)).getOrElse("earliest"),
        Option(o.get("lookback")).map(_.toLong).getOrElse(0L),
        Option(o.get("maxSeenMarks")).map(_.toInt).getOrElse(defaultMaxSeenMarks))
      val numeric = parsed.start.matches("-?\\d+")
      require(numeric || parsed.start.equalsIgnoreCase("earliest") ||
        parsed.start.equalsIgnoreCase("latest"),
        s"$source: $startKey must be earliest|latest|<long>, got '${parsed.start}'")
      require(parsed.lookback >= 0,
        s"$source: lookback must be non-negative, got ${parsed.lookback}")
      // upper bound: the window clamp (`lateMin + lookback - 1`) and the
      // poll floor (`mark - lookback`) do Long arithmetic on real mark
      // values; a pathological lookback would overflow the clamp negative
      // and silently empty the window filter. Long.MaxValue/4 is far past
      // any sane window while keeping every sum representable.
      require(parsed.lookback < Long.MaxValue / 4,
        s"$source: lookback too large (max ${Long.MaxValue / 4}), " +
          s"got ${parsed.lookback}")
      // the same fence from below: a numeric start under minMark would
      // wrap `mark - lookback` positive and silently disable the window
      require(parsed.lookback == 0 || !numeric || parsed.start.toLong >= minMark,
        s"$source: $startKey must be >= $minMark when lookback is set, " +
          s"got ${parsed.start}")
      require(parsed.maxSeenMarks > 0,
        s"$source: maxSeenMarks must be positive, got ${parsed.maxSeenMarks}")
      parsed
    }
  }

  /** Saturating a+b for the window-clamp arithmetic: marks are raw feed
    * values, so `lateMin + lookback` can exceed Long range even with the
    * load-time lookback bound; saturation keeps the clamp a no-op instead
    * of flipping it negative and dropping every seen mark. */
  private def satAdd(a: Long, b: Long): Long = {
    val r = a + b
    if (((a ^ r) & (b ^ r)) < 0) { if (a < 0) Long.MinValue else Long.MaxValue }
    else r
  }
}

/** A cursor source's checkpointed offset (see [[CursorWindow]]). `key`
  * names the mark in the offset-log json — `mark` for graft-http, `hwm`
  * for graft-jdbc — and with no `seen` marks the json is the bare
  * `{"<key>":N}` form, so lookback-off checkpoints keep their shape. */
private[sources] final case class CursorOffset(
    key: String, mark: Long, seen: Vector[Long] = Vector.empty) extends Offset {
  override def json(): String =
    if (seen.isEmpty) s"""{"$key":$mark}"""
    else s"""{"$key":$mark,"seen":[${seen.mkString(",")}]}"""
  def seenSet: Set[Long] = seen.toSet
}

private[sources] object CursorOffset {
  def fromJson(key: String, s: String): CursorOffset = {
    def bad(cause: Throwable = null) =
      new IllegalArgumentException(s"bad cursor offset (want numeric '$key'): $s", cause)
    val n = try Auth.mapper.readTree(s) catch { case e: Exception => throw bad(e) }
    if (n == null || !n.isObject || !n.path(key).isNumber) throw bad()
    import scala.jdk.CollectionConverters._
    // each seen mark gets the same loud validation as the mark: asLong()
    // on a corrupted element would silently coerce to 0 — a bogus seen
    // mark that weakens dedup instead of failing the restart
    val seen = n.path("seen").elements().asScala.map { e =>
      if (!e.isNumber) throw bad()
      e.asLong()
    }.toVector
    CursorOffset(key, n.path(key).asLong(), seen)
  }
}
