package graft.reliability

import java.time.Instant

/** Driver-side reliability policies (SURVEY §2.5 / §7.6). In a Spark-first
  * design these are NOT Catalyst operators: rate limiting maps to source
  * ingest caps, circuit breaking and diversion to foreachBatch routing, and
  * blackouts to query lifecycle control. The classes here hold the policy
  * state; `graft.streaming.Guarded*` wires them into streaming queries.
  */

/** Error-threshold circuit breaker with time-window auto-reset
  * (`/root/reference/pkg/internal/circuitbreaker/state.go:11-106`):
  * `errorThreshold` errors within `windowMillis` trips open; the breaker
  * re-closes (reset) once `windowMillis` has elapsed since the trip.
  * Thread-safe; lives on the driver (one decision per micro-batch, never
  * per record — per-record breaker checks would serialize the executors).
  */
final class CircuitBreaker(errorThreshold: Int, windowMillis: Long,
                           clock: () => Long = () => System.currentTimeMillis()) extends Serializable {
  // plain fields guarded by `synchronized` — one driver-side decision per
  // micro-batch, never contended enough to warrant lock-free structure
  private var errorCount = 0L
  private var windowStart = 0L
  private var openedAt = -1L

  /** Record `n` errors; trips the breaker if the threshold is crossed
    * within the rolling window. Returns the new open/closed state. The
    * window's count saturates at `Long.MaxValue`: a sink's error count is
    * a row count, and a wrapped sum would read as below the threshold. */
  def recordErrors(n: Long): Boolean = synchronized {
    require(n >= 0, s"negative error count $n")
    val now = clock()
    if (now - windowStart > windowMillis) { windowStart = now; errorCount = 0L }
    errorCount = if (n > Long.MaxValue - errorCount) Long.MaxValue else errorCount + n
    if (errorCount >= errorThreshold && openedAt < 0) openedAt = now
    isOpen
  }

  /** True while tripped; auto-resets after the window elapses. */
  def isOpen: Boolean = synchronized {
    if (openedAt >= 0 && clock() - openedAt >= windowMillis) { openedAt = -1L; errorCount = 0L }
    openedAt >= 0
  }

  def allow: Boolean = !isOpen
}

/** Token-bucket rate limiter (`/root/reference/pkg/internal/surgeprotector/
  * rate_limit.go:49-75`): capacity tokens, refilled every refill interval.
  * Driver-side pacing for foreachBatch sinks; for sources prefer the
  * declarative caps (`maxOffsetsPerTrigger`/`maxFilesPerTrigger`) that
  * [[RateLimit.sourceOptions]] produces — those let Spark plan the batch
  * size instead of blocking threads.
  */
final class TokenBucket(capacity: Long, refillEveryMillis: Long,
                        clock: () => Long = () => System.currentTimeMillis()) extends Serializable {
  private var tokens = capacity
  private var nextRefill = clock() + refillEveryMillis

  def tryTake(n: Long = 1): Boolean = synchronized {
    val now = clock()
    if (now >= nextRefill) {
      tokens = capacity
      nextRefill = now + refillEveryMillis
    }
    if (tokens >= n) { tokens -= n; true } else false
  }
}

object RateLimit {
  /** Declarative ingest caps — the 100 TB-scale way to rate-limit: the
    * source reads at most this much per trigger; no thread ever blocks. */
  def sourceOptions(maxRecordsPerTrigger: Long): Map[String, String] =
    Map("maxOffsetsPerTrigger" -> maxRecordsPerTrigger.toString)
  def fileSourceOptions(maxFilesPerTrigger: Int): Map[String, String] =
    Map("maxFilesPerTrigger" -> maxFilesPerTrigger.toString)
}

/** Scheduled blackout window (`/root/reference/pkg/internal/surgeprotector/
  * state.go`, `SurgeProtectorWithBlackoutPeriod`): trip between start/end.
  * Consulted per micro-batch by the guarded sink. */
final class Blackout(startEpochMs: Long, endEpochMs: Long,
                     clock: () => Long = () => System.currentTimeMillis()) extends Serializable {
  def active: Boolean = { val t = clock(); t >= startEpochMs && t < endEpochMs }
}

object Blackout {
  def between(start: Instant, end: Instant): Blackout =
    new Blackout(start.toEpochMilli, end.toEpochMilli)
}

/** Full-jitter exponential backoff, the reference's S3 put retry policy
  * (`/root/reference/pkg/internal/adapter/s3client/writer_helpers.go:24-146`):
  * 5 attempts, 100 ms base, 3 s cap, full jitter. Used by foreachBatch JDBC/
  * object-store writers where Spark's task retry doesn't apply. */
object Backoff {
  /** seed defaults to a per-call nanoTime so concurrent retriers are
    * DE-correlated (full jitter exists to spread the herd); pass a fixed
    * seed only for reproducible tests. */
  def retry[A](attempts: Int = 5, baseMillis: Long = 100, capMillis: Long = 3000,
               seed: Long = System.nanoTime(), sleep: Long => Unit = Thread.sleep,
               retriable: Throwable => Boolean = _ => true)(op: () => A): A = {
    require(attempts > 0, s"retry attempts must be positive, got $attempts")
    val rnd = new scala.util.Random(seed)
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return op()
      catch {
        case e: Throwable =>
          last = e
          // a PERMANENT failure (caller-classified: 404s, auth rejects,
          // malformed requests) fails fast — backoff can't heal it, and
          // retrying hammers the endpoint for nothing
          if (!retriable(e)) throw e
          if (i < attempts - 1) {
            val expCap = math.min(capMillis, baseMillis * (1L << i))
            sleep(java.lang.Math.floorMod(rnd.nextLong(), math.max(1L, expCap)))
          }
      }
      i += 1
    }
    throw last
  }
}
