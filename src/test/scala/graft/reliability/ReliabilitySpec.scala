package graft.reliability

import org.scalatest.funsuite.AnyFunSuite

class ReliabilitySpec extends AnyFunSuite {

  private final class FakeClock(var now: Long = 0L) { def apply(): Long = now }

  test("circuit breaker trips at threshold and auto-resets after window (state.go:11-106)") {
    val clock = new FakeClock()
    val cb = new CircuitBreaker(errorThreshold = 3, windowMillis = 1000, clock = () => clock.now)
    assert(cb.allow)
    cb.recordErrors(2)
    assert(cb.allow) // below threshold
    cb.recordErrors(1)
    assert(!cb.allow) // tripped
    clock.now = 500
    assert(!cb.allow) // still inside window
    clock.now = 1001
    assert(cb.allow) // auto-reset
  }

  test("circuit breaker window rolls: old errors don't accumulate forever") {
    val clock = new FakeClock()
    val cb = new CircuitBreaker(errorThreshold = 3, windowMillis = 1000, clock = () => clock.now)
    cb.recordErrors(2)
    clock.now = 2000 // window expired -> counter resets
    cb.recordErrors(2)
    assert(cb.allow)
  }

  test("circuit breaker counts a batch of more than Int.MaxValue errors") {
    val cb = new CircuitBreaker(errorThreshold = 10, windowMillis = 1000, clock = () => 0L)
    assert(!cb.recordErrors(0L))
    assert(cb.recordErrors(3000000000L))
    assert(!cb.allow)
  }

  test("circuit breaker window count saturates instead of wrapping (two Int.MaxValue batches)") {
    val cb = new CircuitBreaker(errorThreshold = Int.MaxValue, windowMillis = 1000, clock = () => 0L)
    assert(!cb.recordErrors(1)) // below threshold
    cb.recordErrors(Int.MaxValue)
    cb.recordErrors(Int.MaxValue)
    assert(!cb.allow)
    val top = new CircuitBreaker(errorThreshold = 10, windowMillis = 1000, clock = () => 0L)
    top.recordErrors(1)
    assert(top.recordErrors(Long.MaxValue)) // 1 + Long.MaxValue saturates
    val neg = intercept[IllegalArgumentException](top.recordErrors(-1L))
    assert(neg.getMessage.contains("negative error count"))
  }

  test("token bucket: capacity then refusal then refill (rate_limit.go:49-75)") {
    val clock = new FakeClock()
    val tb = new TokenBucket(capacity = 3, refillEveryMillis = 100, clock = () => clock.now)
    assert(tb.tryTake() && tb.tryTake() && tb.tryTake())
    assert(!tb.tryTake()) // exhausted
    clock.now = 101
    assert(tb.tryTake()) // refilled
  }

  test("blackout active only inside [start, end) (surgeprotector/state.go)") {
    val clock = new FakeClock(50)
    val b = new Blackout(100, 200, () => clock.now)
    assert(!b.active)
    clock.now = 100; assert(b.active)
    clock.now = 199; assert(b.active)
    clock.now = 200; assert(!b.active)
  }

  test("backoff retries with cap and rethrows the final error (writer_helpers.go:24-146)") {
    var calls = 0
    val slept = collection.mutable.ArrayBuffer[Long]()
    val e = intercept[RuntimeException] {
      Backoff.retry(attempts = 5, baseMillis = 100, capMillis = 3000,
        sleep = slept += _) { () => calls += 1; throw new RuntimeException(s"fail $calls") }
    }
    assert(calls == 5)
    assert(e.getMessage == "fail 5")
    assert(slept.length == 4) // no sleep after the final attempt
    assert(slept.forall(_ < 3000))
  }

  test("backoff returns on first success") {
    var calls = 0
    val r = Backoff.retry(sleep = _ => ()) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky") else "ok"
    }
    assert(r == "ok" && calls == 3)
  }
}
