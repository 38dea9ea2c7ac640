package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Expectations
import graft.operators.Expectations._
import graft.reliability.CircuitBreaker

/** The commit step [[GuardedBatchSink]] and [[ExpectationsGate]] share:
  * each writer gets a compact view with the same rows as the uncompacted
  * batch, every decision is the one the uncompacted batch gives, nothing
  * stays cached on any exit, and a diverted batch passes through as it
  * arrived. */
class BatchCommitSpec extends SparkSpec {
  import spark.implicits._

  private val Upstream = 37
  private val Parallelism = 4

  /** 1000 events in `parts` partitions, each row twice, every 7th an error. */
  private def events(parts: Int): Dataset[Ev] =
    spark.range(0, 1000, 1, parts).as[Long].map { i =>
      val k = i % 500
      Ev(k, k * 1000, k % 5, if (k % 7 == 0) "error" else "click", k.toDouble)
    }

  /** 1000 documents in `parts` partitions; `dirty` adds null texts and
    * out-of-range `n`. */
  private def docs(parts: Int, dirty: Boolean): DataFrame = {
    val id = col("id")
    spark.range(0, 1000, 1, parts).select(id.as("doc_id"),
      when(lit(dirty) && id % 97 === 0, lit(null)).otherwise(concat(lit("t"), id.cast("string"))).as("text"),
      (if (dirty) id % 150 else id % 100).as("n"))
  }

  private val isErr = (e: Ev) => e.event_type == "error"
  private val isOk = (e: Ev) => e.event_type != "error"
  private val rules = Seq(NotNull("text_not_null", "text"), InRange("n_in_range", "n", 0L, 100L))

  private def bag[T](xs: Seq[T]): Map[T, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)
  private def cached(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** What a writer received: its rows, its partition count, the dataset
    * itself, and whether the batch was already materialized. */
  private final class Seen[T] {
    var rows: Seq[T] = Nil
    var parts = -1
    var ds: Dataset[T] = _
    var materialized = false
    var calls = 0
  }
  private def recorder[T](s: Seen[T], before: Set[Int]): (Dataset[T], Long) => Unit = { (ds, _) =>
    s.materialized = (cached() -- before).nonEmpty
    s.parts = ds.rdd.getNumPartitions
    s.rows = ds.collect().toSeq
    s.ds = ds
    s.calls += 1
  }

  private def withParallelism[A](f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, Parallelism.toLong)
    try f finally spark.conf.set(key, old)
  }

  test("guarded sink: writers get compact views of the same rows, the breaker the same count") {
    withParallelism {
      for (parts <- Seq(Upstream, 1)) {
        val batch = events(parts)
        assert(batch.rdd.getNumPartitions == parts)
        val nErr = batch.filter(isErr).count()
        assert(nErr > 0)
        // a threshold of exactly the batch's error count trips; one more does not
        for ((threshold, trips) <- Seq((nErr.toInt, true), (nErr.toInt + 1, false))) {
          val before = cached()
          val main, errs = new Seen[Ev]
          val cb = new CircuitBreaker(threshold, 60000L)
          GuardedBatchSink[Ev](cb, recorder(main, before), recorder(errs, before), isErr)(batch, 0L)
          assert(cb.isOpen == trips, s"threshold $threshold")
          assert(bag(main.rows) == bag(batch.filter(isOk).collect().toSeq))
          assert(bag(errs.rows) == bag(batch.filter(isErr).collect().toSeq))
          for (s <- Seq(main, errs)) {
            assert(s.calls == 1)
            assert(s.materialized, "writers run after the decision materialized the batch")
            assert(s.parts >= 1 && s.parts <= math.min(parts, Parallelism), s"parts ${s.parts} of $parts")
          }
          if (parts == 1) assert(main.parts == 1 && errs.parts == 1)
          assert(cached() == before, "the batch is unpersisted")
        }
      }
    }
  }

  test("expectations gate: the routed writer gets a compact view, audit and report unchanged") {
    withParallelism {
      for (parts <- Seq(Upstream, 1); dirty <- Seq(false, true)) {
        val batch = docs(parts, dirty)
        assert(batch.rdd.getNumPartitions == parts)
        val expected = Expectations.audit(batch, rules).collect()
          .map(r => (r.getAs[String]("rule_id"), r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass")))
          .sorted.toSeq
        assert(expected.forall(_._3) == !dirty)
        val before = cached()
        val main, quar, report = new Seen[Row]
        new ExpectationsGate(rules, recorder(main, before), recorder(quar, before),
          recorder(report, before))(batch, 7L)
        assert(report.rows.map(r => (r.getAs[String]("rule_id"), r.getAs[Long]("n_violations"),
          r.getAs[Boolean]("pass"))).sorted == expected)
        assert(report.rows.forall(_.getAs[Long]("batch_id") == 7L))
        val (routed, other) = if (dirty) (quar, main) else (main, quar)
        assert(other.calls == 0 && routed.calls == 1)
        assert(routed.materialized, "the writer runs after the audit materialized the batch")
        assert(bag(routed.rows) == bag(batch.collect().toSeq))
        assert(routed.parts >= 1 && routed.parts <= math.min(parts, Parallelism), s"parts ${routed.parts} of $parts")
        if (parts == 1) assert(routed.parts == 1)
        assert(cached() == before, "the batch is unpersisted")
      }
    }
  }

  test("a throwing writer still unpersists the batch (both guards)") {
    withParallelism {
      val boom = (_: Any, _: Long) => throw new IllegalStateException("sink down")
      val before = cached()
      val sinkErr = intercept[IllegalStateException] {
        GuardedBatchSink[Ev](new CircuitBreaker(Int.MaxValue, 60000L),
          boom, (_: Dataset[Ev], _: Long) => (), isErr)(events(Upstream), 0L)
      }
      assert(sinkErr.getMessage == "sink down")
      assert(cached() == before)
      val gateErr = intercept[IllegalStateException] {
        new ExpectationsGate(rules, boom, boom)(docs(Upstream, dirty = true), 0L)
      }
      assert(gateErr.getMessage == "sink down")
      assert(cached() == before)
    }
  }

  test("a diverted batch reaches its writer as it arrived, uncoalesced and unmaterialized") {
    withParallelism {
      val batch = events(Upstream)
      val cb = new CircuitBreaker(1, 60000L)
      cb.recordErrors(1) // open
      val before = cached()
      val main, errs, backup = new Seen[Ev]
      GuardedBatchSink[Ev](cb, recorder(main, before), recorder(errs, before), isErr,
        writeBackup = Some(recorder(backup, before)))(batch, 0L)
      assert(main.calls == 0 && errs.calls == 0 && backup.calls == 1)
      assert(backup.ds eq batch)
      assert(backup.parts == Upstream && !backup.materialized)
      assert(bag(backup.rows) == bag(batch.collect().toSeq))
      // no backup sink: the error writer takes the whole batch, also as it arrived
      GuardedBatchSink[Ev](cb, recorder(main, before), recorder(errs, before), isErr)(batch, 1L)
      assert(main.calls == 0 && errs.calls == 1 && (errs.ds eq batch) && errs.parts == Upstream)
      assert(cached() == before)
    }
  }
}
