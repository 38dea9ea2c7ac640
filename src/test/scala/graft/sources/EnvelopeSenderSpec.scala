package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import RelayProto._

/** The writer half of the envelope contract ([[RelayProto.EnvelopeSender]]):
  * against the receiver half ([[RelayProto.EnvelopeSession]]) over an
  * in-memory byte pipe in all three ack modes, and against stub receivers
  * whose acks are wrong in each way the sender must catch. */
class EnvelopeSenderSpec extends AnyFunSuite {

  private val key = Array.tabulate[Byte](16)(i => (i * 5 + 1).toByte)

  private def body(i: Int) = s"""{"id":$i}"""

  private def payloads(n: Int): Iterator[WrappedPayload] =
    (0 until n).iterator.map(i => wrap(body(i).getBytes(UTF_8), id = s"p0-$i",
      seq = i, tsEpochMs = 0L, algo = graft.functions.Codecs.CompressDeflate,
      key = Some(key)))

  /** Sender → session as encoded envelope bytes, acks back as encoded
    * bytes through a queue. Returns (bodies fed, acks the sender left
    * unread). */
  private def pipe(ackMode: String, n: Int): (Seq[String], Int) = {
    val acks = mutable.Queue.empty[Array[Byte]]
    val fed = mutable.Buffer.empty[String]
    val session = new EnvelopeSession(Some(key), 1 << 20, ackMode,
      feed = b => fed += new String(b, UTF_8),
      sendAck = a => acks.enqueue(encodeAck(a)))
    var open = true
    val sender = new EnvelopeSender(ackMode,
      send = { e =>
        assert(open, "envelope sent after the close")
        open = session.onEnvelope(encodeEnvelope(e))
      },
      readAck = () => decodeAck(
        if (acks.nonEmpty) acks.dequeue()
        else fail("the sender awaits an ack the receiver never sent")))
    sender.sendAll(payloads(n))
    assert(!open, "the stream was never closed")
    (fed.toSeq, acks.size)
  }

  /** Send `n` payloads to a stub receiver that answers with `ack(last
    * payload or None after the close, payloads seen)`; the send must fail. */
  private def rejectedBy(ackMode: String, n: Int)
                        (ack: (Option[WrappedPayload], Long) => StreamAck): String = {
    var last: Option[WrappedPayload] = None
    var seen = 0L
    val sender = new EnvelopeSender(ackMode,
      send = {
        case EnvelopePayload(wp) => last = Some(wp); seen += 1
        case EnvelopeClose(_) => last = None
      },
      readAck = () => ack(last, seen))
    intercept[IllegalArgumentException](sender.sendAll(payloads(n))).getMessage
  }

  for (mode <- Seq("none", "per-frame", "batch"))
    test(s"$mode: every payload reaches the session in order and every ack is read") {
      val (fed, unread) = pipe(mode, 3)
      assert(fed == (0 until 3).map(body))
      assert(unread == 0)
    }

  test("an empty partition sends only the close; batch mode accepts ok_count 0") {
    for (mode <- Seq("none", "per-frame", "batch")) {
      val (fed, unread) = pipe(mode, 0)
      assert(fed.isEmpty && unread == 0, mode)
    }
  }

  test("per-frame: a success ack echoing the wrong seq fails the send and names both seqs") {
    val msg = rejectedBy("per-frame", 3) { (wp, _) =>
      val seq = wp.get.seq
      StreamAck(success = true, seq = if (seq == 2) 7 else seq)
    }
    assert(msg.contains("message 2 rejected by receiver (ack seq=7)"), msg)
  }

  test("batch: a summary ack one short on ok_count fails the send and names the counts") {
    val msg = rejectedBy("batch", 3) { (_, n) =>
      StreamAck(success = true, lastSeq = n - 1, okCount = n - 1, errCount = 1)
    }
    assert(msg.contains("batch rejected: ok=2/3 err=1"), msg)
  }

  test("a success=false ack fails the send in both acking modes, with the receiver's message") {
    val perFrame = rejectedBy("per-frame", 3) { (wp, _) =>
      StreamAck(success = false, message = "tag mismatch", seq = wp.get.seq)
    }
    assert(perFrame.contains("message 0 rejected by receiver (ack seq=0): tag mismatch"), perFrame)
    val batch = rejectedBy("batch", 3) { (_, n) =>
      StreamAck(success = false, message = "sink down", okCount = n)
    }
    assert(batch.contains("batch rejected: ok=3/3 err=0 sink down"), batch)
  }

  test("halfClose runs after the close envelope and before the batch ack is read") {
    val events = mutable.Buffer.empty[String]
    new EnvelopeSender("batch",
      send = {
        case EnvelopePayload(wp) => events += s"payload ${wp.seq}"
        case EnvelopeClose(_) => events += "close"
      },
      readAck = () => { events += "ack"; StreamAck(success = true, okCount = 2) },
      halfClose = () => events += "half-close")
      .sendAll(payloads(2))
    assert(events == Seq("payload 0", "payload 1", "close", "half-close", "ack"))
  }

  test("an unknown ack mode is refused at construction") {
    val e = intercept[IllegalArgumentException](
      new EnvelopeSender("sometimes", _ => (), () => StreamAck(success = true)))
    assert(e.getMessage.contains("unknown ackMode 'sometimes'"), e.getMessage)
  }
}
