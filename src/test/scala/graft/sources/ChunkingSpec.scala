package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec

/** The shared relay chunk packer: boundary arithmetic, separator rules,
  * the oversized-record fail-fast, and lossless reassembly — including
  * through the receiver-side feed ([[Ingress.feed]]). */
class ChunkingSpec extends SparkSpec {

  private def pack(lines: Seq[String], cap: Int): Seq[Array[Byte]] =
    Chunking.chunks(lines.iterator, cap).toSeq

  test("a lone record frames at exactly its own length — no separator") {
    val out = pack(Seq("abcde"), 5)
    assert(out.map(_.length) == Seq(5))
    assert(new String(out.head, UTF_8) == "abcde")
  }

  test("the '\\n' separator is written only BETWEEN records and counts toward the bound") {
    // "aa\naa" = 5 bytes fits a 5-byte cap; adding a third record would
    // need 8 bytes, so it opens the next chunk
    val out = pack(Seq("aa", "aa", "aa"), 5)
    assert(out.map(new String(_, UTF_8)) == Seq("aa\naa", "aa"))
  }

  test("chunks reassemble to exactly the input records in order") {
    val lines = (0 until 500).map(i => s"""{"id":$i,"v":"${"x" * (i % 37)}"}""")
    val out = pack(lines, 256)
    assert(out.forall(_.length <= 256))
    val rebuilt = out.flatMap(c => new String(c, UTF_8).split("\n"))
    assert(rebuilt == lines)
    assert(out.forall(_.nonEmpty), "no empty chunks")
  }

  test("a record larger than the bound throws instead of framing whole") {
    val e = intercept[IllegalArgumentException](pack(Seq("x" * 100), 64))
    assert(e.getMessage.contains("exceeds maxChunkBytes"), e.getMessage)
  }

  test("empty input yields no chunks; bound validation matches the receiver-cap rule") {
    assert(pack(Seq.empty, 1024).isEmpty)
    intercept[IllegalArgumentException](Chunking.chunks(Iterator.empty, 0))
    intercept[IllegalArgumentException](Chunking.chunks(Iterator.empty, (48 << 20) + 1))
  }

  test("Ingress.feed inverts chunks: the same records come back; blank " +
    "lines are dropped; a CRLF body yields the same rows as its LF body") {
    import spark.implicits._
    def fed(bodies: Seq[Array[Byte]]): Seq[String] = {
      val in = new Ingress(spark)
      bodies.foreach(in.feed)
      val name = s"chunk_feed_${System.nanoTime()}"
      val q = in.raw.writeStream.format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        val got = spark.table(name).as[String].collect().toSeq
        assert(in.receivedCount == got.length)
        got.sorted
      } finally q.stop()
    }
    val lines = (0 until 300).map(i => s"""{"id":$i,"v":"${"x" * (i % 29)}"}""")
    val lf = pack(lines, 512)
    assert(lf.length > 1)
    assert(fed(lf) == lines.sorted)
    val blanks = Seq(("\n\n" + lines.take(3).mkString("\n\n") + "\n").getBytes(UTF_8))
    assert(fed(blanks) == lines.take(3).sorted)
    val crlf = lf.map(b => new String(b, UTF_8).replace("\n", "\r\n").getBytes(UTF_8))
    assert(fed(crlf) == fed(lf))
  }

  test("multi-byte UTF-8 records count in bytes, not chars") {
    val s = "€€€" // 9 bytes in UTF-8
    assert(pack(Seq(s), 9).map(_.length) == Seq(9))
    intercept[IllegalArgumentException](pack(Seq(s), 8))
  }
}
