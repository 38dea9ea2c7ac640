package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** THE chunk-boundary arithmetic shared by every relay writer (socket
  * flag/proto frames, NATS publishes): pack UTF-8 record lines into NDJSON
  * bodies of at most `maxChunkBytes`, writing the '\n' separator only
  * BETWEEN records so a lone record frames at exactly its own length.
  * Chunks are independent unwrap units — bounding them bounds both writer
  * memory (the seal pipeline holds ~4 concurrent copies: string, bytes,
  * compressed, ciphertext) and the frame/message size the far side must
  * accept. A single record larger than the bound throws rather than being
  * framed whole: the receiving side drops over-cap frames with their
  * connection, which the writer cannot see, and silent loss is worse than
  * a failed task.
  */
object Chunking {

  /** Writer-side ceiling on `maxChunkBytes`: 48 MiB under the default
    * receiver frame cap (64 MiB) so a legal writer config can never emit a
    * frame a default receiver discards, with margin for seal overhead. */
  val MaxChunkCap: Int = 48 << 20

  def requireBound(maxChunkBytes: Int): Unit =
    require(maxChunkBytes > 0 && maxChunkBytes <= MaxChunkCap,
      s"maxChunkBytes out of range: $maxChunkBytes (cap 48 MiB — the default " +
        "receiver drops frames over 64 MiB, and seal overhead needs margin)")

  /** Lazily pack `lines` into NDJSON chunk bodies of at most
    * `maxChunkBytes`. Never yields an empty chunk; an empty iterator
    * yields nothing. */
  def chunks(lines: Iterator[String], maxChunkBytes: Int): Iterator[Array[Byte]] = {
    requireBound(maxChunkBytes)
    new Iterator[Array[Byte]] {
      // one record of look-ahead: the record that overflowed the previous
      // chunk opens the next one
      private var carry: Array[Byte] = null
      private var pendingChunk: Array[Byte] = advance()

      private def advance(): Array[Byte] = {
        val buf = new java.io.ByteArrayOutputStream(math.min(maxChunkBytes, 1 << 20))
        if (carry != null) { buf.write(carry, 0, carry.length); carry = null }
        while (lines.hasNext) {
          val b = lines.next().getBytes(UTF_8)
          require(b.length <= maxChunkBytes,
            s"single record of ${b.length} bytes exceeds maxChunkBytes " +
              s"$maxChunkBytes — it would be framed whole and silently " +
              "dropped by the receiver's frame cap")
          if (buf.size > 0 && buf.size + b.length + 1 > maxChunkBytes) {
            carry = b
            return buf.toByteArray
          }
          if (buf.size > 0) buf.write('\n')
          buf.write(b, 0, b.length)
        }
        if (buf.size > 0) buf.toByteArray else null
      }

      override def hasNext: Boolean = pendingChunk != null
      override def next(): Array[Byte] = {
        if (pendingChunk == null) throw new NoSuchElementException("empty chunk iterator")
        val c = pendingChunk
        pendingChunk = advance()
        c
      }
    }
  }
}
