package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Sealed relay pair (the reference wrap/unwrap payload contract):
  * frame codec round-trips across the flag matrix, the
  * encryption-requirement validation, a full gzip+AES e2e from
  * executor-side partitions into the receiving relay's stream, and the
  * wrong-key rejection path. */
class SealedRelaySpec extends SparkSpec {

  private val key = Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte)
  private val schema = new StructType().add("id", LongType).add("name", StringType)

  test("frame codec + seal/unwrap round-trip across the flag matrix") {
    val body = ("payload with unicode — € ٭ —" * 40).getBytes(UTF_8)
    for {
      gz <- Seq(false, true)
      k <- Seq(None, Some(key))
    } {
      val (flags, sealedBytes) = SealedRelay.seal(body, gz, k)
      val buf = new ByteArrayOutputStream()
      SealedRelay.writeFrame(new DataOutputStream(buf), flags, sealedBytes)
      val in = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
      val Some((f2, p2)) = SealedRelay.readFrame(in)
      assert(f2 == flags)
      assert(SealedRelay.unwrap(f2, p2, k).toSeq == body.toSeq, s"gz=$gz aes=${k.isDefined}")
      assert(SealedRelay.readFrame(in).isEmpty) // clean EOF
    }
  }

  test("cross-codec seal/unwrap: deflate/snappy/zstd/lz4 round-trip, with and without AES") {
    val c = graft.functions.Codecs
    val body = ("compressible line of text — αβγ\n" * 200).getBytes(UTF_8)
    for {
      algo <- Seq(c.CompressNone, c.CompressDeflate, c.CompressSnappy, c.CompressZstd, c.CompressLz4)
      k <- Seq(None, Some(key))
    } {
      val (flags, sealedBytes) = SealedRelay.seal(body, algo, k)
      assert(SealedRelay.algoOf(flags) ==
        (if (algo == c.CompressNone) c.CompressNone else algo))
      assert(SealedRelay.unwrap(flags, sealedBytes, k).toSeq == body.toSeq,
        s"algo=$algo aes=${k.isDefined}")
      if (algo != c.CompressNone)
        assert(sealedBytes.length < body.length, s"algo=$algo did not compress")
    }
  }

  test("legacy gzip-only flags (algorithm bits 0) still unwrap — old writers interoperate") {
    val body = "legacy frame".getBytes(UTF_8)
    val legacyFlags = SealedRelay.FlagGzip // bit0 only, no algorithm bits
    val payload = graft.functions.Codecs.gzip(body)
    assert(SealedRelay.unwrap(legacyFlags, payload, None).toSeq == body.toSeq)
  }

  test("brotli seals both ways (r13): our encoder round-trips through seal/unwrap, " +
    "a reference-encoder frame unwraps, garbage claiming brotli fails loudly") {
    val c = graft.functions.Codecs
    val body = "x".getBytes(UTF_8)
    // the engine SEALS with brotli since r13 (BrotliEnc) — with and without AES
    for (key <- Seq(None, Some(Array.fill[Byte](32)(7)))) {
      val (flags, payload) = SealedRelay.seal(body, c.CompressBrotli, key)
      assert(SealedRelay.unwrap(flags, payload, key).toSeq == body.toSeq)
    }
    // ...and a brotli-sealed payload from a reference peer OPENS: the
    // golden frame was produced by the reference encoder (q11)
    val br = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("golden/brotli/hello_q11.br"))
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("golden/brotli/hello_q11.raw"))
    assert(SealedRelay.unwrap(
      SealedRelay.flagsFor(c.CompressBrotli, encrypted = false), br, None)
      .toSeq == raw.toSeq)
    // hostile bytes claiming brotli fail the decoder, never crash past it
    intercept[java.io.IOException] {
      SealedRelay.unwrap(SealedRelay.flagsFor(c.CompressBrotli, encrypted = false), body, None)
    }
    intercept[IllegalArgumentException] {
      // id 6 is in flag range (3 bits) but maps to no codec
      SealedRelay.unwrap(SealedRelay.flagsFor(6, encrypted = false), body, None)
    }
    intercept[IllegalArgumentException] { SealedRelay.flagsFor(9, encrypted = false) }
  }

  test("snappy/zstd/lz4 honor the inflated-size cap — no decompression bombs") {
    val c = graft.functions.Codecs
    val zeros = new Array[Byte](4 << 20) // 4 MiB of zeros compresses tiny
    for (algo <- Seq(c.CompressSnappy, c.CompressZstd, c.CompressLz4)) {
      val packed = c.compress(algo, zeros)
      // bomb-shaped: ≥16× expansion on unwrap (snappy's block format tops
      // out near 20:1 on zeros; zstd/lz4 do far better)
      assert(packed.length < zeros.length / 16, s"algo=$algo fixture did not compress")
      val e = intercept[java.io.IOException] {
        c.decompressBounded(algo, packed, 1 << 20)
      }
      assert(e.getMessage.contains("cap"), s"algo=$algo: ${e.getMessage}")
      // and under the cap it round-trips
      assert(c.decompressBounded(algo, packed, 8 << 20).length == zeros.length)
    }
  }

  test("encryption-requirement validation matches the reference rule") {
    SealedRelay.validate(encrypt = false, None)
    SealedRelay.validate(encrypt = true, Some(key))
    intercept[IllegalArgumentException] { SealedRelay.validate(encrypt = true, None) }
    intercept[IllegalArgumentException] { SealedRelay.validate(encrypt = false, Some(key)) }
    intercept[IllegalArgumentException] { SealedRelay.validate(encrypt = true, Some(key.take(5))) }
  }

  test("the receiving relay refuses an AES key of illegal length at construction") {
    val e = intercept[IllegalArgumentException] {
      new SealedReceivingRelay(spark, 0, Some(key.take(17)))
    }
    assert(e.getMessage.contains("AES key must be 16/24/32 bytes, got 17"), e.getMessage)
  }

  test("bad magic is a protocol error") {
    val in = new DataInputStream(new ByteArrayInputStream("JUNKxxxx".getBytes(UTF_8)))
    val e = intercept[IllegalArgumentException] { SealedRelay.readFrame(in) }
    assert(e.getMessage.contains("magic"))
  }

  test("truncation mid-magic is an error, not a clean EOF") {
    val in = new DataInputStream(new ByteArrayInputStream("GR".getBytes(UTF_8)))
    val e = intercept[java.io.IOException] { SealedRelay.readFrame(in) }
    assert(e.getMessage.contains("truncated"))
  }

  test("a keyed receiver refuses unsealed frames — no downgrade to plaintext") {
    // the reference's 'unwrap: encryption required' (receivingrelay/
    // payload.go:30-33): the key is the only authentication on this edge
    val body = "injected".getBytes(UTF_8)
    for (gz <- Seq(false, true)) {
      val (flags, p) = SealedRelay.seal(body, gz, None)
      val e = intercept[SecurityException] { SealedRelay.unwrap(flags, p, Some(key)) }
      assert(e.getMessage.contains("encryption required"))
    }
    // and the sealed direction still round-trips
    val (f, p) = SealedRelay.seal(body, gzipped = true, Some(key))
    assert(SealedRelay.unwrap(f, p, Some(key)).toSeq == body.toSeq)
  }

  test("e2e: a keyed relay drops a peer that sends plaintext frames") {
    val relay = new SealedReceivingRelay(spark, 0, Some(key))
    try {
      import spark.implicits._
      val df = Seq((1L, "injected")).toDF("id", "name")
      SealedRelay.writeSocketSealed(df, "127.0.0.1", relay.boundPort,
        gzipped = false, key = None)
      eventually(relay.badFrameCount >= 1, "plaintext frame was not rejected")
      assert(relay.receivedCount == 0)
    } finally relay.stop()
  }

  test("a declared frame length over the receiver cap is rejected before allocation") {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    out.write("GRS1".getBytes(UTF_8)); out.writeByte(0)
    out.writeInt(SealedRelay.DefaultMaxFrameBytes + 1)
    val in = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
    val e = intercept[IllegalArgumentException] { SealedRelay.readFrame(in) }
    assert(e.getMessage.contains("frame length"))
    // a caller-raised cap admits the same header
    val in2 = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
    // payload bytes are absent, so a raised cap must get past the length
    // check and then fail on the truncated body instead
    intercept[java.io.EOFException] {
      SealedRelay.readFrame(in2, maxFrameBytes = 128 << 20)
    }
  }

  test("a single record over the chunk bound fails the writer task, not the receiver") {
    val relay = new SealedReceivingRelay(spark, 0, None)
    try {
      import spark.implicits._
      val df = Seq((1L, "x" * 2048)).toDF("id", "name")
      val e = intercept[Exception] {
        SealedRelay.writeSocketSealed(df, "127.0.0.1", relay.boundPort,
          gzipped = false, maxChunkBytes = 256)
      }
      // Spark wraps the task failure; the root message must surface
      assert(e.getMessage.contains("exceeds maxChunkBytes") ||
        Option(e.getCause).exists(_.getMessage.contains("exceeds maxChunkBytes")), e.toString)
      // and the writer bound itself is capped under the receiver default
      intercept[IllegalArgumentException] {
        SealedRelay.writeSocketSealed(df, "127.0.0.1", relay.boundPort,
          maxChunkBytes = 128 << 20)
      }
    } finally relay.stop()
  }

  test("a decompression bomb is cut off at the inflated-size cap") {
    // the frame cap bounds wire bytes only: 10 MB of zeros gzips to ~10 KB,
    // so a bomb inside an under-cap frame must be stopped by the inflated
    // cap during unwrap, not by an allocation failure after it
    val bomb = graft.functions.Codecs.gzip(new Array[Byte](10 << 20))
    assert(bomb.length < (64 << 10), s"fixture not bomb-shaped: ${bomb.length}")
    val e = intercept[java.io.IOException] {
      SealedRelay.unwrap(SealedRelay.FlagGzip, bomb, None, maxInflatedBytes = 1 << 20)
    }
    assert(e.getMessage.contains("bomb"), e.getMessage)
    // under the cap the same payload inflates fine
    assert(SealedRelay.unwrap(SealedRelay.FlagGzip, bomb, None,
      maxInflatedBytes = 11 << 20).length == (10 << 20))
  }

  test("e2e: partitions seal gzip+AES batches; the receiving relay unwraps into the stream") {
    val relay = new SealedReceivingRelay(spark, 0, Some(key))
    val ingress = relay.jsonStream(schema).writeStream
      .format("memory").queryName("sealed_jack").outputMode("append").start()
    try {
      import spark.implicits._
      val df = (0L until 20L).map(i => (i, s"rec$i")).toDF("id", "name")
      // tiny chunk cap: the 20 records split across several frames, so
      // the e2e also exercises multi-frame connections
      SealedRelay.writeSocketSealed(df, "127.0.0.1", relay.boundPort,
        gzipped = true, key = Some(key), maxChunkBytes = 64)
      eventually(relay.receivedCount == 20, s"relay got ${relay.receivedCount}/20")
      ingress.processAllAvailable()
      val rows = spark.table("sealed_jack").collect()
      assert(rows.length == 20)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 20L))
      assert(relay.badFrameCount == 0)
    } finally { ingress.stop(); relay.stop() }
  }

  test("e2e: zstd+AES sealed partitions unwrap into the stream — new codecs ride the same frames") {
    val relay = new SealedReceivingRelay(spark, 0, Some(key))
    val ingress = relay.jsonStream(schema).writeStream
      .format("memory").queryName("sealed_zstd_jack").outputMode("append").start()
    try {
      import spark.implicits._
      val df = (0L until 20L).map(i => (i, s"rec$i")).toDF("id", "name")
      SealedRelay.writeSocketSealedWith(df, "127.0.0.1", relay.boundPort,
        compression = graft.functions.Codecs.CompressZstd,
        key = Some(key), maxChunkBytes = 64)
      eventually(relay.receivedCount == 20, s"relay got ${relay.receivedCount}/20")
      ingress.processAllAvailable()
      val rows = spark.table("sealed_zstd_jack").collect()
      assert(rows.length == 20)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 20L))
      assert(relay.badFrameCount == 0)
    } finally { ingress.stop(); relay.stop() }
  }

  test("e2e: brotli+AES sealed partitions unwrap into the stream — the r13 encode arm " +
    "rides the same frames as the reference's enum 4") {
    val relay = new SealedReceivingRelay(spark, 0, Some(key))
    val ingress = relay.jsonStream(schema).writeStream
      .format("memory").queryName("sealed_brotli_jack").outputMode("append").start()
    try {
      import spark.implicits._
      val df = (0L until 20L).map(i => (i, s"rec$i")).toDF("id", "name")
      SealedRelay.writeSocketSealedWith(df, "127.0.0.1", relay.boundPort,
        compression = graft.functions.Codecs.CompressBrotli,
        key = Some(key), maxChunkBytes = 64)
      eventually(relay.receivedCount == 20, s"relay got ${relay.receivedCount}/20")
      ingress.processAllAvailable()
      val rows = spark.table("sealed_brotli_jack").collect()
      assert(rows.length == 20)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 20L))
      assert(relay.badFrameCount == 0)
    } finally { ingress.stop(); relay.stop() }
  }

  test("a frame sealed with the wrong key fails the tag check and is counted") {
    val relay = new SealedReceivingRelay(spark, 0, Some(key))
    try {
      import spark.implicits._
      val wrongKey = key.map(b => (b ^ 0x55).toByte)
      val df = Seq((1L, "x")).toDF("id", "name")
      SealedRelay.writeSocketSealed(df, "127.0.0.1", relay.boundPort,
        gzipped = false, key = Some(wrongKey))
      eventually(relay.badFrameCount >= 1, "bad frame was not counted")
      assert(relay.receivedCount == 0)
    } finally relay.stop()
  }

}
