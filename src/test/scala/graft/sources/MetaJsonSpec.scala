package graft.sources

import graft.SparkSpec
import graft.operators.{Importance, KMeans, SimilarityIvf, SimilarityPq}

/** A document with every field shape the artifact documents use. */
final case class MetaProbe(doubles: Array[Double], longs: Array[Long],
    nested: Array[Array[Long]], strings: Array[String], i: Int, l: Long)

/** Locks the `v<N>/meta.json` codec of versioned artifacts
  * ([[Fs.writeMeta]]/[[Fs.readMeta]]): values round-trip bit-exactly, and
  * every malformed version — the layout before meta.json, a truncated
  * document, nulls, ragged centroids or codebooks, an implausible bucket
  * count — is refused with the version path in the message. */
class MetaJsonSpec extends SparkSpec {

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("metajson").toString + "/art"

  /** A published v1 whose meta.json holds exactly `json`. */
  private def withRawMeta(json: String): String = {
    val dir = tmpRoot()
    Fs.writeVersioned(spark, dir) { vdir =>
      val (fs, p) = Fs.of(spark, s"$vdir/meta.json")
      val out = fs.create(p, false)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
    dir
  }

  /** `load` fails with IllegalArgumentException naming v1 of `dir` and
    * every string in `expect`. */
  private def refused(dir: String, expect: String*)(load: => Any): Unit = {
    val e = intercept[IllegalArgumentException](load)
    (s"$dir/v1" +: expect).foreach(x => assert(e.getMessage.contains(x), e.getMessage))
  }

  test("round trip is bit-exact for doubles and longs, and strings survive") {
    val doubles = Array(-0.0, 0.0, Double.MinPositiveValue, 1.0 / 3, Double.MaxValue,
      -Double.MaxValue, java.lang.Double.MIN_NORMAL, 2e23, Math.PI)
    val longs = Array(Long.MinValue, Long.MaxValue, 0L, -1L, Int.MaxValue + 1L)
    val strings = Array("say \"hi\"", "naïve café", "日本語</w>", "back\\slash",
      "tab\tnew\nline", "\u0000nul", "segments/seg-ü")
    val doc = MetaProbe(doubles, longs, Array(Array(1L, 2L), Array.empty), strings,
      Int.MinValue, Long.MaxValue)
    val dir = tmpRoot()
    Fs.writeVersioned(spark, dir)(vdir => Fs.writeMeta(spark, vdir, doc))
    val back = Fs.readMeta[MetaProbe](spark, s"$dir/v1", "rewrite it")
    assert(back.doubles.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      doubles.map(java.lang.Double.doubleToRawLongBits).toSeq)
    assert(back.longs.toSeq == longs.toSeq)
    // a primitive long[] all the way down: an erased Seq[Long] would hold
    // boxed Integers for small values
    assert(back.nested.map(_.toSeq).toSeq == Seq(Seq(1L, 2L), Seq()))
    assert(back.nested.head.getClass == classOf[Array[Long]])
    assert(back.strings.toSeq == strings.toSeq)
    assert(back.i == Int.MinValue && back.l == Long.MaxValue)
  }

  test("writeMeta never overwrites a version's document") {
    val dir = tmpRoot()
    Fs.writeVersioned(spark, dir) { vdir =>
      Fs.writeMeta(spark, vdir, KMeans.Model(Array(Array(1L))))
      intercept[java.io.IOException](
        Fs.writeMeta(spark, vdir, KMeans.Model(Array(Array(2L)))))
    }
    assert(KMeans.loadModel(spark, dir).centroids.map(_.toSeq).toSeq == Seq(Seq(1L)))
  }

  test("a version directory without meta.json (the older layout) is refused") {
    val dir = tmpRoot()
    Fs.writeVersioned(spark, dir) { vdir =>
      val (fs, _) = Fs.of(spark, vdir)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$vdir/_centroids"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$vdir/_segments"))
    }
    refused(dir, "no meta.json", "buildIndex") {
      SimilarityIvf.probeIndex(spark, dir, Array(1f, 0f), k = 1, nprobe = 1)
    }
    refused(dir, "no meta.json", "saveModel")(KMeans.loadModel(spark, dir))
  }

  test("truncated JSON, nulls, missing and unknown fields are refused") {
    val good = tmpRoot()
    KMeans.saveModel(spark, KMeans.Model(Array(Array(1L, 2L), Array(3L, 4L))), good)
    val (fs, _) = Fs.of(spark, good)
    val meta = new org.apache.hadoop.fs.Path(s"$good/v1/meta.json")
    val full = new String(
      org.apache.commons.io.IOUtils.toByteArray(fs.open(meta)), "UTF-8")
    for (json <- Seq(full.dropRight(3), """{"centroids":[[1,2],null]}""",
        """{"centroids":[[1,null]]}""", """{"centroids":null}""", "{}",
        """{"centroids":[[1]],"k":1}""", """{"centroids":[[1.5]]}""",
        full + "{}")) {
      val dir = withRawMeta(json)
      refused(dir, "meta.json", "saveModel")(KMeans.loadModel(spark, dir))
    }
  }

  test("ragged IVF centroids and PQ codebooks are refused") {
    val ivf = withRawMeta(
      """{"centroids":[[1.0,2.0],[3.0]],"segments":["segments/seg-0"]}""")
    refused(ivf, "ragged") {
      SimilarityIvf.probeIndex(spark, ivf, Array(1f, 0f), k = 1, nprobe = 1)
    }
    val noProbeRows = spark.range(0).selectExpr("id AS vec_id",
      "array(CAST(1.0 AS FLOAT)) AS embedding")
    for (books <- Seq("[[[1.0],[2.0]],[[1.0]]]", "[[[1.0],[2.0,3.0]]]")) {
      val pq = withRawMeta(s"""{"codebooks":$books}""")
      refused(pq, "ragged") {
        SimilarityPq.probeIndex(spark, pq, noProbeRows, Array(1f), k = 1, shortlist = 1)
      }
    }
    val wide = withRawMeta(
      s"""{"codebooks":[${Seq.fill(17)("[0.0]").mkString("[", ",", "]")}]}""")
    refused(wide, "ksub 17") {
      SimilarityPq.probeIndex(spark, wide, noProbeRows, Array(1f), k = 1, shortlist = 1)
    }
  }

  test("an importance bucket count of 0 or above MaxBuckets is refused") {
    val empty = withRawMeta("""{"ql":[],"qn":0}""")
    refused(empty, "bucket count 0")(Importance.loadImportanceModel(spark, empty))
    val n = Importance.MaxBuckets + 1
    val over = withRawMeta(s"""{"ql":[${Iterator.fill(n)("0").mkString(",")}],"qn":0}""")
    refused(over, s"bucket count $n")(Importance.loadImportanceModel(spark, over))
  }
}
