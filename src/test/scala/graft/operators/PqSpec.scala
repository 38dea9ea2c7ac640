package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  private lazy val embs = Tables.embeddings(spark, sfDir).cache()

  private lazy val books = SimilarityPq.trainCodebooks(embs, m = 16, ksub = 16)

  private def exactOrder(): Seq[Long] = {
    val q = embs.filter(col("vec_id") === 0L)
      .select("embedding").as[Array[Float]].head()
    val qb = spark.sparkContext.broadcast(q)
    embs.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - qb.value(i); d += t * t; i += 1 }
        (id, d)
      }.toDF("vec_id", "d2")
      .orderBy(asc("d2"), asc("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
  }

  test("PQ codebooks train deterministically; codes cover multiple entries") {
    val b2 = SimilarityPq.trainCodebooks(embs, m = 16, ksub = 16)
    assert(books.length == 16 && books.forall(_.length == 16))
    books.zip(b2).foreach { case (sa, sb) =>
      sa.zip(sb).foreach { case (ca, cb) => assert(ca.sameElements(cb)) }
    }
    // encoding actually uses the codebook (not one degenerate cell)
    val distinctCodes = SimilarityPq.encode(embs, books)
      .select(explode(col("codes"))).distinct().count()
    assert(distinctCodes > 4, s"only $distinctCodes distinct codes")
  }

  /** Train codebooks on the fixture plus one vector `bad` (vec_id
    * 900001) and return the refusal's message. */
  private def refusal(bad: Array[Float]): String = {
    val withBad = embs.unionByName(Seq((900001L, bad)).toDF("vec_id", "embedding")
      .withColumn("label", lit(0)))
    intercept[IllegalArgumentException] {
      SimilarityPq.trainCodebooks(withBad, m = 16, ksub = 16)
    }.getMessage
  }

  private lazy val v0 = embs.filter(col("vec_id") === 0L)
    .select("embedding").as[Array[Float]].head()

  test("PQ trainer refuses a NaN or beyond-2^43 component, naming the vector") {
    for (x <- Seq(Float.NaN, 1e13f)) {
      val msg = refusal(v0.updated(3, x))
      assert(msg.contains("vec_id=900001: component") &&
        msg.contains("outside the fixed-point range"), msg)
    }
  }

  test("PQ trainer refuses a null or short vector, naming it") {
    assert(refusal(null).contains("vec_id=900001: the vector is null"))
    assert(refusal(Array.fill(8)(0.1f))
      .contains("vec_id=900001: 8 components, the model has 64"))
  }

  test("ADC shortlist captures the exact top-k (recall floor at shipped config)") {
    val top10 = exactOrder().take(10).toSet
    val short50 = SimilarityPq.adcTopK(SimilarityPq.encode(embs, books),
        books, embs.filter(col("vec_id") === 0L).select("embedding")
          .as[Array[Float]].head(), k = 50, excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSet
    // measured: 10/10 at sf0.01 (the golden scale), 8/10 on this 10×
    // smaller fixture (shortlist is 50 of only ~50 vectors' neighbors);
    // assert the floor that a broken kernel cannot clear
    assert(top10.intersect(short50).size >= 8,
      s"shortlist recall collapsed: ${top10.intersect(short50).size}/10")
  }

  test("re-ranked PQ result IS the exact ordering restricted to the shortlist") {
    val q = embs.filter(col("vec_id") === 0L)
      .select("embedding").as[Array[Float]].head()
    val short50 = SimilarityPq.adcTopK(SimilarityPq.encode(embs, books),
        books, q, k = 50, excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSet
    val reranked = SimilarityPq.adcRerankTopK(embs, books, q, k = 10,
      shortlist = 50, excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSeq
    // the re-rank contract: exact top-10 OVER THE SHORTLIST, exactly
    val expected = exactOrder().filter(short50.contains).take(10)
    assert(reranked == expected,
      s"re-ranked $reranked != exact-over-shortlist $expected")
  }

  test("nibble packing round-trips every code row") {
    val codes = SimilarityPq.encode(embs, books)
      .select("codes").as[Seq[Int]].collect()
    codes.foreach { cs =>
      val rt = SimilarityPq.unpack4(SimilarityPq.pack4(cs.toArray), cs.length)
      assert(rt.toSeq == cs, s"pack/unpack drifted: $cs -> ${rt.toSeq}")
    }
    // odd m packs the trailing nibble high, zero-padded
    assert(SimilarityPq.unpack4(SimilarityPq.pack4(Array(3, 7, 15)), 3).toSeq
      == Seq(3, 7, 15))
  }

  test("ragged vectors encode to null codes and are excluded, not a crash") {
    val q = embs.filter(col("vec_id") === 0L)
      .select("embedding").as[Array[Float]].head()
    val ragged = embs.select(col("vec_id"), col("embedding"))
      .unionByName(Seq(
        (900001L, Array.fill(8)(0.1f)),        // wrong dim
        (900002L, null.asInstanceOf[Array[Float]]) // null vector
      ).toDF("vec_id", "embedding"))
    val coded = SimilarityPq.encode(ragged, books)
    assert(coded.filter(col("vec_id") >= 900000L && col("codes").isNotNull)
      .count() == 0)
    // scoring skips them instead of throwing
    val top = SimilarityPq.adcTopK(coded, books, q, k = 5, excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect()
    assert(top.length == 5 && top.forall(_ < 900000L))
  }

  test("persisted index probe returns exactly the inline pipeline's result") {
    val q = embs.filter(col("vec_id") === 0L)
      .select("embedding").as[Array[Float]].head()
    val path = java.nio.file.Files
      .createTempDirectory("pq-index-spec").toString
    SimilarityPq.buildIndex(embs, path, m = 16, ksub = 16)
    val probed = SimilarityPq.probeIndex(spark, path, embs, q, k = 10,
      shortlist = 50, excludeIds = Seq(0L)).collect().toSeq
    val inline = SimilarityPq.adcRerankTopK(embs, books, q, k = 10,
      shortlist = 50, excludeIds = Seq(0L)).collect().toSeq
    assert(probed == inline, s"persisted $probed != inline $inline")
    // rebuild publishes v2 and probes still resolve (pointer swap)
    SimilarityPq.buildIndex(embs, path, m = 16, ksub = 16)
    val probed2 = SimilarityPq.probeIndex(spark, path, embs, q, k = 10,
      shortlist = 50, excludeIds = Seq(0L)).collect().toSeq
    assert(probed2 == inline)
  }

  test("decode error is the quantization contract: closer than the global mean") {
    val mean = embs.select(posexplode(col("embedding")))
      .groupBy("pos").agg(avg("col").as("m"))
      .orderBy("pos").select("m").as[Double].collect()
    val mb = spark.sparkContext.broadcast(mean)
    val bb = spark.sparkContext.broadcast(books)
    val errs = SimilarityPq.encode(embs, books)
      .join(embs, "vec_id")
      .select(col("codes"), col("embedding")).as[(Seq[Int], Array[Float])]
      .map { case (codes, v) =>
        val dec = SimilarityPq.decode(codes.toArray, bb.value)
        var eq = 0.0; var em = 0.0; var i = 0
        while (i < v.length) {
          val tq = v(i) - dec(i); eq += tq * tq
          val tm = v(i) - mb.value(i); em += tm * tm
          i += 1
        }
        (eq, em)
      }.toDF("eq", "em").agg(avg("eq"), avg("em")).as[(Double, Double)].head()
    assert(errs._1 < errs._2,
      s"PQ reconstruction (${errs._1}) no better than the global mean (${errs._2})")
  }
}
