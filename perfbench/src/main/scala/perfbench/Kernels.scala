package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.FloatVectorDot
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.FastHash

/** Microbenches for the `functions` layer: the public FastHash entry points
  * and FloatVectorDot.eval, called directly on rows of the generated
  * documents and embeddings. Each reports nanoseconds per input row (per
  * pair for the pairwise kernels) as the median of timed rounds taken
  * after warm-up rounds. */
object Kernels {
  private val WarmRounds = 3
  private val TimedRounds = 5

  def run(spark: SparkSession, data: String): Seq[(String, Double)] = {
    import spark.implicits._
    val texts = graft.sources.Tables.documents(spark, data).select("text").as[String]
      .collect().take(2000)
    val lowered = texts.map(_.toLowerCase)
    val vecs = graft.sources.Tables.embeddings(spark, data).select("embedding").as[Array[Float]]
      .collect().take(1000)
    val sets = texts.map(FastHash.tokenSet)
    val dupSegs = FastHash.distinctXxh64(FastHash.wsSegments(texts.head, 8))
    val (as, bs) = FastHash.minhashPerms(64)
    val payload = Array.tabulate[Byte](256)(i => (i * 31).toByte)
    val arrays = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v): AnyRef)
    val dot = FloatVectorDot(BoundReference(0, ArrayType(FloatType, false), true),
      BoundReference(1, ArrayType(FloatType, false), true))
    val rowPairs = arrays.indices.map(i => InternalRow(arrays(i), arrays((i + 1) % arrays.length)))

    Seq(
      "textCounts_ns" -> time(texts.length)(texts.foreach(t => sink += FastHash.textCounts(t)(0))),
      "lowerBigrams_ns" -> time(lowered.length)(lowered.foreach(t => sink += FastHash.lowerBigrams(t).length)),
      "minhash_ns" -> time(texts.length)(texts.foreach(t => sink += FastHash.minhash(t, 2, as, bs)(0))),
      "winnow_ns" -> time(texts.length)(texts.foreach(t => sink += FastHash.winnow(t).length)),
      "segments_ns" -> time(texts.length)(texts.foreach { t =>
        val s = FastHash.wsSegments(t, 8)
        sink += FastHash.distinctXxh64(s).length + FastHash.exciseSegs(s, dupSegs)._1
      }),
      "interUnionBounded_ns" -> time(sets.length)(sets.indices.foreach { i =>
        val a = sets(i); val b = sets((i + 1) % sets.length)
        sink += FastHash.interUnionBounded(a, b, FastHash.minInterFor(a.length + b.length, 0.8))
      }),
      "chainedSha256_ns" -> time(texts.length)((0 until texts.length).foreach(i =>
        sink += FastHash.chainedSha256(payload, i.toLong, 1)(0))),
      "floatVectorDot_ns" -> time(rowPairs.length)(rowPairs.foreach(r =>
        sink += dot.eval(r).asInstanceOf[Double].toLong)),
    )
  }

  /** Result sink, so the JIT cannot drop the measured calls. */
  @volatile var sink: Long = 0L

  private def time(rows: Int)(body: => Unit): Double = {
    (0 until WarmRounds).foreach(_ => body)
    val ns = (0 until TimedRounds).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / rows
    }
    Stats.median(ns)
  }
}
