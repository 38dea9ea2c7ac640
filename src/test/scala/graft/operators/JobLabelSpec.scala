package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.functions.TextAnalytics
import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** Multi-job operators label their jobs and leave the caller's own job
  * description in place: every job they launch carries their label or
  * the caller's, and the caller's is back when they return. */
class JobLabelSpec extends SparkSpec {

  /** The descriptions of the jobs `body` launches, in job-id order. */
  private def descriptions(body: => Any): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentSkipListMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.put(j.jobId, Option(j.properties)
          .flatMap(p => Option(p.getProperty(graft.Session.JobDescription))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.StatusStore.drain(sc)
    } finally sc.removeSparkListener(listener)
    seen.values.asScala.toSeq
  }

  private def callerLabel = spark.sparkContext.getLocalProperty(graft.Session.JobDescription)

  test("connectedComponents, hardNegativesIvf and lmScoreBigram keep the caller's job description") {
    import spark.implicits._
    val sc = spark.sparkContext
    val embs = Tables.embeddings(spark, sfDir)
    val ivf = java.nio.file.Files.createTempDirectory("label-ivf").toString + "/idx"
    SimilarityIvf.buildIndex(embs, ivf, nCells = 8)
    val nodes = Seq(1L, 2L, 3L, 10L, 11L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("a_id", "b_id")
    sc.setJobDescription("caller")
    try {
      val cc = descriptions(Dedup.connectedComponents(nodes, pairs))
      assert(callerLabel == "caller")
      assert(cc.contains("cc: materialize edges") && cc.contains("cc: materialize labels") &&
        cc.contains("cc: round 0"), cc)
      assert(cc.forall(_.startsWith("cc: ")), cc)

      val ivfJobs = descriptions(SimilarityIvf.hardNegativesIvf(spark, ivf,
        embs.filter(col("vec_id") % 10 === 0), k = 5, lo = 0.25, hi = 0.95))
      assert(callerLabel == "caller")
      assert(ivfJobs.contains("ivf: collect anchors"), ivfJobs)
      assert(ivfJobs.forall(Set("ivf: collect anchors", "caller")), ivfJobs)

      val lm = descriptions(TextAnalytics.lmScoreBigram(Tables.documents(spark, sfDir)))
      assert(callerLabel == "caller")
      assert(lm.contains("lm bigram: materialize pairs") &&
        lm.contains("lm bigram: materialize counts"), lm)
      assert(lm.forall(Set("lm bigram: materialize pairs", "lm bigram: materialize counts",
        "caller")), lm)

      // the caller's next job is labelled the caller's way again
      val after = descriptions(spark.range(3).count())
      assert(after.nonEmpty && after.forall(_ == "caller"), after)
    } finally sc.setJobDescription(null)
  }

  test("withJobLabel restores the previous description when its body throws") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      intercept[IllegalStateException] {
        graft.Session.withJobLabel(sc, "inner")(throw new IllegalStateException("boom"))
      }
      assert(callerLabel == "outer")
      sc.setJobDescription(null)
      graft.Session.withJobLabel(sc, "inner")(())
      assert(callerLabel == null)
    } finally sc.setJobDescription(null)
  }
}
