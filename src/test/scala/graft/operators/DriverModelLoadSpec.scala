package graft.operators

import graft.SparkSpec
import graft.functions.Bpe

/** Driver-held models load from their `meta.json` with no Spark job: no
  * schema-inference job, no collect. */
class DriverModelLoadSpec extends SparkSpec {

  test("BPE, k-means, classifier and importance models load with no Spark job") {
    def dir(name: String) = java.nio.file.Files.createTempDirectory(name).toString
    val (bpeDir, kmDir, clfDir, impDir) = (dir("bpe"), dir("km"), dir("clf"), dir("imp"))
    val bpe = Bpe.BpeModel(Array(("l", "o"), ("lo", "w</w>")))
    val km = KMeans.Model(Array(Array(1L, -2L), Array(3L, 4L)))
    val clf = Classifier.Model(2, Array(5L, -6L, 7L, 8L))
    val imp = Importance.ImportanceModel(Array(9L, -10L, 11L), -12L)
    Bpe.saveBpe(spark, bpe, bpeDir)
    KMeans.saveModel(spark, km, kmDir)
    Classifier.saveModel(spark, clf, clfDir)
    Importance.saveImportanceModel(spark, imp, impDir)
    val (loaded, jobs) = withJobs((Bpe.loadBpe(spark, bpeDir), KMeans.loadModel(spark, kmDir),
      Classifier.loadModel(spark, clfDir), Importance.loadImportanceModel(spark, impDir)))
    assert(jobs.isEmpty, jobs.mkString(","))
    assert(loaded._1.merges.toSeq == bpe.merges.toSeq)
    assert(loaded._2.centroids.map(_.toSeq).toSeq == km.centroids.map(_.toSeq).toSeq)
    assert(loaded._3.dim == 2 && loaded._3.wNanos.toSeq == clf.wNanos.toSeq)
    assert(loaded._4.ql.toSeq == imp.ql.toSeq && loaded._4.qn == imp.qn)
  }
}
