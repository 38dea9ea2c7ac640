package graft.operators

import graft.SparkSpec
import graft.sources.Tables

/** A read whose files and settings have not changed since the last read
  * of the same path launches no Spark job: no schema-inference job for a
  * fixture table, none while a probe over a persisted IVF index is built
  * (its centroids and segment list come from `meta.json`, its segment
  * schemas from the first probe). */
class WarmReadSpec extends SparkSpec {

  test("a warm Tables.load launches no Spark job") {
    Tables.load(spark, sfDir, "documents")
    val (_, jobs) = withJobs(Tables.load(spark, sfDir, "documents"))
    assert(jobs.isEmpty, s"jobs ${jobs.mkString(",")}")
  }

  test("building a warm probeIndex over an existing index launches no Spark job") {
    val path = java.nio.file.Files.createTempDirectory("warm-ivf").toString + "/idx"
    SimilarityIvf.buildIndex(Tables.embeddings(spark, sfDir), path, nCells = 8)
    val q = Array.tabulate(64)(i => (i % 5).toFloat)
    SimilarityIvf.probeIndex(spark, path, q, k = 5, nprobe = 2)
    val (_, jobs) = withJobs(SimilarityIvf.probeIndex(spark, path, q, k = 5, nprobe = 2))
    assert(jobs.isEmpty, s"jobs ${jobs.mkString(",")}")
  }
}
