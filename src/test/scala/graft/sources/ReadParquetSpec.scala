package graft.sources

import graft.SparkSpec
import graft.functions.TextAnalytics
import graft.operators.{Dedup, Maintenance, Multimodal, SimilarityIvf, SimilarityPq}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** `Fs.readParquet` resolves the relation `spark.read.parquet` resolves:
  * the same schema and analyzed output on the read that infers (a miss,
  * one Spark job) and on the read that reuses the schema (a hit, no job),
  * for every fixture table, both `events.ts` layouts and every routed
  * side-table writer/reader pair; a rewrite or a conf flip re-infers. */
class ReadParquetSpec extends SparkSpec {

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  /** `df` resolves to what a plain read of `path` resolves to. */
  private def assertSameRelation(path: String, df: DataFrame): Unit = {
    val plain = spark.read.parquet(path)
    assert(df.schema == plain.schema, s"$path: ${df.schema} vs ${plain.schema}")
    def out(d: DataFrame) = d.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))
    assert(out(df) == out(plain), path)
  }

  /** Copy `src` (a file or a table directory) to a path no read has seen,
    * then read it twice: the first read infers, the second launches no
    * job, and both resolve the plain read's relation. */
  private def assertMissThenHit(src: String): Unit = {
    val copy = s"${tmp("readparquet")}/${new java.io.File(src).getName}"
    val from = new java.io.File(src)
    if (from.isDirectory) FileUtils.copyDirectory(from, new java.io.File(copy))
    else FileUtils.copyFile(from, new java.io.File(copy))
    val (miss, missJobs) = withJobs(Fs.readParquet(spark, copy))
    assert(missJobs.nonEmpty, s"$src: the first read should infer its schema")
    assertSameRelation(copy, miss)
    val (hit, hitJobs) = withJobs(Fs.readParquet(spark, copy))
    assert(hitJobs.isEmpty, s"$src: a warm read launched jobs $hitJobs")
    assertSameRelation(copy, hit)
  }

  /** A one-file table written by parquet-hadoop with the given schema. */
  private def writeExample(file: String, schema: String)(rows: SimpleGroupFactory => Seq[
      org.apache.parquet.example.data.Group]): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(t).withConf(conf).build()
    try rows(new SimpleGroupFactory(t)).foreach(w.write) finally w.close()
  }

  private val micros = Seq(1700000000123456L, 1700000000123457L, 1700000123000000L)

  /** An events table with `ts` in `unit` (MICROS or NANOS, not adjusted
    * to UTC, as the fixture generator writes it) holding `micros`. */
  private def writeEvents(dir: String, unit: String): Unit =
    writeExample(s"$dir/events.parquet",
      s"message events { required int64 event_id; " +
        s"required int64 ts (TIMESTAMP($unit,false)); required binary event_type (STRING); }") { f =>
      micros.zipWithIndex.map { case (us, i) =>
        f.newGroup().append("event_id", i.toLong)
          .append("ts", if (unit == "NANOS") us * 1000L else us)
          .append("event_type", s"type$i")
      }
    }

  test("every fixture table resolves the plain read's relation on a miss and a hit") {
    for (sf <- Seq(sfDir, s"${new java.io.File(sfDir).getParent}/sf0.01"); t <- Tables.names) {
      val path = s"$sf/$t.parquet"
      assertSameRelation(path, Fs.readParquet(spark, path))
      assertMissThenHit(path)
    }
  }

  test("both events.ts layouts resolve the plain read's relation") {
    for (unit <- Seq("NANOS", "MICROS")) {
      val dir = tmp(s"events-$unit")
      writeEvents(dir, unit)
      assertMissThenHit(s"$dir/events.parquet")
    }
  }

  test("Tables.load gives events.ts as equal epoch-nanos longs in both layouts, cold and warm") {
    val expected = micros.map(_ * 1000L)
    for (unit <- Seq("NANOS", "MICROS")) {
      val dir = tmp(s"events-load-$unit")
      writeEvents(dir, unit)
      for (load <- Seq("miss", "hit")) {
        val ev = Tables.load(spark, dir, "events")
        assert(ev.schema("ts").dataType == LongType, s"$unit $load: ${ev.schema}")
        val ts = ev.orderBy("event_id").select(col("ts")).collect().map(_.getLong(0)).toSeq
        assert(ts == expected, s"$unit $load")
      }
    }
  }

  test("every routed side table resolves the plain read's relation on a miss and a hit") {
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)
    val lsh = tmp("rp-lsh")
    Dedup.buildLshIndex(docs, lsh)
    val pq = tmp("rp-pq")
    SimilarityPq.buildIndex(embs, pq, m = 16, ksub = 16)
    val mm = tmp("rp-mm")
    val images = Multimodal.syntheticImages(spark.range(6).toDF("doc_id"), families = 3)
    Multimodal.buildHashIndex(Multimodal.imageDHashes(images).toDF()
      .filter(col("ok") && col("dhash") =!= 0L), mm, "dhash")
    val lm = tmp("rp-lm")
    TextAnalytics.saveUnigramLm(spark, TextAnalytics.trainUnigramLm(docs), lm)
    val shards = tmp("rp-shards")
    Maintenance.writeShards(spark, docs.select("doc_id", "text"), shards, seed = 7L, numShards = 4)
    val ivf = tmp("rp-ivf")
    SimilarityIvf.buildIndex(embs, ivf, nCells = 8)
    val segs = new java.io.File(s"$ivf/segments").listFiles().filter(_.isDirectory).map(_.toString)
    assert(segs.length == 1 && new java.io.File(segs.head).list().exists(_.startsWith("cell=")))
    val tables = Seq(s"$lsh/v1/sigs", s"$lsh/v1/bands", s"$pq/v1/codes", s"$mm/v1/hashes",
      s"$mm/v1/bands", s"$lm/v1/lm", s"$shards/v1/data", s"$shards/v1/manifest") ++ segs
    tables.foreach { t =>
      assertSameRelation(t, Fs.readParquet(spark, t))
      assertMissThenHit(t)
    }
    // the partitioned ones keep their partition column last, as inferred
    assert(Fs.readParquet(spark, segs.head).columns.last == "cell")
    assert(Fs.readParquet(spark, s"$shards/v1/data").columns.last == "shard")
  }

  test("a rewritten table re-infers its new schema") {
    val p = s"${tmp("rp-rewrite")}/t"
    spark.range(3).toDF("a").write.parquet(p)
    assert(Fs.readParquet(spark, p).schema.fieldNames.toSeq == Seq("a"))
    assert(withJobs(Fs.readParquet(spark, p))._2.isEmpty)
    spark.range(3).selectExpr("cast(id as string) as b").write.mode("overwrite").parquet(p)
    val (df, jobs) = withJobs(Fs.readParquet(spark, p))
    assert(jobs.nonEmpty && df.schema("b").dataType == StringType, df.schema)
    assertSameRelation(p, df)
  }

  test("flipping binaryAsString or nanosAsLong between reads gives each conf's own schema") {
    val file = s"${tmp("rp-confs")}/t.parquet"
    writeExample(file, "message t { required binary raw; required int64 ts (TIMESTAMP(NANOS,true)); }") { f =>
      Seq(f.newGroup().append("raw", "x").append("ts", 1000L))
    }
    val keys = Seq("spark.sql.parquet.binaryAsString", "spark.sql.legacy.parquet.nanosAsLong")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    def read(binaryAsString: Boolean, nanosAsLong: Boolean): DataFrame = {
      spark.conf.set(keys(0), binaryAsString.toString)
      spark.conf.set(keys(1), nanosAsLong.toString)
      val df = Fs.readParquet(spark, file)
      assertSameRelation(file, df)
      df
    }
    try {
      assert(read(binaryAsString = false, nanosAsLong = true).schema("raw").dataType == BinaryType)
      assert(read(binaryAsString = true, nanosAsLong = true).schema("raw").dataType == StringType)
      assert(read(binaryAsString = false, nanosAsLong = true).schema("raw").dataType == BinaryType)
      assert(read(binaryAsString = false, nanosAsLong = true).schema("ts").dataType == LongType)
      val asTimestamp = scala.util.Try(read(binaryAsString = false, nanosAsLong = false).schema("ts").dataType)
      val plain = scala.util.Try(spark.read.parquet(file).schema("ts").dataType)
      assert(asTimestamp.toOption == plain.toOption && !asTimestamp.toOption.contains(LongType),
        s"$asTimestamp vs $plain")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
