package graft.tools

import graft.SparkEntry

/** Dev tool: dump formatted physical plans for the declared queries —
  * the scale checklist (pushdown, pruning, broadcast, TakeOrdered,
  * codegen span) is reviewed from this output. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.Session.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (names.isEmpty || names.contains(name)) {
        println(s"\n======== $name ========")
        try println(fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    }
    spark.stop()
  }
}
