package graft.tools

import graft.queries.Registry

/** Dump formatted physical plans for the registry queries — the review
  * loop for scale properties: filters pushed to the parquet scan
  * (PushedFilters), pruned ReadSchema, broadcast joins on dimension
  * sides, partial aggregation, and wide WholeStageCodegen spans.
  * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Registry.all.map(_._1)
    val spark = graft.SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(Registry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
