package graft.tools

/** Targeted timer: run named entries — registry queries or Bench's
  * non-registry entries (graft.Pipelines.benchEntries, prepared untimed
  * exactly as Bench does) — against a data dir without paying the full
  * Bench sweep; all registry queries if none named. Bench's untimed
  * warm-up runs first.
  * Usage: runMain graft.tools.QTime <sfDir> [entryName ...]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession()
    graft.Tables.registerAll(spark, sfDir)
    graft.Pipelines.warmUp(spark, sfDir)
    val queries = graft.SparkEntry.queries
    def time(name: String)(run: => String): Unit = {
      val t0 = System.nanoTime()
      val out = run
      println(f"[qtime] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs  $out")
    }
    // run in ARG order (repeats allowed — steady-state timing needs a
    // same-JVM second run); no args = every registry query in map order
    val names = if (args.length <= 1) queries.keys.toSeq else args.drop(1).toSeq
    names.foreach { name =>
      queries.get(name) match {
        case Some(fn) => time(name) {
          val n = fn(spark, sfDir).count()
          graft.operators.Dedup.releaseAllCaches()
          s"rows=$n"
        }
        case None =>
          val e = graft.Pipelines.benchEntries.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(s"unknown entry $name"))
          graft.Pipelines.runEntry(spark, sfDir, e) { body =>
            time(name)(body.map { case (k, v) => s"$k=$v" }.mkString(" "))
          }
      }
    }
    spark.stop()
  }
}
