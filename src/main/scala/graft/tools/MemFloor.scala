package graft.tools

/** Memory-floor proof for the dedup funnel (round-14 directive #6): run
  * the heaviest composed pipelines — pipeline_full (the end-to-end
  * curation funnel), pipeline_dedup_shared (the shared shingle-index
  * triple) and the streaming front doors — under whatever heap
  * `SPARK_DRIVER_MEM` grants the forked JVM (build.sbt wires it into
  * -Xmx) and print one machine-readable line with the heap and, per
  * entry, its timed seconds and result counts. A constrained run (e.g.
  * SPARK_DRIVER_MEM=2g at sf0.1) proving completion WITH counts
  * identical to the 8g run demonstrates the plans spill instead of
  * ballooning: in local mode -Xmx bounds driver AND all executor threads
  * together, so this is the harshest memory shape the composition can
  * meet. Each entry runs as Bench runs it (graft.Pipelines.warmUp
  * first, then graft.Pipelines.runEntry: untimed prepare, timed body).
  * Usage:
  *
  *   SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.tools.MemFloor /root/testdata/sf0.1"
  *
  * The documented floor lives in SCALE.md (round-14 section).
  */
object MemFloor {
  /** The floor's entries, in run order: the two batch compositions, then
    * the streaming doors — foreachBatch decide + stored-index writes, the
    * refresh cadence's vocabulary-bounded epoch fold, the crawl door's
    * per-archive record walk and the CDC door's chunk pass must all
    * spill or stream, never balloon.
    */
  private val Entries: Seq[String] = Seq("pipeline_dedup_shared", "pipeline_full",
    "pipeline_stream_funnel", "pipeline_stream_refresh",
    "pipeline_crawl_stream", "pipeline_cdc_stream")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.SparkEntry.localCpus
    val spark = graft.SparkEntry.localSession(cpus)
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    graft.Pipelines.warmUp(spark, sfDir)
    val fields = graft.Pipelines.benchEntries.filter(e => Entries.contains(e.name))
      .map { e =>
        val (secs, counts) = graft.Pipelines.runEntry(spark, sfDir, e) { body =>
          val t0 = System.nanoTime()
          val counts = body
          ((System.nanoTime() - t0) / 1e9, counts)
        }
        s""""${e.name}":{"sec":$secs""" +
          counts.map { case (k, v) => s""","$k":$v""" }.mkString + "}"
      }
    val line = s"""{"heap_mb":$heapMb,"cpus":$cpus,"sf":"$sfDir",""" +
      fields.mkString(",") + "}"
    spark.stop()
    println(s"MEMFLOOR_JSON $line")
    System.err.println(s"MEMFLOOR_JSON $line")
  }
}
