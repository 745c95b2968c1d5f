package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Byte budget of one stream-replay micro-batch (`maxBytesPerTrigger`). */
  private[graft] val ReplayTriggerBytes: Long = 512L << 20

  /** State partitions for a replay over `pathBytes` of input, sized by
    * the per-trigger volume that [[ReplayTriggerBytes]] caps.
    */
  private[graft] def replayStatePartitions(pathBytes: Long): Int =
    graft.streaming.Streams.statePartitions(
      math.min(pathBytes, ReplayTriggerBytes))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark frees broadcast/shuffle/RDD state via ContextCleaner, which
      // only fires when the DRIVER GCs — on a large heap a 153-query suite
      // never GCs, state from every prior query accumulates, and late
      // queries run 3-6x slower than standalone (observed r10: q84 32s in
      // suite vs ~5s alone). periodicGC forces the cleaner to keep up.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAggregates(spark)
    // failures must reach the machine-readable summary, not just stderr — a
    // failed entry's elapsed time is otherwise indistinguishable from a fast
    // success to any consumer of BENCH_SUMMARY.json
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // optional per-query full GC: steadies round-over-round comparisons at
    // the cost of wall time; off by default
    val gcPerQuery = sys.env.get("SPARK_GRAFT_BENCH_GC").contains("1")
    // Per-entry hygiene + telemetry for the NON-registry entries (replays +
    // composed pipelines), which run AFTER the ~280-query registry loop:
    // round-13's driver artifact read pipeline_monitor at 65.5 s vs 7-9 s
    // isolated — suite-context (ContextCleaner backlog / driver-GC pressure
    // accumulated over the loop), not a plan regression. Each entry now gets
    // the registry loop's cache clear plus an UNTIMED full GC before its
    // timer starts, and the GC count / GC millis / used-heap-MB observed
    // INSIDE the timed body land in BENCH_SUMMARY.json ("gc" map), so a
    // suite-context outlier is self-diagnosing from the artifact alone
    // (high gc-ms share of a slow entry = context pressure, not the plan).
    import scala.jdk.CollectionConverters._
    val gcBeans =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcNow(): (Long, Long) = {
      var n = 0L; var ms = 0L
      gcBeans.asScala.foreach { b =>
        n += math.max(0L, b.getCollectionCount)
        ms += math.max(0L, b.getCollectionTime)
      }
      (n, ms)
    }
    // round-16: telemetry covers EVERY timed entry (registry queries
    // included), keyed [runPos, gcCount, gcMillis, usedHeapMB] — the r15
    // host-load burst hit plain queries, where the artifact carried no
    // signal and burst adjudication needed manual run-order analysis;
    // with per-entry positions the positional-cluster diagnostic
    // (consecutive runPos with uniform inflation) is mechanical from
    // BENCH_SUMMARY.json alone (BASELINE.md adjudication rule).
    var runPos = 0L
    val gcTel = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long, Long)]
    def recordTel(name: String, gn0: Long, gm0: Long): Unit = {
      val (gn1, gm1) = gcNow()
      val rt = java.lang.Runtime.getRuntime
      gcTel(name) = (runPos, gn1 - gn0, gm1 - gm0,
        (rt.totalMemory() - rt.freeMemory()) >> 20)
      runPos += 1
    }
    def timedEntry(name: String)(body: => Unit): Double = {
      graft.operators.Dedup.releaseAllCaches()
      spark.catalog.clearCache()
      System.gc() // untimed: drain ContextCleaner debt before the clock
      val (gn0, gm0) = gcNow()
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        errors += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      recordTel(name, gn0, gm0)
      secs
    }
    // untimed warmup: pay JVM/codegen/shuffle-machinery startup once, not
    // inside whichever query happens to run first
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // frozen front-door artifacts built untimed (memoized per dir): the
    // funnel entries — q285/q289 and pipeline_stream_funnel — time model
    // SERVING; training cost is owned by the q278/q281-family entries
    try { graft.Pipelines.funnelModel(spark, sfDir); () }
    catch { case _: Throwable => () }
    // likewise the q284 decay curve (q291's trigger polls a STORED curve;
    // curve computation cost is timed by q284's own entry)
    try { graft.Pipelines.decayCurve(spark, sfDir); () }
    catch { case _: Throwable => () }
    // and the refresh-cadence deploy-time state (base-trained LM, blooms,
    // seed counts) serving q289 + pipeline_stream_refresh
    try { graft.Pipelines.refreshArtifacts(spark, sfDir)
      graft.Pipelines.refreshBaseCounts(spark, sfDir); () }
    catch { case _: Throwable => () }
    // one tiny untimed front-door REFRESH LOOP: the composed funnel
    // entries run EARLY in the registry's map order, and their first
    // execution otherwise pays the plan family's whole-stage codegen
    // inside a timed body (observed: q289 at run position 2 reading ~2x
    // its steady state). Driving processBatchWithRefresh end-to-end over
    // ~60 docs warms the decide family AND everything the round-16
    // tiny-decide warmup missed — the decision/index/counts parquet
    // write paths, the kept-counts fold, and refreshedLm's epoch build —
    // which the pipeline_stream_refresh entry was paying first-execution
    // codegen for inside its timed body.
    try {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 90)
      val (model0, bloomFor) = graft.Pipelines.refreshArtifacts(spark, sfDir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-warm-").toString
      try {
        graft.streaming.StreamingCurationFunnel.seedIndex(
          docs.filter(col("doc_id") < 30), "text", "doc_id", 5, s"$tmp/idx")
        graft.streaming.StreamingCurationFunnel.seedCounts(
          docs.filter(col("doc_id") < 30), "text", model0.lm, s"$tmp/cnt")
        graft.streaming.StreamingCurationFunnel.processBatchWithRefresh(
          docs.filter(col("doc_id") >= 30 && col("doc_id") < 60), 0L,
          "text", "doc_id", model0, 1L, bloomFor,
          s"$tmp/idx", s"$tmp/out", s"$tmp/cnt")
        graft.streaming.StreamingCurationFunnel.processBatchWithRefresh(
          docs.filter(col("doc_id") >= 60), 1L,
          "text", "doc_id", model0, 1L, bloomFor,
          s"$tmp/idx", s"$tmp/out", s"$tmp/cnt")
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
        graft.streaming.StreamingCurationFunnel.clearRefreshMemo()
        graft.operators.Dedup.releaseAllCaches()
        spark.catalog.clearCache()
      }
    } catch { case _: Throwable => () }
    var qIdx = 0
    val results = SparkEntry.queries.map { case (name, fn) =>
      val (gn0, gm0) = gcNow()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        errors += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      recordTel(name, gn0, gm0)
      // dedup queries persist their shingle index for the duration of the
      // query; free it so caches never accumulate across the suite — and
      // clear ALL cached plans so suite-order interference (q57/q83/q31
      // showed 2-3x bench-vs-standalone variance in r7) can't leak one
      // query's persisted state into the next one's timing
      graft.operators.Dedup.releaseAllCaches()
      spark.catalog.clearCache()
      // untimed GC every 16 queries (plus the periodicGC conf above): the
      // explicit call lets ContextCleaner drain even when the 2-min timer
      // hasn't fired, without paying a full GC inside every measurement
      qIdx += 1
      if (gcPerQuery || qIdx % 16 == 0) System.gc()
      name -> secs
    }
    // streaming EWMA replay over events.parquet (BASELINE.md: <= 60 s at
    // sf0.1): full file-source micro-batch replay through the windowed
    // event-time EWMA into a memory sink
    val streamSecs = timedEntry("ewma_stream_replay") {
      graft.streaming.Streams.withStatePartitions(spark, replayStatePartitions(
          graft.streaming.Streams.pathBytes(spark, s"$sfDir/events.parquet"))) {
        import org.apache.spark.sql.functions._
        val batchSchema = graft.Tables.events(spark, sfDir).schema
        // Trigger.AvailableNow + a byte budget per micro-batch: batch count
        // tracks data VOLUME, not file count — one-batch-per-file replay
        // would serialize ingest behind driver-side scheduling at scale.
        // (Specs that pin multi-batch semantics keep maxFilesPerTrigger=1.)
        val raw = spark.readStream.schema(
            spark.read.parquet(s"$sfDir/events.parquet").schema)
          .option("maxBytesPerTrigger", ReplayTriggerBytes.toString)
          .option("pathGlobFilter", "events.parquet") // table files are flat in sfDir
          .parquet(sfDir)
        // tsl must be full-microsecond so events within the same second fold
        // in the same (ts, event_id) order as the batch queries (q27/q28)
        val ev = graft.Tables.normalizeTs(raw)
          .withColumn("tsl", unix_micros(col("ts")))
        val agg = graft.streaming.EwmaPipeline.windowedEwma(
          ev, "event_type", "ts", "tsl", "event_id", "value",
          periodSeconds = 300, watermark = "10 minutes")
        val q = agg.writeStream.format("memory").queryName("bench_ewma_replay")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        require(batchSchema != null)
        System.err.println(
          s"[bench] ewma_stream_replay rows=${spark.table("bench_ewma_replay").count()}")
      }
    }
    // streaming LSH near-dup replay over documents.parquet: the stateful
    // per-bucket candidate stream (StreamingLshDedup) end-to-end
    val slshSecs = timedEntry("slsh_stream_replay") {
      graft.streaming.Streams.withStatePartitions(spark, replayStatePartitions(
          graft.streaming.Streams.pathBytes(spark, s"$sfDir/documents.parquet"))) {
        val docs = spark.readStream.schema(
            spark.read.parquet(s"$sfDir/documents.parquet").schema)
          .option("maxBytesPerTrigger", ReplayTriggerBytes.toString)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
        val q = graft.streaming.StreamingLshDedup.candidates(docs, "text", "doc_id")
          .writeStream.format("memory").queryName("bench_slsh_replay")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        System.err.println(
          s"[bench] slsh_stream_replay rows=${spark.table("bench_slsh_replay").count()}")
      }
    }
    // composed-pipeline entries: regressions in COMPOSITION (shared index
    // reuse, stage chaining) are invisible to per-operator timings
    import org.apache.spark.sql.functions.col
    val sharedSecs = timedEntry("pipeline_dedup_shared") {
      // body shared with tools.MemFloor via graft.Pipelines
      val (nJac, nMh, nKeep) = graft.Pipelines.dedupShared(spark, sfDir)
      System.err.println(s"[bench] pipeline_dedup_shared jac=$nJac mh=$nMh keep=$nKeep")
    }
    val fullSecs = timedEntry("pipeline_full") {
      // the end-to-end curation funnel (PipelineEndToEndSpec, benched;
      // body shared with tools.ScaleSmoke via graft.Pipelines)
      val n = graft.Pipelines.fullCuration(spark, sfDir)
      System.err.println(s"[bench] pipeline_full sharded=$n")
    }
    // frozen artifacts + replay staging built untimed: the front door
    // SERVES a model against a PRE-EXISTING stored index and source
    // stream — training cost belongs to q278/q281-family entries, and
    // the seed/stage setup is deployment state, not per-batch work
    val funnelModel = graft.Pipelines.funnelModel(spark, sfDir)
    val funnelTmp = graft.Pipelines.prepareStreamFunnel(spark, sfDir)
    val sfunnelSecs = timedEntry("pipeline_stream_funnel") {
      // the streaming daily-ingest front door (StreamingCurationFunnelSpec):
      // foreachBatch gopher -> stored-index dedup -> bloom -> LM replay
      val (nDec, nKeep) =
        graft.Pipelines.replayStreamFunnel(spark, sfDir, funnelModel, funnelTmp)
      System.err.println(s"[bench] pipeline_stream_funnel decided=$nDec kept=$nKeep")
    }
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(funnelTmp)).deleteRecursively(); ()
    } catch { case _: Throwable => () }
    // the refresh-cadence twin: two micro-batches with a hot-swapped model
    // epoch between them (counts fold + LM re-price + bloom merge) — the
    // incremental-MODEL loop, artifacts + staging untimed as above
    val refreshTmp = graft.Pipelines.prepareStreamRefresh(spark, sfDir)
    val srefreshSecs = timedEntry("pipeline_stream_refresh") {
      val (nDec, nKeep) =
        graft.Pipelines.replayStreamRefresh(spark, sfDir, refreshTmp)
      System.err.println(s"[bench] pipeline_stream_refresh decided=$nDec kept=$nKeep")
    }
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(refreshTmp)).deleteRecursively(); ()
    } catch { case _: Throwable => () }
    // the streaming-ANN retrain loop (q298's streaming twin): per-batch
    // delta encode + trigger poll against the frozen decay curve, with
    // the retrain + re-encode + hot-swap exercised when the verdict fires
    val annTmp = graft.Pipelines.prepareAnnRefresh(spark, sfDir)
    val annSecs = timedEntry("pipeline_ann_refresh") {
      val (boundary, rows) = graft.Pipelines.replayAnnRefresh(spark, sfDir, annTmp)
      System.err.println(
        s"[bench] pipeline_ann_refresh final_boundary=$boundary index_rows=$rows")
    }
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(annTmp)).deleteRecursively(); ()
    } catch { case _: Throwable => () }
    // the crawl -> text ladder over a pre-staged stored .warc.gz dump
    // (the q296 container): record walk -> response blocks -> HTML
    // main-content extraction -> kept-line reassembly -> gopher gate
    val crawlTmp = graft.Pipelines.prepareCrawl(spark, sfDir)
    val crawlSecs = timedEntry("pipeline_crawl") {
      val (nRec, nKept, nPass) = graft.Pipelines.replayCrawl(spark, sfDir, crawlTmp)
      System.err.println(
        s"[bench] pipeline_crawl records=$nRec kept_lines=$nKept gopher_pass=$nPass")
    }
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(crawlTmp)).deleteRecursively(); ()
    } catch { case _: Throwable => () }
    // the STREAMING crawl front door (q300's streaming twin): the same
    // ladder per micro-batch + idempotent kept-docs partition overwrites
    val crawlStrTmp = graft.Pipelines.prepareCrawlStream(spark, sfDir)
    val crawlStrSecs = timedEntry("pipeline_crawl_stream") {
      val nKept = graft.Pipelines.replayCrawlStream(spark, sfDir, crawlStrTmp)
      System.err.println(s"[bench] pipeline_crawl_stream kept_docs=$nKept")
    }
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(crawlStrTmp)).deleteRecursively(); ()
    } catch { case _: Throwable => () }
    // the STREAMING CDC dedup door (q310's streaming twin): per batch a
    // map-only chunking pass + the against-base score off the stored
    // chunk index + idempotent partition overwrites
    val cdcStrTmp = graft.Pipelines.prepareCdcStream(spark, sfDir)
    val cdcStrSecs = timedEntry("pipeline_cdc_stream") {
      val (nScored, nBaseDup) =
        graft.Pipelines.replayCdcStream(spark, sfDir, cdcStrTmp)
      System.err.println(
        s"[bench] pipeline_cdc_stream scored=$nScored base_dup=$nBaseDup")
    }
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(cdcStrTmp)).deleteRecursively(); ()
    } catch { case _: Throwable => () }
    // the four suite bodies live in graft.Pipelines (with the other
    // composed pipelines) so the harness stays a thin timer around a
    // product-code composition — the measured workloads are unchanged
    val eventsSecs = timedEntry("pipeline_events") {
      val (nF, nA, nR, nT, nH) = graft.Pipelines.eventsSuite(spark, sfDir)
      System.err.println(
        s"[bench] pipeline_events funnel=$nF attr=$nA ret=$nR trans=$nT holt=$nH")
    }
    val insightSecs = timedEntry("pipeline_insight") {
      val (nF, nA) = graft.Pipelines.insightSuite(spark, sfDir)
      System.err.println(s"[bench] pipeline_insight funnel=$nF attr=$nA")
    }
    val routingSecs = timedEntry("pipeline_routing") {
      val (nRep, nEsc) = graft.Pipelines.routingSuite(spark, sfDir)
      System.err.println(s"[bench] pipeline_routing report=$nRep escalate=$nEsc")
    }
    val monitorSecs = timedEntry("pipeline_monitor") {
      // the metric-monitoring suite the way a dashboard job ships: the
      // per-(type, day) daily stats are computed ONCE (persisted) and
      // feed the eleven FromDaily monitors from the one frame (body
      // shared with tools.ScaleSmoke via graft.Pipelines)
      val counts = graft.Pipelines.monitorSuite(spark, sfDir)
      System.err.println("[bench] pipeline_monitor " +
        counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    val profileSecs = timedEntry("pipeline_profile") {
      val (nLz, nTm, nHl) = graft.Pipelines.profileSuite(spark, sfDir)
      System.err.println(
        s"[bench] pipeline_profile lorenz=$nLz trimmed=$nTm hill=$nHl")
    }
    val all = results ++ Map(
      "ewma_stream_replay" -> streamSecs, "slsh_stream_replay" -> slshSecs,
      "pipeline_dedup_shared" -> sharedSecs, "pipeline_full" -> fullSecs,
      "pipeline_stream_funnel" -> sfunnelSecs,
      "pipeline_stream_refresh" -> srefreshSecs, "pipeline_crawl" -> crawlSecs,
      "pipeline_crawl_stream" -> crawlStrSecs,
      "pipeline_cdc_stream" -> cdcStrSecs,
      "pipeline_ann_refresh" -> annSecs,
      "pipeline_events" -> eventsSecs, "pipeline_insight" -> insightSecs,
      "pipeline_routing" -> routingSecs, "pipeline_monitor" -> monitorSecs,
      "pipeline_profile" -> profileSecs)
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON.
    def dec3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // full-name per-query lines go to stderr for human reading; they may
    // scroll out of the driver's bounded tail capture, which is fine
    all.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val gcSuffix = gcTel.get(k)
        .map { case (p, n, ms, mb) => s" pos=$p gc=$n/${ms}ms heap=${mb}MB" }
        .getOrElse("")
      System.err.println(s"[bench] $k ${dec3(v)}s$gcSuffix")
    }
    // THE parsed line: the driver keeps only the last ~2 KB of the log, so
    // the summary must be (a) the LAST line printed and (b) short enough to
    // fit the window whole — r5's 80-entry full-name line (~2.4 KB) lost
    // its head and failed to parse. Query keys are therefore shortened to
    // their qNN prefix (unambiguous — registry names are qNN_description);
    // non-qNN entries (replays, pipelines) keep full names.
    def shortKey(name: String): String = {
      val m = "^(q\\d+)_.*$".r
      name match { case m(p) => p; case _ => name }
    }
    val qs = all.map { case (k, v) => "\"" + shortKey(k) + "\":" + dec3(v) }
      .mkString("{", ",", "}")
    val total = if (all.nonEmpty) all.values.sum else 0.0
    val errJson = errors.toSeq.sorted.map("\"" + shortKey(_) + "\"").mkString("[", ",", "]")
    // GC telemetry for EVERY timed entry: [runPos, gcCount, gcMillis,
    // usedHeapMBAfter] observed inside the timed body. A slow entry whose
    // gcMillis dominates its wall time is suite-context pressure; a group
    // of inflated entries at CONSECUTIVE runPos with low gcMillis is an
    // external host-load burst (the r15 signature) — both diagnosable
    // from the artifact alone now. Adds ~7 KB to the summary; the
    // authoritative copy is the BENCH_SUMMARY.json FILE (written whole),
    // so the driver's bounded log tail is not load-bearing for it.
    val gcJson = gcTel.map { case (k, (p, n, ms, mb)) =>
      "\"" + shortKey(k) + "\":[" + p + "," + n + "," + ms + "," + mb + "]"
    }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${dec3(total)},"unit":"sec","queries":$qs,"errors":$errJson,"gc":$gcJson,"sf":"$sfDir"}"""
    // The summary must survive three capture modes the driver has used:
    //  (a) a file — always complete, never depends on log capture;
    //  (b) the tail of the captured log, which is STDERR-dominated: r5/r6
    //      put the line stdout-last, but stdout/stderr interleave in the
    //      combined capture and buffered stderr [bench] lines landed after
    //      it, pushing the JSON head outside the ~2 KB window;
    //  (c) stdout, for any consumer that greps the full log.
    // So: write the file first, stop Spark (log level WARN ⇒ shutdown is
    // silent on stderr), then print the line LAST on both streams with
    // explicit flushes — stderr very last, since that is what the bounded
    // tail demonstrably preserves.
    try {
      val w = new java.io.PrintWriter(
        new java.io.File("BENCH_SUMMARY.json"), "UTF-8")
      try w.println(summary) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_SUMMARY.json write failed: ${e.getMessage}")
    }
    spark.stop()
    // sentinel-prefixed copy FIRST: a consumer that can't rely on "last
    // line" (sbt appends its [success] epilogue after us) can grep for the
    // stable prefix instead on either stream
    println(s"BENCH_JSON $summary")
    System.err.println(s"BENCH_JSON $summary")
    println(summary)
    System.out.flush()
    System.err.println(summary)
    System.err.flush()
    // A run with failed entries must not read as success: round 9 shipped 48
    // errors under rc=0. The JSON (with its errors array) is already printed
    // and BENCH_SUMMARY.json written, so a non-zero exit loses nothing for
    // parsers while making the failure machine-visible to rc checks.
    // (run / fork := true ⇒ the exit code propagates out of sbt.)
    if (errors.nonEmpty) {
      System.err.println(s"BENCH_ERRORS ${errors.size}: ${errors.toSeq.sorted.mkString(",")}")
      System.err.flush()
      sys.exit(1)
    }
  }
}
