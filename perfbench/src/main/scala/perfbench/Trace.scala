package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark observes from outside the engine: Spark's
  * public listeners, the codegen counters, JVM beans and the benchmark's
  * own spans around calls into each layer.
  *
  * Streaming progress is always observed (the open-loop latencies need it);
  * the per-layer listeners and spans are installed only when `traced`.
  * Counters cover the timed window only: every event is attributed by its
  * own timestamp, since listener events arrive asynchronously.
  */
final class Trace(spark: SparkSession, val traced: Boolean) {
  import Trace._

  // the timed window: closed segments plus the open one, if any
  @volatile private var segments = Vector.empty[(Long, Long)]
  @volatile private var openSince = Long.MaxValue
  private def inWindow(ms: Long): Boolean =
    ms >= openSince || segments.exists { case (a, b) => ms >= a && ms <= b }

  private val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = math.max(counters.getOrElse(k, 0.0), v)
  }
  def get(k: String): Double = counters.synchronized(counters.getOrElse(k, 0.0))

  /** Nanoseconds spent inside the benchmark's own trace hooks. */
  private val hookNanos = new java.util.concurrent.atomic.AtomicLong
  private def hook[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally hookNanos.addAndGet(System.nanoTime() - t0)
  }

  // spans: entries are keyed so jobs can be tied to them through the job
  // group (batch entries) or the streaming query id + batch id (micro-batches)
  private val entries = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[Span]
  private val stages = mutable.ArrayBuffer.empty[Span]
  private val jobStartMs = mutable.HashMap.empty[Int, (Long, String)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var rddBytes = 0L

  /** Streaming progress, per query name, in arrival order. */
  val progress = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = hook {
      val p = e.progress
      progress.synchronized {
        progress.getOrElseUpdate(p.name, mutable.ArrayBuffer.empty) += e
      }
      if (traced) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        entries.synchronized {
          entries += Span(s"${p.id}/${p.batchId}", "batch", s"${p.name}#${p.batchId}", start, start + dur)
        }
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = hook {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val key = (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
        case (Some(q), Some(b)) => s"$q/$b"
        case _ => prop("spark.jobGroup.id").getOrElse("")
      }
      jobs.synchronized {
        jobStartMs(e.jobId) = (e.time, key)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = hook {
      jobs.synchronized {
        jobStartMs.remove(e.jobId).foreach { case (start, key) =>
          if (inWindow(e.time)) {
            jobs += Span(key, "job", e.jobId.toString, start, e.time)
            add("catalyst.jobs", 1)
          }
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = hook {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime if inWindow(c)) {
        add("catalyst.stages", 1)
        val job = jobs.synchronized(stageJob.getOrElse(i.stageId, -1))
        stages.synchronized { stages += Span(job.toString, "stage", i.stageId.toString, s, c) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = hook {
      val info = e.taskInfo
      val m = e.taskMetrics
      if (info != null && m != null && inWindow(info.finishTime)) {
        add("executor.tasks", 1)
        add("executor.task_run_ms", m.executorRunTime.toDouble)
        add("executor.task_cpu_ms", m.executorCpuTime / 1e6)
        add("executor.task_gc_ms", m.jvmGCTime.toDouble)
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        add("executor.scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult).toDouble)
        add("executor.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("executor.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("executor.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("executor.spill_memory_bytes", m.memoryBytesSpilled.toDouble)
        add("executor.spill_disk_bytes", m.diskBytesSpilled.toDouble)
        add("executor.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("executor.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = hook {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) rddBlocks.synchronized {
        val size = b.memSize + b.diskSize
        rddBytes += size - rddBlocks.getOrElse(b.blockId.name, 0L)
        if (size == 0) rddBlocks.remove(b.blockId.name) else rddBlocks(b.blockId.name) = size
        if (inWindow(System.currentTimeMillis())) max("executor.storage_peak_bytes", rddBytes.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = hook {
      val phases = qe.tracker.phases
      phases.foreach { case (phase, s) =>
        if (inWindow(s.startTimeMs)) phase match {
          case "analysis" => add("catalyst.analysis_ms", s.durationMs.toDouble)
          case "optimization" => add("catalyst.optimization_ms", s.durationMs.toDouble)
          case "planning" => add("catalyst.planning_ms", s.durationMs.toDouble)
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` as one entry span (a query, a pipeline, a staging step):
    * its jobs carry the entry's name as their job group.
    */
  def entry[T](kind: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      if (traced) entries.synchronized { entries += Span(name, kind, name, t0, t1) }
    }
  }

  private var gc0 = (0L, 0L)
  private var codegen0 = (0L, 0L)
  private def wallMs: Long = segments.map { case (a, b) => b - a }.sum

  /** Opens the timed window: counters from here on count. */
  def startTimed(): Long = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    hookNanos.set(0)
    resume()
  }

  /** Opens a segment of the timed window. */
  def resume(): Long = {
    gc0 = gcTotals()
    codegen0 = codegenTotals()
    openSince = System.currentTimeMillis()
    openSince
  }

  /** Closes the open segment: untimed work (a check) follows. */
  def pause(): Long = {
    val now = System.currentTimeMillis()
    segments :+= (openSince -> now)
    openSince = Long.MaxValue
    val (n1, ms1) = gcTotals()
    add("jvm.gc_count", (n1 - gc0._1).toDouble)
    add("jvm.gc_ms", (ms1 - gc0._2).toDouble)
    val (n2, ns2) = codegenTotals()
    add("catalyst.codegen_compiles", (n2 - codegen0._1).toDouble)
    add("catalyst.codegen_compile_ms", (ns2 - codegen0._2) / 1e6)
    now
  }

  /** Closes the timed window and waits until every listener event raised
    * inside it has been delivered.
    */
  def stopTimed(): Long = {
    val now = pause()
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    add("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    now
  }

  /** Per-layer metrics derived from the counters and the spans.
    *
    * Wall time is split exactly into four layers by interval sets:
    * uncovered (no entry running: the benchmark's own loop), entry self
    * (an entry running but none of its jobs: driver-side analysis,
    * planning, codegen and build work), job self (a job running but none
    * of its stages: scheduling) and stage time (executors busy).
    */
  def layerMetrics(cores: Int): Map[String, Double] = {
    val (s0, s1) = (segments.head._1, segments.last._2)
    val timed = Intervals.of(segments)
    def inTimed(xs: Seq[Span]) = xs.filter(x => timed.intersect(Intervals.of(Seq(x.start -> x.end))).length > 0)
    val ents = inTimed(entries.synchronized(entries.toList).map(_.clip(s0, s1)))
    val js = inTimed(jobs.synchronized(jobs.toList).map(_.clip(s0, s1)))
    val sts = inTimed(stages.synchronized(stages.toList).map(_.clip(s0, s1)))
    val e = timed.intersect(Intervals.of(ents.map(x => (x.start, x.end))))
    val ej = e.intersect(Intervals.of(js.map(x => (x.start, x.end))))
    val ejs = ej.intersect(Intervals.of(sts.map(x => (x.start, x.end))))
    val uncovered = wallMs - e.length
    writeSpans(ents, js, sts, s0, s1)
    counters.synchronized(counters.toMap) ++ Map(
      "executor.busy_share" -> get("executor.task_run_ms") / math.max(1.0, wallMs.toDouble * cores),
      "trace.spans" -> (ents.size + js.size + sts.size + 1).toDouble,
      "trace.entry_self_ms" -> (e.length - ej.length).toDouble,
      "trace.job_self_ms" -> (ej.length - ejs.length).toDouble,
      "trace.stage_ms" -> ejs.length.toDouble,
      "trace.uncovered_ms" -> uncovered.toDouble,
      "trace.uncovered_share" -> uncovered / math.max(1.0, wallMs.toDouble),
      "bench.trace_overhead_share" -> hookNanos.get / 1e6 / math.max(1.0, wallMs.toDouble))
  }

  var spanFile: Option[java.io.File] = None
  var runId: String = ""

  /** One JSON object per span: the workload, then entries, jobs, stages. */
  private def writeSpans(ents: Seq[Span], js: Seq[Span], sts: Seq[Span], s0: Long, s1: Long): Unit =
    spanFile.foreach { f =>
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      def line(id: String, parent: String, kind: String, name: String, a: Long, b: Long): Unit = {
        val o = new java.util.LinkedHashMap[String, Any]
        Seq("run" -> runId, "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
          "start_ms" -> a, "end_ms" -> b).foreach { case (k, v) => o.put(k, v) }
        w.println(Json.mapper.writeValueAsString(o))
      }
      // an entry can run more than once, so entry ids are their index; a
      // job's parent is the run of its entry that was open when it started
      def during(j: Span)(e: Span) = e.start <= j.start && j.start <= e.end
      def parentOf(j: Span): String = {
        val i = ents.indexWhere(e => e.key == j.key && during(j)(e))
        val k = if (i >= 0) i else ents.indexWhere(during(j))
        if (k >= 0) s"e:$k" else "w"
      }
      try {
        line("w", "", "workload", runId, s0, s1)
        ents.zipWithIndex.foreach { case (e, i) => line(s"e:$i", "w", e.kind, e.name, e.start, e.end) }
        js.foreach(j => line(s"j:${j.name}", parentOf(j), "job", j.name, j.start, j.end))
        sts.foreach(s => line(s"s:${s.name}", s"j:${s.key}", "stage", s.name, s.start, s.end))
      } finally w.close()
    }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}

/** A set of time, as sorted disjoint [start, end) intervals. */
final case class Intervals private (iv: List[(Long, Long)]) {
  def length: Long = iv.map { case (a, b) => b - a }.sum
  def intersect(o: Intervals): Intervals = {
    val out = List.newBuilder[(Long, Long)]
    var (x, y) = (iv, o.iv)
    while (x.nonEmpty && y.nonEmpty) {
      val ((a1, b1), (a2, b2)) = (x.head, y.head)
      val (a, b) = (math.max(a1, a2), math.min(b1, b2))
      if (a < b) out += (a -> b)
      if (b1 < b2) x = x.tail else y = y.tail
    }
    new Intervals(out.result())
  }
}

object Intervals {
  def of(raw: Seq[(Long, Long)]): Intervals = {
    val merged = raw.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, x) => x :: acc
    }
    new Intervals(merged.reverse)
  }
}

/** `key` ties a span to its parent: an entry's own key, a job's entry key,
  * a stage's job id.
  */
final case class Span(key: String, kind: String, name: String, start: Long, end: Long) {
  def clip(a: Long, b: Long): Span = copy(start = math.max(start, a), end = math.min(end, b))
}

object Trace {
  def gcTotals(): (Long, Long) =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foldLeft((0L, 0L)) { case ((n, ms), b) =>
      (n + math.max(0L, b.getCollectionCount), ms + math.max(0L, b.getCollectionTime))
    }

  /** Classes compiled by this JVM so far, and the nanoseconds spent
    * compiling them (`CodeGenerator`'s own running total).
    */
  def codegenTotals(): (Long, Long) =
    (org.apache.spark.PerfbenchAccess.codegenCompiles,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Percentile by nearest rank; NaN for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}
