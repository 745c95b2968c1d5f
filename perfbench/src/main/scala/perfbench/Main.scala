package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]; `checks` are the named
  * output checks.
  */
final case class Result(
    firstTimedMs: Long,
    metrics: Map[String, Double], attempted: Int, failedOps: Int,
    checks: Seq[(String, Boolean)])

final case class Ctx(
    spark: SparkSession, trace: Trace, seed: Long, seconds: Int, cores: Int,
    work: String, data: String, expectedDir: String) {
  /** Logs to stderr with the JVM's uptime, so phase times can be read off. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")
}

/** JVM side of the benchmark: runs one workload in one Spark session and
  * writes its raw result as JSON for `run.py`.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C --run-id ID
  *        --work DIR --data DIR --expected DIR --out FILE [--spans FILE]
  */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftFunctions.registerAggregates(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = o("cores").toInt
    val work = o("work")
    val spark = session(cores, work)
    val trace = new Trace(spark, o("trace") == "1")
    trace.runId = o("run-id")
    trace.spanFile = o.get("spans").map(new java.io.File(_))
    val ctx = Ctx(spark, trace, o("seed").toLong, o("seconds").toInt, cores, work,
      o.getOrElse("data", ""), o("expected"))
    val res = o("workload") match {
      case "trade_stream" => TradeStream.run(ctx)
      case "batch_mix" => BatchMix.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try trace.close() catch { case _: Exception => () }
    SparkSession.getActiveSession.foreach(_.stop())
    spark.stop()
    val failedChecks = res.checks.count(!_._2)
    res.checks.filterNot(_._2).foreach { case (n, _) => ctx.log(s"check failed: $n") }
    val metrics = res.metrics + ("jvm.peak_rss_mb" -> vmHwmMb())
    val body = new java.util.LinkedHashMap[String, Any]
    body.put("correct", failedChecks == 0)
    body.put("attempted", res.attempted + res.checks.size)
    body.put("failed", res.failedOps + failedChecks)
    body.put("first_timed_ms", res.firstTimedMs)
    body.put("metrics", metrics.map { case (k, v) =>
      k -> (if (v.isNaN || v.isInfinite) null else Double.box(v))
    }.asJava)
    Json.mapper.writeValue(new java.io.File(o("out")), body)
  }

  /** High-water resident set of this process, in MiB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** The JSON codec of the benchmark's files. */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
