package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.StreamingDailyStats

/** Round-14 directive #5: the COMPLETE eleven-monitor composition
  * ([[Pipelines.monitorFrames]] — the literal body Bench times as
  * pipeline_monitor) runs off a foreachBatch-written streamed daily sink
  * and equals the batch suite row-for-row on the closed days.
  * StreamingDailyStatsSpec pins individual monitors off a memory sink;
  * THIS spec pins the full composed suite off a durable sink written the
  * way a production dashboard job actually lands it.
  */
class StreamingMonitorParitySpec extends SparkSpec {

  test("the full eleven-monitor suite off the foreachBatch daily sink " +
      "equals the batch suite row-for-row on closed days") {
    val ev = Tables.events(spark, sfDir)
    val probe = ev.select(col("event_id"), col("event_type"),
      col("value"), col("ts"))

    val dir = tempDir("graft-smp-")
    // two input files so the stream actually runs multiple micro-batches
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    probe.filter(unix_micros(col("ts")) < cut).coalesce(1)
      .write.parquet(s"$dir/in")
    probe.filter(unix_micros(col("ts")) >= cut).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    val daily = StreamingDailyStats.windowDailyStats(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "ts", "value", "event_type", watermark = Some("0 seconds"))
    val sink = s"$dir/daily_sink"
    val q = daily.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(sink)
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val sinkDaily = spark.read.parquet(sink)
    assert(sinkDaily.count() > 0, "the streamed sink must have closed days")
    // append mode holds the watermark-open last day back: restrict the
    // batch frame to the days the stream closed
    val lastDay = sinkDaily.agg(max(col("day"))).collect()(0).getString(0)
    val batchDaily = EventAnalytics
      .dailyStats(ev, "ts", "value", "event_type")
      .filter(col("day") <= lit(lastDay))

    // row-for-row parity of sink vs batch daily first (the input frames
    // the two suites consume must already be identical)...
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
    assert(rows(sinkDaily.select("grp", "day", "ds", "dc", "dm")) ===
      rows(batchDaily.select("grp", "day", "ds", "dc", "dm")))

    // ...then the full composed suite, one monitor at a time, the same
    // (name, frame) list the bench entry times
    val live = Pipelines.monitorFrames(sinkDaily)
    val batch = Pipelines.monitorFrames(batchDaily)
    assert(live.map(_._1) === batch.map(_._1))
    assert(live.size === 11)
    live.zip(batch).foreach { case ((name, l), (_, b)) =>
      assert(rows(l) === rows(b), s"monitor $name diverged stream vs batch")
    }
  }
}
