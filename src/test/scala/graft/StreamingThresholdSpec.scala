package graft

import org.apache.spark.sql.functions._

import graft.operators.ModelEval
import graft.streaming.StreamingThreshold

/** Pins the streaming threshold monitor to the batch selector: windowed
  * score counts replayed across micro-batches, reduced with the shared
  * arithmetic, must equal ModelEval.thresholdForPrecision run directly
  * on each closed day's slice.
  */
class StreamingThresholdSpec extends SparkSpec {

  test("streamed window thresholds == batch selection per closed day") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"),
        (get_json_object(col("props"), "$.k").cast("bigint") >= 50)
          .cast("bigint").as("y"))

    val dir = tempDir("graft-sthr-")
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    ev.filter(unix_micros(col("ts")) < cut).coalesce(1).write.parquet(s"$dir/in")
    ev.filter(unix_micros(col("ts")) >= cut).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    val counts = StreamingThreshold.windowScoreCounts(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "event_type", "value", "y", "ts",
      windowDuration = "1 day", watermark = "0 seconds")
    val q = counts.writeStream.format("memory").queryName("sthr")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingThreshold.thresholdOfCounts(spark.table("sthr"), 600000L)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7)))).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

    val dayUs = 86400000000L
    val withDay = ev.withColumn("day_us",
      expr(s"(unix_micros(ts) DIV ${dayUs}L) * ${dayUs}L"))
    val days = withDay.select(col("day_us")).distinct()
      .collect().map(_.getLong(0)).sorted.dropRight(1)
    val batch = days.flatMap { d =>
      ModelEval.thresholdForPrecision(
          withDay.filter(col("day_us") === d), "event_type", "value", "y",
          targetPpm = 600000L)
        .collect().map(r => (d, r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6))))
    }.toMap
    assert(streamed === batch,
      "windowed streaming thresholds must equal the batch selector per closed day")
  }
}
