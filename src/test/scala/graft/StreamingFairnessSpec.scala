package graft

import org.apache.spark.sql.functions._

import graft.operators.ModelEval
import graft.streaming.StreamingFairness

/** Pins the streaming fairness monitor to the batch audit: windowed
  * cohort confusion counts replayed across micro-batches, reduced with
  * the shared arithmetic, must equal ModelEval.fairnessGaps run directly
  * on each closed day's slice.
  */
class StreamingFairnessSpec extends SparkSpec {

  test("streamed window gaps == batch fairnessGaps per closed day") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"),
        concat(lit("c"), (col("user_id") % 4).cast("string")).as("g"),
        (get_json_object(col("props"), "$.k").cast("bigint") >= 50)
          .cast("bigint").as("y"),
        (col("value") >= 0.5).cast("bigint").as("p"))

    val dir = tempDir("graft-sfair-")
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    ev.filter(unix_micros(col("ts")) < cut).coalesce(1).write.parquet(s"$dir/in")
    ev.filter(unix_micros(col("ts")) >= cut).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    val counts = StreamingFairness.windowCohortCounts(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "g", "y", "p", "ts", windowDuration = "1 day", watermark = "0 seconds")
    val q = counts.writeStream.format("memory").queryName("sfair")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingFairness.gapsOfCounts(spark.table("sfair"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

    // batch truth per closed day (append mode holds the last day open)
    val dayUs = 86400000000L
    val withDay = ev.withColumn("day_us",
      expr(s"(unix_micros(ts) DIV ${dayUs}L) * ${dayUs}L"))
    val days = withDay.select(col("day_us")).distinct()
      .collect().map(_.getLong(0)).sorted.dropRight(1)
    val batch = days.flatMap { d =>
      ModelEval.fairnessGaps(
          withDay.filter(col("day_us") === d), "g", "y", "p")
        .collect().map(r => (d, r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getLong(7))))
    }.toMap
    assert(streamed === batch,
      "windowed streaming gaps must equal the batch audit per closed day")
  }

  test("a window where one cohort has no negatives keeps the fpr sentinel " +
      "out of the max") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // cohort A: one pos selected (tpr 1, fpr from 1 neg selected);
    // cohort B: all positive (fpr sentinel)
    val rows = Seq(
      ("A", 1L, 1L, ts(1000)), ("A", 0L, 1L, ts(2000)),
      ("B", 1L, 1L, ts(3000)), ("B", 1L, 0L, ts(4000)),
      // a second day so the first one closes under the watermark
      ("A", 0L, 0L, ts(90000000)))
      .toDF("g", "y", "p", "ts")
    val dir = tempDir("graft-sfair2-")
    rows.coalesce(1).write.parquet(s"$dir/in")
    val counts = StreamingFairness.windowCohortCounts(
      spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "g", "y", "p", "ts", windowDuration = "1 day", watermark = "0 seconds")
    val q = counts.writeStream.format("memory").queryName("sfair2")
      .outputMode("append").start()
    val got = try {
      q.processAllAvailable()
      StreamingFairness.gapsOfCounts(spark.table("sfair2"))
        .collect().map(r => r.getString(1) ->
          ((r.getLong(5), r.getLong(8)))).toMap
    } finally q.stop()
    // fpr: A = 1e6 (1 of 1 neg selected), B = -1 sentinel -> A's gap is 0
    // against the non-sentinel max and B keeps -1
    assert(got("A") === ((1000000L, 0L)))
    assert(got("B") === ((-1L, -1L)))
  }
}
