package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.StreamingSessionize

/** Pins streaming sessionization: ordered replay across micro-batches
  * equals the batch gaps-and-islands operator per event, and a session
  * continuing across the batch boundary requires state.
  */
class StreamingSessionizeSpec extends SparkSpec {

  test("ordered replay equals batch sessionize row-for-row") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("tsu", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("tsu"))
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    val dir = tempDir("graft-ssess-")
    ev.filter(col("tsu") < cut).coalesce(1).write.parquet(s"$dir/in")
    ev.filter(col("tsu") >= cut).coalesce(1).write.mode("append").parquet(s"$dir/in")

    val gap = 6L * 3600L * 1000000L
    val stream = StreamingSessionize.assign(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "tsu", "event_id", gap)
    val q = stream.toDF().writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssess").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("session_idx")).toMap
      val batch = EventAnalytics.sessionize(ev, "user_id", "tsu", "event_id", gap)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("session_idx")).toMap
      assert(streamed === batch, "per-event session ids must match the batch operator")
      assert(batch.values.max > 1L, "corpus produces multi-session users")
    } finally q.stop()
  }

  test("a session continuing across the batch boundary requires state") {
    import spark.implicits._
    val dir = tempDir("graft-ssess2-")
    Seq((1L, 4L, 100L), (2L, 4L, 5000L)).toDF("event_id", "user_id", "tsu")
      .coalesce(1).write.parquet(s"$dir/in")
    Seq((3L, 4L, 5500L)).toDF("event_id", "user_id", "tsu") // within gap of id=2
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val stream = StreamingSessionize.assign(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "tsu", "event_id", gapMicros = 1000L)
    val q = stream.toDF().writeStream.format("memory").queryName("ssess2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssess2").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("session_idx")).toMap
      assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 2L),
        "the batch-2 event joins session 2 only because state carried (lastTsu, idx)")
    } finally q.stop()
  }
}
