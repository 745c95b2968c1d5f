package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.StreamingVelocity

/** Pins the streaming velocity features: ordered replay across
  * micro-batches equals the batch RANGE-frame operator per event, and a
  * trailing window spanning the batch boundary requires state.
  */
class StreamingVelocitySpec extends SparkSpec {

  test("ordered replay equals batch rollingCounts row-for-row") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("tsu", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("tsu"), col("value"))
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    val dir = tempDir("graft-svel-")
    ev.filter(col("tsu") < cut).coalesce(1).write.parquet(s"$dir/in")
    ev.filter(col("tsu") >= cut).coalesce(1).write.mode("append").parquet(s"$dir/in")

    val lookback = 6L * 3600L * 1000000L
    val stream = StreamingVelocity.features(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "tsu", "value", "event_id", lookback)
    val q = stream.toDF().writeStream.format("memory").queryName("svel")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        r.getAs[Long]("id") -> ((r.getAs[Long]("prev_n"), r.getAs[Long]("prev_sum_micro")))
      val streamed = spark.table("svel").collect().map(key).toMap
      val batch = EventAnalytics.rollingCounts(ev, "user_id", "tsu", "value", "event_id", lookback)
        .collect().map(key).toMap
      assert(streamed === batch, "every event's trailing features must match the batch frame")
      assert(batch.values.exists(_._1 > 0) && batch.values.exists(_._1 == 0),
        "corpus exercises both empty and non-empty trailing windows")
    } finally q.stop()
  }

  test("a trailing window spanning the batch boundary requires state") {
    import spark.implicits._
    val dir = tempDir("graft-svel2-")
    Seq((1L, 9L, 100L, 2.0)).toDF("event_id", "user_id", "tsu", "value")
      .coalesce(1).write.parquet(s"$dir/in")
    Seq((2L, 9L, 500L, 3.0)).toDF("event_id", "user_id", "tsu", "value")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val stream = StreamingVelocity.features(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "tsu", "value", "event_id", lookbackMicros = 1000L)
    val q = stream.toDF().writeStream.format("memory").queryName("svel2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("svel2").collect()
        .map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("prev_n"), r.getAs[Long]("prev_sum_micro"))))
        .toMap
      assert(got(1L) === ((0L, 0L)))
      assert(got(2L) === ((1L, 2000000L)),
        "the batch-1 event must be visible from state in batch 2")
    } finally q.stop()
  }
}
