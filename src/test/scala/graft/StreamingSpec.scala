package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.EwmaPipeline

/** Deterministic replay test of the streaming EWMA pipeline: the file
  * source replays events.parquet in micro-batches; the final memory-sink
  * contents must equal the batch plan on the same data (SURVEY.md §5.2-3).
  */
class StreamingSpec extends SparkSpec {

  test("replay state partitions follow the per-trigger budget, not the " +
      "corpus size") {
    // a 4 GB corpus replays in 512 MB triggers: 512 MB / 16 MB = 32
    // state shards, not 4 GB / 16 MB = 256
    assert(Pipelines.replayStatePartitions(4L << 30) === 32)
    // below the budget the whole corpus is one trigger
    assert(Pipelines.replayStatePartitions(64L << 20) === 4)
  }

  test("file-replay windowed EWMA == batch windowed EWMA (complete mode)") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("tsl", col("ts").cast("long"))
      .cache()
    // write the normalized events as a MULTI-FILE parquet dir so the file
    // source actually gets several micro-batches
    val dir = Files.createTempDirectory("graft-stream-").toString
    ev.repartition(5).write.mode("overwrite").parquet(dir)

    val batchDf = EwmaPipeline.windowedEwmaBatch(
      spark.read.parquet(dir), "event_type", "ts", "tsl", "event_id", "value",
      periodSeconds = 3600)
    val want = batchDf.collect()
      .map(r => (r.getTimestamp(0), r.getString(2), r.getDouble(5), r.getLong(6)))
      .toSet

    val stream = EwmaPipeline.fileSource(
      spark, dir, spark.read.parquet(dir).schema, maxFilesPerTrigger = 2)
    // complete mode: no watermark needed for a finite replay; every window
    // is re-emitted, final table == batch result
    val agg = EwmaPipeline.windowedEwmaBatch(
      stream, "event_type", "ts", "tsl", "event_id", "value", periodSeconds = 3600)
    val q = agg.writeStream
      .format("memory")
      .queryName("ewma_replay")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("ewma_replay").collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getDouble(5), r.getLong(6)))
        .toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("windowed EWMA suppresses empty/zero windows (reference main.rs:118)") {
    import spark.implicits._
    val df = Seq(
      ("k", java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 1L, 1L, 0.0),
      ("k", java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, 2L, 0.0)
    ).toDF("key", "et", "tsl", "seq", "value")
    val out = EwmaPipeline.windowedEwmaBatch(df, "key", "et", "tsl", "seq", "value", 300)
    assert(out.count() === 0) // all-zero prices fold to 0 -> suppressed
  }
}
