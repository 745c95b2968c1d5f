package graft

import org.apache.spark.sql.functions._

/** Streaming deduplication: dropDuplicates (exact, unbounded state) and
  * dropDuplicatesWithinWatermark (bounded state — the 100 TB form, where
  * the state store holds only keys younger than the watermark).
  */
class StreamingDedupSpec extends SparkSpec {

  test("streaming dropDuplicates removes redelivered events exactly") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value"))
    val dir = tempDir("graft-sdd-")
    // simulate at-least-once redelivery: the same events in two files
    ev.coalesce(1).write.parquet(s"$dir/a")
    ev.coalesce(1).write.parquet(s"$dir/b")

    val stream = spark.readStream.schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*")
      .dropDuplicates("event_id")
    val q = stream.writeStream.format("memory").queryName("sdd")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sdd").count() === ev.count())
      assert(spark.table("sdd").select("event_id").distinct().count() === ev.count())
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark bounds dedup state by event time") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value"))
    val dir = tempDir("graft-sddw-")
    ev.coalesce(1).write.parquet(s"$dir/a")
    ev.coalesce(1).write.parquet(s"$dir/b")

    val stream = spark.readStream.schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*")
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream.format("memory").queryName("sddw")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // duplicates arrive within the watermark window here, so the result
      // matches exact dedup; at scale the state stays bounded
      assert(spark.table("sddw").select("event_id").distinct().count() === ev.count())
    } finally q.stop()
  }
}
