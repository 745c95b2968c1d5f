package graft

import org.apache.spark.sql.functions._

import graft.operators.ModelEval
import graft.streaming.{StreamingKs, StreamingRankSum}

/** Pins the streaming rank-sum location monitor to the batch reduction:
  * windowed value counts (the SAME feed StreamingKs consumes) merged
  * against the reference and reduced per closed day must equal
  * rankSumFromCounts run directly on that day's (reference vs window)
  * count grid — and a reference scored against itself reads dev 0 /
  * not significant (every value block splits its doubled ranks evenly).
  */
class StreamingRankSumSpec extends SparkSpec {

  test("streamed window rank-sum == batch reduction per closed day") {
    val ev = Tables.events(spark, sfDir)
    val refCounts = StreamingKs.referenceValueCounts(ev, "event_type", "value")
      .cache()

    val dir = tempDir("graft-srs-")
    val probe = ev.select(col("event_id"), col("event_type"), col("value"), col("ts"))
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    probe.filter(unix_micros(col("ts")) < cut).coalesce(1).write.parquet(s"$dir/in")
    probe.filter(unix_micros(col("ts")) >= cut).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    val counts = StreamingKs.windowValueCounts(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "event_type", "value", "ts",
      windowDuration = "1 day", watermark = "0 seconds")
    val q = counts.writeStream.format("memory").queryName("srs")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingRankSum.rankSumOfCounts(spark.table("srs"), refCounts)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
        .toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

    // batch truth per closed day: reference as side a, the day slice as
    // side b, on the merged support
    val dayUs = 86400000000L
    val withDay = ev.withColumn("day_us",
      expr(s"(unix_micros(ts) DIV ${dayUs}L) * ${dayUs}L"))
    val days = withDay.select(col("day_us")).distinct()
      .collect().map(_.getLong(0)).sorted.dropRight(1)
    val batch = days.flatMap { d =>
      val slice = withDay.filter(col("day_us") === d)
        .groupBy(col("event_type").as("grp"),
          round(col("value") * lit(1e6)).cast("bigint").as("sm"))
        .agg(count(lit(1)).as("cb"))
      val merged = refCounts
        .select(col("grp").as("rg"), col("sm").as("rs"), col("c").as("ca"))
        .join(slice, col("rg") === col("grp") && col("rs") === col("sm"),
          "full_outer")
        .select(coalesce(col("rg"), col("grp")).as("grp"),
          coalesce(col("rs"), col("sm")).as("sm"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      ModelEval.rankSumFromCounts(merged, Seq("grp"))
        .collect().map(r => (d, r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    }.toMap
    assert(streamed === batch,
      "windowed streaming rank-sum must equal the batch reduction per closed day")
  }

  test("reference scored against itself shows no shift and no significance") {
    import spark.implicits._
    val ref = (0 until 100).map(i => (i.toLong, "G", (i % 8) * 0.25))
      .toDF("id", "g", "v")
    val refCounts = StreamingKs.referenceValueCounts(ref, "g", "v")
    val selfCounts = ref
      .groupBy(lit(0L).as("win_start_us"), col("g").as("grp"),
        round(col("v") * lit(1e6)).cast("bigint").as("sm"))
      .agg(count(lit(1)).as("d"))
    val got = StreamingRankSum.rankSumOfCounts(selfCounts, refCounts).collect()
    assert(got.length === 1)
    // identical distributions: shift_sign 0, not significant
    assert(got.head.getLong(5) === 0L && got.head.getLong(6) === 0L)
  }
}
