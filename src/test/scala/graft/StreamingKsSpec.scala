package graft

import org.apache.spark.sql.functions._

import graft.operators.ModelEval
import graft.streaming.StreamingKs

/** Pins the streaming KS drift monitor to the batch test: windowed value
  * counts replayed across micro-batches, merged against the reference
  * table, must equal ModelEval.ksTest run directly on (reference ∪ day
  * slice) rows — and the reference-vs-itself window reads D = 0.
  */
class StreamingKsSpec extends SparkSpec {

  test("streamed window KS == batch ksTest per closed day on the replayed corpus") {
    val ev = Tables.events(spark, sfDir)
    val refCounts = StreamingKs.referenceValueCounts(ev, "event_type", "value")
      .cache()

    val dir = tempDir("graft-sks-")
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
    val q = counts.writeStream.format("memory").queryName("sks")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingKs.ksOfCounts(spark.table("sks"), refCounts)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

    // batch truth per closed day: ksTest over reference rows (side 0)
    // union that day's slice (side 1), one synthetic group per
    // (day, event_type). Append mode holds the last day open — the
    // standard contract, so batch truth drops it too.
    val dayUs = 86400000000L
    val withDay = ev.withColumn("day_us",
      expr(s"(unix_micros(ts) DIV ${dayUs}L) * ${dayUs}L"))
    val days = withDay.select(col("day_us")).distinct()
      .collect().map(_.getLong(0)).sorted.dropRight(1)
    val batch = days.flatMap { d =>
      val rows = ev.select(col("event_type"), col("value"), lit(0L).as("side"))
        .unionByName(withDay.filter(col("day_us") === d)
          .select(col("event_type"), col("value"), lit(1L).as("side")))
      ModelEval.ksTest(rows, "event_type", "value", "side")
        .collect().map(r => (d, r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    }.toMap
    assert(streamed === batch,
      "windowed streaming KS must equal the batch two-sample test per closed day")
  }

  test("reference scored against itself reads D = 0") {
    import spark.implicits._
    val ref = (0 until 100).map(i => (i.toLong, "G", (i % 8) * 0.25))
      .toDF("id", "g", "v")
    val refCounts = StreamingKs.referenceValueCounts(ref, "g", "v")
    val counts = refCounts.select(lit(0L).as("win_start_us"), col("grp"),
      col("sm"), col("c").as("d"))
    val got = StreamingKs.ksOfCounts(counts, refCounts).collect()
    assert(got.length === 1)
    assert(got.head.getLong(4) === 0L, "identical distributions -> D = 0")
  }
}
