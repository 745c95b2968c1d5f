package graft

import org.apache.spark.sql.functions._

import graft.operators.FeatureEng
import graft.streaming.StreamingDrift

/** Pins the streaming drift monitor to the batch PSI: windowed bin
  * counts replayed across micro-batches, reduced against the reference
  * table, must equal FeatureEng.psi computed directly per day — and the
  * reference-vs-itself window reads 0 drift.
  */
class StreamingDriftSpec extends SparkSpec {

  test("streamed window PSI == batch PSI per day on the replayed corpus") {
    val ev = Tables.events(spark, sfDir)
    val binW = 50000000L
    val refBins = FeatureEng.referenceBins(ev, "event_type", "value", binW).cache()

    val dir = tempDir("graft-sdrift-")
    val probe = ev.select(col("event_id"), col("event_type"), col("value"), col("ts"))
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    probe.filter(unix_micros(col("ts")) < cut).coalesce(1).write.parquet(s"$dir/in")
    probe.filter(unix_micros(col("ts")) >= cut).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    val counts = StreamingDrift.windowBinCounts(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "event_type", "value", "ts",
      windowDuration = "1 day", watermark = "0 seconds", binWidthMicro = binW)
    val q = counts.writeStream.format("memory").queryName("sdrift")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingDrift.psiOfCounts(spark.table("sdrift"), refBins)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

    // batch truth: per observed day, psi(ref corpus, that day's slice)
    val dayUs = 86400000000L
    val withDay = ev.withColumn("day_us",
      expr(s"(unix_micros(ts) DIV ${dayUs}L) * ${dayUs}L"))
    // append mode emits a window only once the watermark passes its end:
    // the LAST day's window stays open (nothing later advances the
    // watermark), so the batch truth covers all days but the final one —
    // the standard append-mode contract, not data loss
    val days = withDay.select(col("day_us")).distinct()
      .collect().map(_.getLong(0)).sorted.dropRight(1)
    val batch = days.flatMap { d =>
      FeatureEng.psi(ev, withDay.filter(col("day_us") === d), "event_type", "value", binW)
        .collect().map(r => (d, r.getString(0)) -> r.getLong(1))
    }.toMap
    assert(streamed === batch,
      "windowed streaming PSI must equal the batch monitor per closed day")
  }

  test("reference scored against itself reads zero drift") {
    import spark.implicits._
    val ref = (0 until 100).map(i => (i.toLong, "G", (i % 8) * 60.0))
      .toDF("id", "g", "v")
    val refBins = FeatureEng.referenceBins(ref, "g", "v", 50000000L)
    // a single "window" holding the same distribution
    val counts = refBins.select(lit(0L).as("win_start_us"), col("grp"),
      col("bin"), col("c").as("d"))
    val got = StreamingDrift.psiOfCounts(counts, refBins).collect()
    assert(got.length === 1 && got.head.getLong(2) === 0L)
  }
}
