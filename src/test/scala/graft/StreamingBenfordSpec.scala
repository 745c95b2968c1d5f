package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingBenford

/** Pins the streaming Benford monitor to the batch twin: windowed digit
  * counts replayed across micro-batches and reduced with the shared
  * benfordOfCounts must equal batchWindowBenford per closed day — and
  * the per-day rows must carry exactly 9 digits each.
  */
class StreamingBenfordSpec extends SparkSpec {

  test("streamed window Benford == batch twin per closed day on the " +
      "replayed corpus") {
    val ev = Tables.events(spark, sfDir)
    val probe = ev.select(col("event_id"), col("value"), col("ts"))

    val dir = tempDir("graft-sbf-")
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    probe.filter(unix_micros(col("ts")) < cut).coalesce(1)
      .write.parquet(s"$dir/in")
    probe.filter(unix_micros(col("ts")) >= cut).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    val counts = StreamingBenford.windowDigitCounts(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "value", "ts", windowDuration = "1 day", watermark = Some("0 seconds"))
    val q = counts.writeStream.format("memory").queryName("sbf")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingBenford.benfordOfWindows(spark.table("sbf"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6)))).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)
    // append mode holds the last day open — batch truth drops it too
    val lastDay = streamed.keys.map(_._1).max
    val batch = StreamingBenford.batchWindowBenford(ev, "value", "ts", "1 day")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
      .filter { case ((w, _), _) => w < lastDay || streamed.contains((w, 1)) }
    val closedBatch = batch.filter { case ((w, _), _) => streamed.contains((w, 1)) }
    assert(streamed === closedBatch,
      "windowed streaming Benford must equal the batch twin per closed day")
    // every reported window carries exactly its 9 digit rows
    streamed.keys.groupBy(_._1).foreach { case (w, ks) =>
      assert(ks.map(_._2).toSet === (1 to 9).toSet, s"window $w digit grid")
    }
  }
}
