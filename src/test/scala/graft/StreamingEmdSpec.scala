package graft

import org.apache.spark.sql.functions._

import graft.operators.ModelEval
import graft.streaming.{StreamingEmd, StreamingKs}

/** Pins the streaming EMD monitor to the batch reduction: windowed value
  * counts (the SAME feed StreamingKs consumes) merged against the
  * reference and reduced per closed day must equal emdFromCounts run
  * directly on that day's (window vs reference) count grid — and the
  * reference scored against itself reads 0.
  */
class StreamingEmdSpec extends SparkSpec {

  test("streamed window EMD == batch reduction per closed day on the corpus") {
    val ev = Tables.events(spark, sfDir)
    val refCounts = StreamingKs.referenceValueCounts(ev, "event_type", "value")
      .cache()

    val dir = tempDir("graft-semd-")
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
    val q = counts.writeStream.format("memory").queryName("semd")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingEmd.emdOfCounts(spark.table("semd"), refCounts)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

    // batch truth per closed day: the day slice as side a, the full
    // reference as side b, on the merged support
    val dayUs = 86400000000L
    val withDay = ev.withColumn("day_us",
      expr(s"(unix_micros(ts) DIV ${dayUs}L) * ${dayUs}L"))
    val days = withDay.select(col("day_us")).distinct()
      .collect().map(_.getLong(0)).sorted.dropRight(1)
    val batch = days.flatMap { d =>
      val slice = withDay.filter(col("day_us") === d)
        .groupBy(col("event_type").as("grp"),
          round(col("value") * lit(1e6)).cast("bigint").as("sm"))
        .agg(count(lit(1)).as("ca"))
      val merged = refCounts
        .select(col("grp").as("rg"), col("sm").as("rs"), col("c").as("cb"))
        .join(slice, col("rg") === col("grp") && col("rs") === col("sm"),
          "full_outer")
        .select(coalesce(col("rg"), col("grp")).as("grp"),
          coalesce(col("rs"), col("sm")).as("sm"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      ModelEval.emdFromCounts(merged, Seq("grp"))
        .collect().map(r => (d, r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3))))
    }.toMap
    assert(streamed === batch,
      "windowed streaming EMD must equal the batch reduction per closed day")
  }

  test("reference scored against itself reads EMD 0") {
    import spark.implicits._
    val ref = (0 until 100).map(i => (i.toLong, "G", (i % 8) * 0.25))
      .toDF("id", "g", "v")
    val refCounts = StreamingKs.referenceValueCounts(ref, "g", "v")
    val selfCounts = ref
      .groupBy(lit(0L).as("win_start_us"), col("g").as("grp"),
        round(col("v") * lit(1e6)).cast("bigint").as("sm"))
      .agg(count(lit(1)).as("d"))
    val got = StreamingEmd.emdOfCounts(selfCounts, refCounts).collect()
    assert(got.length === 1 && got.head.getLong(4) === 0L)
  }
}
