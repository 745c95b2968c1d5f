package graft

import org.apache.spark.sql.functions._

import graft.operators.ModelEval
import graft.streaming.{StreamingCvm, StreamingKs}

/** Pins the streaming Cramér–von Mises drift monitor to the batch
  * reduction: the FOURTH consumer of the one streamed value histogram
  * (after KS, EMD, rank-sum) — windowed counts merged against the
  * reference per closed day must equal cvmFromCounts on that day's grid,
  * and a reference scored against itself reads T = 0 / no drift.
  */
class StreamingCvmSpec extends SparkSpec {

  test("streamed window CvM == batch reduction per closed day") {
    val ev = Tables.events(spark, sfDir)
    val refCounts = StreamingKs.referenceValueCounts(ev, "event_type", "value")
      .cache()

    val dir = tempDir("graft-scvm-")
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
    val q = counts.writeStream.format("memory").queryName("scvm")
      .outputMode("append").start()
    val streamed = try {
      q.processAllAvailable()
      StreamingCvm.cvmOfCounts(spark.table("scvm"), refCounts)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

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
      ModelEval.cvmFromCounts(merged, Seq("grp"))
        .collect().map(r => (d, r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    }.toMap
    assert(streamed === batch,
      "windowed streaming CvM must equal the batch reduction per closed day")
  }

  test("reference scored against itself reads T = 0 and no drift") {
    import spark.implicits._
    val ref = (0 until 100).map(i => (i.toLong, "G", (i % 8) * 0.25))
      .toDF("id", "g", "v")
    val refCounts = StreamingKs.referenceValueCounts(ref, "g", "v")
    val selfCounts = ref
      .groupBy(lit(0L).as("win_start_us"), col("g").as("grp"),
        round(col("v") * lit(1e6)).cast("bigint").as("sm"))
      .agg(count(lit(1)).as("d"))
    val got = StreamingCvm.cvmOfCounts(selfCounts, refCounts).collect()
    assert(got.length === 1)
    assert(got.head.getLong(4) === 0L && got.head.getLong(5) === 0L)
  }
}
