package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.StreamingDailyStats

/** Pins the streaming daily-stats stage to the batch dailyStats frame
  * per closed day, then proves the point of the stage: the LITERAL
  * batch FromDaily reductions (Mann-Kendall, MASE) run over the
  * streamed sink rows equal the batch monitors restricted to the same
  * closed days.
  */
class StreamingDailyStatsSpec extends SparkSpec {

  test("streamed daily stats == batch dailyStats per closed day, and " +
      "the FromDaily monitors ride the sink rows unchanged") {
    val ev = Tables.events(spark, sfDir)
    val probe = ev.select(col("event_id"), col("event_type"),
      col("value"), col("ts"))

    val dir = tempDir("graft-sds-")
    val cut = unix_micros(to_timestamp(lit("2024-01-16")))
    probe.filter(unix_micros(col("ts")) < cut).coalesce(1)
      .write.parquet(s"$dir/in")
    probe.filter(unix_micros(col("ts")) >= cut).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")

    val daily = StreamingDailyStats.windowDailyStats(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "ts", "value", "event_type", watermark = Some("0 seconds"))
    val q = daily.writeStream.format("memory").queryName("sds")
      .outputMode("append").start()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))
    val streamed = try {
      q.processAllAvailable()
      spark.table("sds").collect().map(key).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)
    // append mode holds the last (watermark-open) day back — compare on
    // the closed days only
    val lastDay = streamed.keys.map(_._2).max
    val batchAll = EventAnalytics.dailyStats(ev, "ts", "value", "event_type")
      .select(col("grp"), col("day"), col("ds"), col("dc"), col("dm"))
      .collect().map(key).toMap
    val closedBatch = batchAll.filter { case ((_, d), _) => d <= lastDay }
    assert(streamed === closedBatch,
      "streamed daily stats must equal batch dailyStats per closed day")

    // the payoff: LITERAL batch reductions over the streamed rows equal
    // the batch monitors over the same closed-day span
    import spark.implicits._
    val sinkDaily = streamed.toSeq
      .map { case ((g, d), (ds, dc, dm)) => (g, d, ds, dc, dm) }
      .toDF("grp", "day", "ds", "dc", "dm")
    val batchDaily = EventAnalytics
      .dailyStats(ev, "ts", "value", "event_type")
      .filter(col("day") <= lit(lastDay))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
    assert(rows(EventAnalytics.mannKendallFromDaily(sinkDaily)) ===
      rows(EventAnalytics.mannKendallFromDaily(batchDaily)))
    assert(rows(EventAnalytics.forecastBacktestFromDaily(sinkDaily)) ===
      rows(EventAnalytics.forecastBacktestFromDaily(batchDaily)))
    // the round-12 closers: PACF (via the shared ACF prefix) and the
    // Hyndman seasonal/trend strengths ride the same sink rows unchanged
    assert(rows(EventAnalytics.pacfFromAcf(
        EventAnalytics.acfFromDaily(sinkDaily, maxLag = 5))) ===
      rows(EventAnalytics.pacfFromAcf(
        EventAnalytics.acfFromDaily(batchDaily, maxLag = 5))))
    assert(rows(EventAnalytics.seasonalStrengthFromDaily(sinkDaily)) ===
      rows(EventAnalytics.seasonalStrengthFromDaily(batchDaily)))
    assert(rows(EventAnalytics.fanoFromDailyCounts(sinkDaily)) ===
      rows(EventAnalytics.fanoFromDailyCounts(batchDaily)))
    // the round-13 closers: runs-test and turning-point randomness
    // screens ride the same sink rows unchanged
    assert(rows(EventAnalytics.runsTestFromDaily(sinkDaily)) ===
      rows(EventAnalytics.runsTestFromDaily(batchDaily)))
    assert(rows(EventAnalytics.turningPointsFromDaily(sinkDaily)) ===
      rows(EventAnalytics.turningPointsFromDaily(batchDaily)))
    // and against the full-batch monitor restricted to closed days: the
    // trend verdicts agree when the open day is the only difference
    val full = EventAnalytics.mannKendall(ev, "ts", "value", "event_type")
      .select(col("grp"), col("trend"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val live = EventAnalytics.mannKendallFromDaily(sinkDaily)
      .select(col("grp"), col("trend"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(live.keySet === full.keySet)
  }
}
