package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming daily-stats: the live form of
  * [[graft.operators.EventAnalytics.dailyStats]] — event-time 1-day
  * windows emit each (group, day)'s exact `(ds, dc, dm)` on window close
  * (append mode), with AT MOST one open (group, day) aggregate of state
  * per group. Because every series monitor in the family is written
  * `*FromDaily` over that exact frame, THIS single streaming stage makes
  * all of them live: feed the closed rows into a sink table and re-run
  * the LITERAL batch reductions — changepoint (q216), online CUSUM
  * (q220), STL (q224), ACF (q227), Mann-Kendall (q231), MASE (q234),
  * binary segmentation (q235) — over it each trigger. Batch and stream
  * cannot diverge: the stage-1 expressions are shared verbatim
  * ([[batchDailyStats]] is the SAME function without a watermark, and
  * `window(ts, '1 day').start ≡ date_trunc('day', ts)` in the UTC
  * session the engine pins), and the reductions are the already-oracled
  * batch functions (StreamingDailyStatsSpec pins both).
  *
  * State per open window is one (sum, count) pair per group — cheaper
  * than any fold twin; the trade is daily granularity on close instead
  * of per-event alarms ([[ContinuousCusum]] covers the per-event path).
  */
object StreamingDailyStats {

  /** Event-time windowed `(grp, day, ds, dc, dm)` on window close.
    * Identical expressions batch or stream — `window()` is the same
    * function either way.
    */
  def windowDailyStats(
      events: DataFrame, tsCol: String, valueCol: String,
      groupCol: String, watermark: Option[String]): DataFrame = {
    val base = watermark.fold(events)(events.withWatermark(tsCol, _))
    base
      .select(col(groupCol).as("grp"), col(tsCol).as("__ts"),
        graft.operators.DataPrep.micro(col(valueCol)).as("xm"))
      .groupBy(window(col("__ts"), "1 day").as("win"), col("grp"))
      .agg(sum(col("xm")).as("ds"), count(lit(1)).as("dc"))
      .select(col("grp"),
        date_format(col("win.start"), "yyyy-MM-dd").as("day"),
        col("ds"), col("dc"), expr("ds DIV dc").as("dm"))
  }

  /** Batch twin — bit-equal to
    * [[graft.operators.EventAnalytics.dailyStats]] (the q240 oracle
    * pins it): the SAME stage-1 expressions without a watermark.
    */
  def batchDailyStats(
      events: DataFrame, tsCol: String, valueCol: String,
      groupCol: String): DataFrame =
    windowDailyStats(events, tsCol, valueCol, groupCol, None)
}
