package graft.streaming

import org.apache.spark.sql.Dataset

import graft.functions.{HoltFunctions, OrderedFold}
import graft.functions.HoltFunctions.HoltWintersOut
import graft.model.PricePoint
import graft.streaming.ContinuousHolt.Sample

/** Cross-batch CONTINUOUS Holt-Winters — [[HoltFunctions.wintersFold]]
  * run by the [[OrderedFold.stream]] door ([[ContinuousHolt]]'s shape
  * carrying the seasonal triple fold): one running (level, trend, season
  * ring, position) per key survives across micro-batches via the state
  * store, stepping with the LITERAL [[HoltFunctions.wintersStep]] the
  * batch aggregator uses, so the stream's state after any replay prefix
  * equals the batch fold of that prefix bit-for-bit (spec-pinned).
  *
  * O(period) state per key (the ring + three Longs + the high-water
  * mark), key cardinality the only scaling bound, out-of-order
  * stragglers at or below the high-water mark ignored (a continuous
  * smoother cannot retract; documented semantic).
  */
object ContinuousHoltWinters {

  final case class HwUpdate(
      key: String, level_micro: Long, trend_micro: Long, season_micro: Long,
      forecast_micro: Long, n: Long, lastTs: Long)

  /** Wire the stateful op over a streaming Dataset[Sample]. */
  def run(
      samples: Dataset[Sample], alphaPpm: Long, betaPpm: Long,
      gammaPpm: Long, period: Int): Dataset[HwUpdate] =
    OrderedFold.stream(samples,
      HoltFunctions.wintersFold(alphaPpm, betaPpm, gammaPpm, period),
      (s: Sample) => s.key, (s: Sample) => PricePoint(s.ts, s.seq, s.price)) {
      (key, o: HoltWintersOut, n, mark) =>
        HwUpdate(key, o.level_micro, o.trend_micro, o.season_micro,
          o.forecast_micro, n, mark._1)
    }

  /** Batch reference for tests: [[HoltFunctions.foldWintersOracle]] per
    * key.
    */
  def batchOracle(
      samples: Seq[Sample], alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      period: Int): Map[String, HoltWintersOut] =
    samples.groupBy(_.key).map { case (k, rows) =>
      k -> HoltFunctions.foldWintersOracle(
        rows.sortBy(s => (s.ts, s.seq)).map(_.price),
        alphaPpm, betaPpm, gammaPpm, period)
    }
}
