package graft.streaming

import org.apache.spark.sql.Dataset

import graft.functions.{HoltFunctions, OrderedFold}
import graft.functions.HoltFunctions.HoltOut
import graft.model.PricePoint

/** Cross-batch CONTINUOUS Holt level+trend — [[HoltFunctions.holtFold]]
  * run by the [[OrderedFold.stream]] door ([[ContinuousEwma]]'s shape
  * carrying the exact integer fold): one running (level, trend) pair per
  * key survives across micro-batches via the state store, so the
  * stream's state after any replay prefix equals the batch fold of that
  * prefix (spec-pinned).
  *
  * O(1) state per key (two Longs + the high-water mark), key cardinality
  * the only scaling bound, out-of-order stragglers at or below the
  * high-water mark ignored (a continuous smoother cannot retract;
  * documented semantic).
  */
object ContinuousHolt {

  final case class Sample(key: String, ts: Long, seq: Long, price: Double)
  final case class HoltUpdate(
      key: String, level_micro: Long, trend_micro: Long, forecast_micro: Long,
      n: Long, lastTs: Long)

  /** Wire the stateful op over a streaming Dataset[Sample]. */
  def run(samples: Dataset[Sample], alphaPpm: Long, betaPpm: Long): Dataset[HoltUpdate] =
    OrderedFold.stream(samples, HoltFunctions.holtFold(alphaPpm, betaPpm),
      (s: Sample) => s.key, (s: Sample) => PricePoint(s.ts, s.seq, s.price)) {
      (key, h: HoltOut, n, mark) =>
        HoltUpdate(key, h.level_micro, h.trend_micro, h.forecast_micro, n, mark._1)
    }

  /** Batch reference for tests: [[HoltFunctions.foldOracle]] per key. */
  def batchOracle(
      samples: Seq[Sample], alphaPpm: Long, betaPpm: Long): Map[String, HoltOut] =
    samples.groupBy(_.key).map { case (k, rows) =>
      k -> HoltFunctions.foldOracle(
        rows.sortBy(s => (s.ts, s.seq)).map(_.price), alphaPpm, betaPpm)
    }
}
