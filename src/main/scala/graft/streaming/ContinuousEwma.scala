package graft.streaming

import org.apache.spark.sql.Dataset

import graft.functions.{EwmaFunctions, OrderedFold}
import graft.functions.EwmaFunctions.PricePointA

/** Cross-window CONTINUOUS EWMA — the semantic extension beyond the
  * reference (whose state resets every window, reference main.rs:111;
  * SURVEY.md §4.2-3): one running EWMA per key that survives across
  * micro-batches via the state store.
  *
  * [[EwmaFunctions.fold]] run by the [[OrderedFold.stream]] door: state
  * per key is O(1), unlike the windowed fold's O(window) buffer, so key
  * cardinality is the only scaling bound. Within a micro-batch, rows are
  * folded in (ts, seq) order; stragglers at or below the folded (ts, seq)
  * high-water mark are ignored (a continuous EMA cannot retract;
  * documented semantic).
  */
object ContinuousEwma {

  /** Keyed input sample. */
  final case class Sample(key: String, ts: Long, seq: Long, price: Double)

  /** Per-batch output: the EWMA after folding this batch's rows. */
  final case class EwmaUpdate(key: String, current: Double, n: Long, lastTs: Long)

  /** Wire the stateful op over a streaming Dataset[Sample]. */
  def run(samples: Dataset[Sample], alpha: Double): Dataset[EwmaUpdate] =
    OrderedFold.stream(samples, EwmaFunctions.fold,
      (s: Sample) => s.key, (s: Sample) => PricePointA(s.ts, s.seq, s.price, alpha)) {
      (key, current: Double, n, mark) => EwmaUpdate(key, current, n, mark._1)
    }

  /** Batch oracle for tests: the same fold as one pass per key. */
  def batchOracle(samples: Seq[Sample], alpha: Double): Map[String, Double] =
    samples.groupBy(_.key).map { case (k, rows) =>
      k -> EwmaFunctions.foldOracle(rows.sortBy(s => (s.ts, s.seq)).map(_.price), alpha)
    }
}
