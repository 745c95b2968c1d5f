package graft.streaming

import org.apache.spark.sql.Dataset

import graft.functions.{CusumFunctions, OrderedFold}
import graft.functions.CusumFunctions.{CusumPoint, CusumState}

/** Cross-batch CONTINUOUS online CUSUM — the streaming twin of
  * [[graft.operators.EventAnalytics.onlineCusum]]: [[CusumFunctions.fold]]
  * run by the [[OrderedFold.stream]] door, carrying the LITERAL
  * [[CusumFunctions.step]] fold (batch and stream step with the same
  * literal function, so they cannot drift). One running two-sided CUSUM
  * state per key survives across micro-batches via the state store, so
  * the stream's state after any replay prefix equals the batch fold of
  * that prefix (spec-pinned).
  * Deviations arrive pre-computed against the FROZEN reference mean —
  * the monitor's μ₀ is configuration, exactly as in the batch operator.
  *
  * O(1) state per key (five scalars + the high-water mark), key
  * cardinality the only scaling bound, out-of-order stragglers at or
  * below the high-water mark ignored (a sequential detector cannot
  * retract an alarm; documented semantic).
  *
  * CONTRACT: (ord, seq) must be UNIQUE per key. The high-water mark is
  * strict, so a duplicate (ord, seq) folds once here but twice in
  * [[batchOracle]] / the batch UDAF — the replay-prefix equivalence holds
  * only for unique keys. Producers get uniqueness for free from a
  * monotone per-key sequence.
  */
object ContinuousCusum {

  final case class Sample(key: String, ord: String, seq: Long, dev_micro: Long)
  final case class Update(
      key: String, s_hi_micro: Long, s_lo_micro: Long,
      alarms_hi: Long, alarms_lo: Long, first_alarm: String, n: Long)

  /** Wire the stateful op over a streaming Dataset[Sample]. */
  def run(
      samples: Dataset[Sample], slackMicro: Long, hMicro: Long): Dataset[Update] =
    OrderedFold.stream(samples, CusumFunctions.fold(slackMicro, hMicro),
      (s: Sample) => s.key, (s: Sample) => CusumPoint(s.ord, s.seq, s.dev_micro)) {
      (key, c: CusumState, n, _) =>
        Update(key, c.s_hi_micro, c.s_lo_micro, c.alarms_hi, c.alarms_lo, c.first_alarm, n)
    }

  /** Batch reference for tests: [[CusumFunctions.foldOracle]] per key. */
  def batchOracle(
      samples: Seq[Sample], slackMicro: Long, hMicro: Long): Map[String, CusumState] =
    samples.groupBy(_.key).map { case (k, rows) =>
      k -> CusumFunctions.foldOracle(
        rows.sortBy(s => (s.ord, s.seq)).map(s => (s.ord, s.dev_micro)),
        slackMicro, hMicro)
    }
}
