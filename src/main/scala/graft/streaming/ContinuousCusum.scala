package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.CusumFunctions
import graft.functions.CusumFunctions.CusumState

/** Cross-batch CONTINUOUS online CUSUM — the streaming twin of
  * [[graft.operators.EventAnalytics.onlineCusum]], carrying the LITERAL
  * [[CusumFunctions.step]] fold (batch and stream step with the same
  * literal function, so they cannot drift). One running two-sided CUSUM
  * state per key survives across micro-batches via the state store, so
  * the stream's state after any replay prefix equals the batch fold of
  * that prefix (spec-pinned).
  * Deviations arrive pre-computed against the FROZEN reference mean —
  * the monitor's μ₀ is configuration, exactly as in the batch operator.
  *
  * Scale design mirrors [[ContinuousEwma]]: O(1) state per key (five
  * scalars + the high-water mark), key cardinality the only scaling
  * bound, out-of-order stragglers below the high-water mark ignored (a
  * sequential detector cannot retract an alarm; documented semantic).
  */
object ContinuousCusum {

  final case class Sample(key: String, ord: String, seq: Long, dev_micro: Long)
  final case class St(
      s_hi_micro: Long, s_lo_micro: Long, alarms_hi: Long, alarms_lo: Long,
      first_alarm: String, lastOrd: String, lastSeq: Long, n: Long)
  final case class Update(
      key: String, s_hi_micro: Long, s_lo_micro: Long,
      alarms_hi: Long, alarms_lo: Long, first_alarm: String, n: Long)

  val zeroState: St = St(0L, 0L, 0L, 0L, "", "", Long.MinValue, 0L)

  /** Shared batch fold: sort (ord, seq), fold rows above the high-water
    * mark with the literal [[CusumFunctions.step]], return the new state
    * iff anything folded.
    *
    * CONTRACT: (ord, seq) must be UNIQUE per key. The high-water mark is
    * a strict comparison, so a duplicate (ord, seq) arriving in the SAME
    * micro-batch folds once here but twice in [[batchOracle]] / the batch
    * UDAF — the replay-prefix equivalence holds only for unique keys.
    * Producers get uniqueness for free from a monotone per-key sequence
    * (the specs assert it on their generated corpora).
    */
  def foldBatch(
      prev: St, rows: Iterator[Sample],
      slackMicro: Long, hMicro: Long): Option[St] = {
    val sorted = rows.toArray.sortBy(s => (s.ord, s.seq))
    var st = CusumState(prev.s_hi_micro, prev.s_lo_micro,
      prev.alarms_hi, prev.alarms_lo, prev.first_alarm)
    var lastOrd = prev.lastOrd
    var lastSeq = prev.lastSeq
    var n = prev.n
    var folded = false
    sorted.foreach { s =>
      if (s.ord > lastOrd || (s.ord == lastOrd && s.seq > lastSeq)) {
        st = CusumFunctions.step(st, s.dev_micro, s.ord, slackMicro, hMicro)
        lastOrd = s.ord
        lastSeq = s.seq
        n += 1
        folded = true
      }
    }
    if (folded)
      Some(St(st.s_hi_micro, st.s_lo_micro, st.alarms_hi, st.alarms_lo,
        st.first_alarm, lastOrd, lastSeq, n))
    else None
  }

  def update(slackMicro: Long, hMicro: Long)(
      key: String,
      rows: Iterator[Sample],
      state: GroupState[St]): Iterator[Update] = {
    foldBatch(state.getOption.getOrElse(zeroState), rows, slackMicro, hMicro) match {
      case Some(next) =>
        state.update(next)
        Iterator.single(Update(key, next.s_hi_micro, next.s_lo_micro,
          next.alarms_hi, next.alarms_lo, next.first_alarm, next.n))
      case None => Iterator.empty
    }
  }

  /** Wire the stateful op over a streaming Dataset[Sample]. */
  def run(
      samples: Dataset[Sample], slackMicro: Long, hMicro: Long): Dataset[Update] = {
    implicit val stateEnc = Encoders.product[St]
    implicit val outEnc = Encoders.product[Update]
    samples
      .groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        update(slackMicro, hMicro))
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
