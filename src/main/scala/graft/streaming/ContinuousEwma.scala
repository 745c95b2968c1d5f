package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.EwmaFunctions

/** Cross-window CONTINUOUS EWMA — the semantic extension beyond the
  * reference (whose state resets every window, reference main.rs:111;
  * SURVEY.md §4.2-3): one running EWMA per key that survives across
  * micro-batches via the state store.
  *
  * Scale design: state per key is a single (Double, Long, Long) — O(1),
  * unlike the windowed fold's O(window) buffer — so key cardinality is the
  * only scaling bound. Within a micro-batch, rows are folded in (ts, seq)
  * order; batches are assumed time-ordered per key (true for replay and
  * for watermarked sources feeding an ordered shuffle within batch).
  */
object ContinuousEwma {

  /** Keyed input sample. */
  final case class Sample(key: String, ts: Long, seq: Long, price: Double)

  /** Running state: current EWMA value + last folded (ts, seq). */
  final case class EwmaState(current: Double, lastTs: Long, lastSeq: Long, n: Long)

  /** Per-batch output: the EWMA after folding this batch's rows. */
  final case class EwmaUpdate(key: String, current: Double, n: Long, lastTs: Long)

  /** The per-batch fold the flatMapGroupsWithState operator steps with:
    * sorts the batch (ts, seq), folds rows newer than the state's
    * high-water mark, and returns the new state iff anything folded —
    * a batch of only out-of-order stragglers emits nothing (emitting
    * would duplicate the previous (key, n) progress point).
    */
  def foldBatch(prev: EwmaState, rows: Iterator[Sample], alpha: Double): Option[EwmaState] = {
    // deterministic fold order within the batch (SURVEY.md §2.3 pitfall 4)
    val sorted = rows.toArray.sortBy(s => (s.ts, s.seq))
    var cur = prev.current
    var n = prev.n
    var lastTs = prev.lastTs
    var lastSeq = prev.lastSeq
    var folded = false
    sorted.foreach { s =>
      // ignore out-of-order stragglers older than what we already folded —
      // a continuous EMA cannot retract (documented semantic)
      if (s.ts > lastTs || (s.ts == lastTs && s.seq > lastSeq)) {
        cur = EwmaFunctions.step(cur, s.price, alpha)
        n += 1
        lastTs = s.ts
        lastSeq = s.seq
        folded = true
      }
    }
    if (folded) Some(EwmaState(cur, lastTs, lastSeq, n)) else None
  }

  val zeroState: EwmaState = EwmaState(0.0, Long.MinValue, Long.MinValue, 0L)

  def update(alpha: Double)(
      key: String,
      rows: Iterator[Sample],
      state: GroupState[EwmaState]): Iterator[EwmaUpdate] = {
    foldBatch(state.getOption.getOrElse(zeroState), rows, alpha) match {
      case Some(next) =>
        state.update(next)
        Iterator.single(EwmaUpdate(key, next.current, next.n, next.lastTs))
      case None => Iterator.empty
    }
  }

  /** Wire the stateful op over a streaming Dataset[Sample]. */
  def run(samples: Dataset[Sample], alpha: Double): Dataset[EwmaUpdate] = {
    implicit val stateEnc = Encoders.product[EwmaState]
    implicit val outEnc = Encoders.product[EwmaUpdate]
    samples
      .groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update(alpha))
  }

  /** Batch oracle for tests: the same fold as one pass per key. */
  def batchOracle(samples: Seq[Sample], alpha: Double): Map[String, Double] =
    samples.groupBy(_.key).map { case (k, rows) =>
      k -> EwmaFunctions.foldOracle(rows.sortBy(s => (s.ts, s.seq)).map(_.price), alpha)
    }
}
