package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A zero-seeded left fold over points taken in one strict total order —
  * the shape of the reference's EWMA (indicators.rs:13-26,
  * agg-producer main.rs:106-118) and of every smoother built on it
  * (Holt, Holt-Winters, online CUSUM). A smoother supplies its zero
  * state, its step, its point order and its readout; the companion runs
  * it as a batch [[OrderedFold.Agg]] and as a continuous
  * [[OrderedFold.stream]] door.
  *
  * The fold is strictly sequential: it must never be computed as a
  * parallel reduction (SURVEY.md §2.3 pitfall 5).
  */
abstract class OrderedFold[P, K, S, O](implicit val keyOrdering: Ordering[K])
    extends Serializable {
  /** A fresh zero state (a mutable state must not be shared). */
  def zero: S
  def step(s: S, p: P): S
  def readout(s: S): O
  /** The fold-order key of a point, e.g. (ts, seq) — the streaming
    * high-water mark.
    */
  def key(p: P): K
  /** The full-tuple order: [[key]], then the rest of the point, so
    * points that tie on the key still fold in one order whatever the
    * partition-merge order (SURVEY.md §2.3 pitfall 4).
    */
  def order: Ordering[P]
}

object OrderedFold {

  /** The batch form: buffer = the group's points, `merge` = concat
    * (commutative w.r.t. the final sorted fold), one sort by [[order]]
    * and one left fold per group at `finish`. State per group is
    * O(group size) — bounded by key × window design.
    */
  final class Agg[P, K, S, O](f: OrderedFold[P, K, S, O], out: Encoder[O])
      extends Aggregator[P, ArrayBuffer[P], O] {
    override def zero: ArrayBuffer[P] = ArrayBuffer.empty
    override def reduce(b: ArrayBuffer[P], p: P): ArrayBuffer[P] = b += p
    override def merge(b1: ArrayBuffer[P], b2: ArrayBuffer[P]): ArrayBuffer[P] = b1 ++= b2
    override def finish(b: ArrayBuffer[P]): O =
      f.readout(b.sorted(f.order).foldLeft(f.zero)(f.step))
    override def bufferEncoder: Encoder[ArrayBuffer[P]] = Encoders.kryo[ArrayBuffer[P]]
    override def outputEncoder: Encoder[O] = out
  }

  /** Per-key state of a [[stream]] door: the smoother's state, the key
    * of the last folded point (None before the first) and the count
    * folded.
    */
  final case class Door[S, K](state: S, mark: Option[K], n: Long)

  /** One micro-batch of one key: sort by [[OrderedFold.order]] and fold
    * only the points whose key is strictly above the high-water mark.
    * Returns the new state iff anything folded. A straggler, or a second
    * point on an already-folded key, never folds: a continuous fold
    * cannot retract, and a batch of only such points must not repeat
    * the previous (key, n) update.
    */
  def foldBatch[P, K, S, O](
      f: OrderedFold[P, K, S, O], prev: Option[Door[S, K]],
      points: Iterator[P]): Option[Door[S, K]] = {
    val start = prev.getOrElse(Door(f.zero, None, 0L))
    val next = points.toVector.sorted(f.order).foldLeft(start) { (d, p) =>
      val k = f.key(p)
      if (d.mark.forall(f.keyOrdering.gt(k, _))) Door(f.step(d.state, p), Some(k), d.n + 1)
      else d
    }
    if (next.n > start.n) Some(next) else None
  }

  /** The continuous form: one running state per key survives across
    * micro-batches in the state store (O(1) in the stream length; key
    * cardinality is the only scaling bound), and each key emits
    * `emit(key, readout, n, mark)` for every batch that folded
    * something. After any replay prefix the state equals the batch fold
    * of that prefix, provided the order key is unique per key.
    */
  def stream[A, P, K: TypeTag, S: TypeTag, O, U <: Product : TypeTag](
      samples: Dataset[A], f: OrderedFold[P, K, S, O],
      groupKey: A => String, point: A => P)(
      emit: (String, O, Long, K) => U): Dataset[U] = {
    implicit val stateEnc: Encoder[Door[S, K]] = Encoders.product[Door[S, K]]
    implicit val outEnc: Encoder[U] = Encoders.product[U]
    samples
      .groupByKey(groupKey)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[A], state: GroupState[Door[S, K]]) =>
          foldBatch(f, state.getOption, rows.map(point)) match {
            case Some(next) =>
              state.update(next)
              Iterator.single(emit(key, f.readout(next.state), next.n, next.mark.get))
            case None => Iterator.empty
          }
      }
  }
}
