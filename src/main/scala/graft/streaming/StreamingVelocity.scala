package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming velocity features: the ingest-time form of
  * [[graft.operators.EventAnalytics.rollingCounts]] — for every arriving
  * event, the count and micro-sum of the SAME user's events in the
  * trailing `lookbackMicros` window (exclusive of the event itself). The
  * live form of a fraud/abuse velocity check ("how many times did this
  * user act in the last hour, as of this event").
  *
  * Semantics vs the batch operator: per micro-batch, a user's events are
  * processed in (tsu, id) order and the state's retained events are all
  * >= every prior event's time under ordered replay, so each event's
  * trailing window is computed over exactly the events the batch RANGE
  * frame sees — stream == batch whenever each user's events arrive in
  * non-decreasing event-time order across batches with equal-timestamp
  * events co-batched ([[StreamingFunnel]]'s contract; the spec pins
  * equality on the real corpus split across batches). Same-instant peers
  * exclude each other, matching the batch frame's `tsu - 1` upper bound.
  *
  * State: per user, only the events still inside the lookback window of
  * the LATEST seen event (older ones can never enter a future trailing
  * window under ordered arrival and are pruned every batch) — bounded by
  * the user's event rate x lookback, not by stream length. With
  * `idleTimeoutMs > 0` a processing-time `GroupStateTimeout` drops users
  * idle longer than the timeout ENTIRELY, bounding state by the active
  * user population. When the timeout's event-time equivalent is >= the
  * lookback (processing time tracking event time), eviction is
  * semantically invisible: every dropped point was already outside any
  * future event's trailing window.
  */
object StreamingVelocity {

  final case class VEvent(user: Long, tsu: Long, id: Long, vm: Long)
  final case class VelState(times: Array[Long], vms: Array[Long])
  final case class VelocityRow(
      user: Long, tsu: Long, id: Long, value_micro: Long,
      prev_n: Long, prev_sum_micro: Long)

  /** Pure merge + trailing-window sweep + prune, one call per micro-batch
    * of the streaming form: returns the batch's output rows and the
    * pruned retained state (None = state unchanged because the batch was
    * empty).
    */
  private[streaming] def sweep(
      lookbackMicros: Long, user: Long,
      histT: Array[Long], histV: Array[Long],
      evsIn: Array[VEvent]): (Array[VelocityRow], Option[VelState]) = {
    val evs = evsIn.sortBy(r => (r.tsu, r.id))
    // merged time-ordered point list (retained history is sorted and, under
    // the ordered-replay contract, precedes the batch; a late event merges
    // correctly anyway). Window bounds are STRICT in time, so the relative
    // order of equal-time points never affects a result.
    val m = histT.length + evs.length
    val t = new Array[Long](m)
    val v = new Array[Long](m)
    var i = 0
    var j = 0
    while (i + j < m) {
      if (j >= evs.length || (i < histT.length && histT(i) <= evs(j).tsu)) {
        t(i + j) = histT(i); v(i + j) = histV(i); i += 1
      } else {
        t(i + j) = evs(j).tsu; v(i + j) = evs(j).vm; j += 1
      }
    }
    // two monotone pointers over the merged points: hi = #points with
    // time <= e.tsu - 1, lo = #points with time < e.tsu - lookback;
    // running sums make each event O(1) after the O(m) sweep
    var lo = 0
    var hi = 0
    var sumLo = 0L
    var sumHi = 0L
    val out = evs.map { e =>
      while (hi < m && t(hi) <= e.tsu - 1) { sumHi += v(hi); hi += 1 }
      while (lo < m && t(lo) < e.tsu - lookbackMicros) { sumLo += v(lo); lo += 1 }
      VelocityRow(user, e.tsu, e.id, e.vm, (hi - lo).toLong, sumHi - sumLo)
    }
    // prune: points older than the latest time's lookback can never enter
    // a future trailing window under ordered arrival
    if (m > 0) {
      val cut = t(m - 1) - lookbackMicros
      var k = 0
      while (k < m && t(k) < cut) k += 1
      (out, Some(VelState(t.slice(k, m), v.slice(k, m))))
    } else (out, None)
  }

  def update(lookbackMicros: Long, idleTimeoutMs: Long)(
      user: Long,
      rows: Iterator[VEvent],
      state: GroupState[VelState]): Iterator[VelocityRow] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val histT = state.getOption.map(_.times).getOrElse(Array.empty[Long])
    val histV = state.getOption.map(_.vms).getOrElse(Array.empty[Long])
    val (out, next) = sweep(lookbackMicros, user, histT, histV, rows.toArray)
    next.foreach { st =>
      state.update(st)
      if (idleTimeoutMs > 0L) state.setTimeoutDuration(idleTimeoutMs)
    }
    out.iterator
  }

  /** @param idleTimeoutMs 0 disables eviction; > 0 evicts users idle that
    *   long in PROCESSING time — choose a value whose event-time
    *   equivalent is >= `lookbackMicros` so eviction cannot drop a point
    *   a future trailing window could still see.
    */
  def features(
      events: DataFrame, userCol: String, tsMicrosCol: String, valueCol: String,
      idCol: String, lookbackMicros: Long, idleTimeoutMs: Long = 0L): Dataset[VelocityRow] = {
    require(lookbackMicros > 0, "lookbackMicros must be positive")
    require(idleTimeoutMs >= 0, "idleTimeoutMs must be >= 0 (0 = no eviction)")
    implicit val evEnc = Encoders.product[VEvent]
    implicit val stEnc = Encoders.product[VelState]
    implicit val outEnc = Encoders.product[VelocityRow]
    implicit val keyEnc = Encoders.scalaLong
    events
      .select(col(userCol).cast("long").as("user"),
        col(tsMicrosCol).cast("long").as("tsu"),
        col(idCol).cast("long").as("id"),
        round(col(valueCol) * lit(1e6)).cast("bigint").as("vm"))
      .as[VEvent]
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append(),
        if (idleTimeoutMs > 0L) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        update(lookbackMicros, idleTimeoutMs))
  }
}
