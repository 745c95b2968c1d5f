package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ordered-funnel tracking: the ingest-time form of
  * [[graft.operators.EventAnalytics.funnel]]. Per user, maintains the
  * earliest in-order step-completion chain (step i at or after step i-1,
  * all steps within `windowMicros` of the first step-0 event) and emits
  * the user's updated progress row every micro-batch that touches them —
  * the live funnel dashboard feed; downstream keeps the latest row per
  * user.
  *
  * Semantics vs the batch operator: within a micro-batch, chain slots
  * fill one at a time (lower steps first), each taking the (tsu, id)-min
  * qualifying event — exactly the batch operator's chained conditional
  * mins, for ANY intra-batch arrival order including equal timestamps.
  * Therefore stream == batch whenever each user's events arrive in
  * non-decreasing event-time order ACROSS batches, with equal-timestamp
  * events delivered in one batch (the watermark-ordered replay contract,
  * same class as [[StreamingLineDedup]]'s ascending-doc contract;
  * StreamingFunnelSpec pins it with users split across batches). A
  * cross-batch LATE event can only miss chain slots it might have
  * filled — already-reported progress never regresses — and redelivered
  * events are absorbed idempotently (a chain slot, once set, never
  * changes).
  *
  * State: k+1 longs per user (the chain times; -1 = unset) — bounded by
  * the user population, independent of event volume, the same
  * state-size class as the reference's per-key EWMA accumulator. With
  * `idleTimeoutMs > 0` a processing-time `GroupStateTimeout` evicts
  * users idle longer than the timeout, bounding state by the ACTIVE
  * population: an evicted user's partial chain is forgotten, so a later
  * event starts a fresh funnel attempt (the idle-user-reset contract —
  * choose a timeout well beyond `windowMicros`' wall-clock equivalent so
  * only chains that could no longer convert are dropped).
  */
object StreamingFunnel {

  final case class StepEvent(user: Long, step: Int, tsu: Long, id: Long)
  final case class FunnelState(times: Array[Long])
  final case class FunnelProgress(
      user: Long, times: Seq[Long], nSteps: Int, converted: Boolean)

  /** Chain update, exact (= batch chained-min) over the batch's events:
    * slot i fills with the FIRST (tsu, id)-ordered step-i event
    * satisfying the chain condition, one slot per pass, lower slots
    * first. A single interleaved greedy pass would get ties wrong twice
    * over — a step-i event tied with the step-(i-1) event that enables
    * it but sorting before it would be dropped (ties are legal:
    * `tsu >= t(i-1)` is inclusive), and a LATER step-i event could claim
    * the slot before the tied earlier one ever qualifies. Filling slot
    * by slot reproduces the batch operator's chained conditional mins
    * exactly for any intra-batch arrival order. `nSteps`/`converted`
    * derive from the slot array: -1 marks an unreached step.
    */
  /** Pure chain fill the streaming form steps with, one call per
    * micro-batch: mutates `t` in place.
    */
  private[streaming] def fillChain(
      nStepsTotal: Int, windowMicros: Long,
      t: Array[Long], rows: Seq[StepEvent]): Unit = {
    val sorted = rows.sortBy(r => (r.tsu, r.id))
    for (i <- 0 until nStepsTotal) {
      if (t(i) == -1L && (i == 0 || t(i - 1) != -1L)) {
        sorted.find { r =>
          r.step == i &&
            (i == 0 || (r.tsu >= t(i - 1) && r.tsu <= t(0) + windowMicros))
        }.foreach(r => t(i) = r.tsu)
      }
    }
  }

  /** Progress row for the current chain (empty until step 0 fills). */
  private[streaming] def progressOf(
      user: Long, t: Array[Long], nStepsTotal: Int): Iterator[FunnelProgress] =
    if (t(0) == -1L) Iterator.empty
    else {
      val n = t.takeWhile(_ != -1L).length
      Iterator.single(FunnelProgress(user, t.toSeq, n, t(nStepsTotal - 1) != -1L))
    }

  def update(nStepsTotal: Int, windowMicros: Long, idleTimeoutMs: Long)(
      user: Long,
      rows: Iterator[StepEvent],
      state: GroupState[FunnelState]): Iterator[FunnelProgress] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val t = state.getOption.map(_.times.clone())
      .getOrElse(Array.fill(nStepsTotal)(-1L))
    fillChain(nStepsTotal, windowMicros, t, rows.toSeq)
    state.update(FunnelState(t))
    if (idleTimeoutMs > 0L) state.setTimeoutDuration(idleTimeoutMs)
    progressOf(user, t, nStepsTotal)
  }

  /** Wire the progress stream over a streaming event frame. The step
    * mapping and filter are stateless projections; only the per-user
    * chain lives in state.
    *
    * @param idleTimeoutMs 0 disables eviction; > 0 evicts users idle that
    *   long in PROCESSING time (idle-user-reset: the partial chain is
    *   forgotten, a later event starts a fresh attempt).
    */
  def progress(
      events: DataFrame, userCol: String, typeCol: String, tsMicrosCol: String,
      idCol: String, steps: Seq[String], windowMicros: Long,
      idleTimeoutMs: Long = 0L): Dataset[FunnelProgress] = {
    require(steps.size >= 2 && steps.distinct.size == steps.size,
      "need >= 2 distinct steps")
    require(windowMicros > 0, "windowMicros must be positive")
    require(idleTimeoutMs >= 0, "idleTimeoutMs must be >= 0 (0 = no eviction)")
    implicit val evEnc = Encoders.product[StepEvent]
    implicit val stEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[FunnelProgress]
    implicit val keyEnc = Encoders.scalaLong
    val stepOf = steps.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("et") === s, lit(i)).otherwise(acc)
      }
    events
      .select(col(userCol).cast("long").as("user"), col(typeCol).as("et"),
        col(tsMicrosCol).cast("long").as("tsu"), col(idCol).cast("long").as("id"))
      .withColumn("step", stepOf)
      .filter(col("step") >= 0)
      .select(col("user"), col("step"), col("tsu"), col("id"))
      .as[StepEvent]
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append(),
        if (idleTimeoutMs > 0L) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        update(steps.size, windowMicros, idleTimeoutMs))
  }
}
