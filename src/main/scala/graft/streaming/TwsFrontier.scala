package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** STREAMING politeness frontier — the stateful twin of
  * [[graft.operators.WebCuration.frontierSchedule]]: REP-gated URLs
  * arrive in micro-batches and each host's fetch slots CONTINUE across
  * batches (a fetcher that re-started numbering every batch would burst
  * a host's crawl-delay budget at every trigger).
  *
  * Semantics, stated precisely: within one micro-batch a host's
  * arrivals are ordered `(priority desc, id)` — exactly the batch
  * operator's order — and numbered from the host's persisted next slot;
  * ACROSS batches the order is arrival order (a stream cannot re-rank
  * the past: slot n was already fetched when a higher-priority URL
  * arrives later). `fetch_offset_s = (slot − 1) · crawl_delay_s`, the
  * host's politeness clock. Stream ≡ per-arrival-batch composition of
  * the batch operator with slot continuation (TwsFrontierSpec pins it).
  *
  * State per host: ONE long (the next slot) in the RocksDB store —
  * control-plane-sized at any corpus scale (state grows with the HOST
  * population, never the URL count). transformWithState + typed
  * ValueState; `idleTimeoutMs > 0` maps
  * to native TTL so hosts not seen for the window restart their
  * numbering (an idle host's politeness clock has long expired — the
  * eviction is semantically a fresh frontier, stated loudly rather than
  * hidden).
  *
  * Requires `spark.sql.streaming.stateStore.providerClass =
  * ...RocksDBStateStoreProvider` (rocksdbjni ships with Spark).
  */
object TwsFrontier {

  final case class FUrl(host: Long, id: Long, priority: Long, delayS: Long)
  final case class FSlot(
      host: Long, id: Long, priority: Long, slot: Long, fetch_offset_s: Long)
  final case class FState(nextSlot: Long)

  class Processor(idleTimeoutMs: Long)
      extends StatefulProcessor[Long, FUrl, FSlot] {
    @transient private var state: ValueState[FState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl =
        if (idleTimeoutMs > 0L)
          TTLConfig(java.time.Duration.ofMillis(idleTimeoutMs))
        else TTLConfig.NONE
      state = getHandle.getValueState[FState](
        "nextSlot", Encoders.product[FState], ttl)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[FUrl],
        timerValues: TimerValues): Iterator[FSlot] = {
      val base = if (state.exists()) state.get().nextSlot else 1L
      // the batch operator's order within the trigger: priority desc, id
      val sorted = rows.toArray.sortBy(u => (-u.priority, u.id))
      val out = sorted.iterator.zipWithIndex.map { case (u, i) =>
        val slot = base + i
        FSlot(key, u.id, u.priority, slot, (slot - 1L) * u.delayS)
      }.toArray
      state.update(FState(base + sorted.length))
      out.iterator
    }
  }

  /** Wire the frontier over a gated stream (the
    * [[graft.operators.WebCuration.robotsAllowed]] output shape):
    * filters `allowed`, keys by host, numbers slots with continuation.
    */
  def schedule(
      gated: DataFrame, hostCol: String, idCol: String, priorityCol: String,
      delayCol: String = "crawl_delay_s",
      idleTimeoutMs: Long = 0L): Dataset[FSlot] = {
    require(idleTimeoutMs >= 0, "idleTimeoutMs must be >= 0 (0 = no TTL)")
    implicit val inEnc = Encoders.product[FUrl]
    implicit val outEnc = Encoders.product[FSlot]
    gated
      .filter(col("allowed"))
      .select(col(hostCol).cast("long").as("host"),
        col(idCol).cast("long").as("id"),
        col(priorityCol).cast("long").as("priority"),
        col(delayCol).cast("long").as("delayS"))
      .as[FUrl]
      .groupByKey(_.host)(Encoders.scalaLong)
      .transformWithState(new Processor(idleTimeoutMs),
        if (idleTimeoutMs > 0L) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }
}
