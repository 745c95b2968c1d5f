package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.udaf

/** ONLINE (tabular) CUSUM — Page's sequential changepoint detector, the
  * streaming complement of [[graft.operators.EventAnalytics.cusumChangepoint]]
  * (which finds WHERE a finished series shifted; this one ALARMS while the
  * series is still arriving). Two one-sided statistics fold per point over
  * deviations d = x − μ₀ from a FROZEN reference mean:
  *
  *   S⁺' = max(0, S⁺ + d − slack)     (upward drift)
  *   S⁻' = max(0, S⁻ − d − slack)     (downward drift)
  *
  * and a side crossing the decision threshold h raises an alarm and
  * restarts at 0 (the standard Page restart). `slack` (the reference
  * value k) absorbs in-control noise; h trades detection delay against
  * false alarms.
  *
  * EXACT integer micro arithmetic end to end — deviations arrive already
  * micro-quantized, the fold is max/add/compare on Longs — so the oracle
  * replays it bit-for-bit with a recursive CTE, and the batch and
  * streaming forms step with this same literal function, so they cannot
  * drift. Strict (ord, seq, dev_micro) fold order (the full tuple, so
  * points that tie on (ord, seq) fold in one order); alarms fire on STRICT h
  * crossing; `first_alarm` keeps the ord key of the earliest alarm of
  * either side ('' = never alarmed).
  */
object CusumFunctions {

  final case class CusumState(
      s_hi_micro: Long, s_lo_micro: Long,
      alarms_hi: Long, alarms_lo: Long, first_alarm: String)

  val zeroState: CusumState = CusumState(0L, 0L, 0L, 0L, "")

  /** One fold step — THE definition; batch UDAF, streaming twin, and
    * specs all call this literal function.
    */
  def step(
      st: CusumState, devMicro: Long, ord: String,
      slackMicro: Long, hMicro: Long): CusumState = {
    val sh0 = math.max(0L, st.s_hi_micro + devMicro - slackMicro)
    val sl0 = math.max(0L, st.s_lo_micro - devMicro - slackMicro)
    val hiAlarm = sh0 > hMicro
    val loAlarm = sl0 > hMicro
    CusumState(
      if (hiAlarm) 0L else sh0,
      if (loAlarm) 0L else sl0,
      st.alarms_hi + (if (hiAlarm) 1L else 0L),
      st.alarms_lo + (if (loAlarm) 1L else 0L),
      if (st.first_alarm.nonEmpty) st.first_alarm
      else if (hiAlarm || loAlarm) ord
      else "")
  }

  /** Scala-side reference fold — what every test pins to. */
  def foldOracle(
      devs: Seq[(String, Long)], slackMicro: Long, hMicro: Long): CusumState =
    devs.foldLeft(zeroState) { case (st, (ord, d)) =>
      step(st, d, ord, slackMicro, hMicro)
    }

  /** One series point: `ord` is the fold key (day string, ts render …),
    * `seq` the tie-break, `dev_micro` the micro deviation x − μ₀.
    */
  final case class CusumPoint(ord: String, seq: Long, dev_micro: Long)

  /** Online CUSUM as an [[OrderedFold]] over (ord, seq, dev_micro). */
  private[graft] def fold(
      slackMicro: Long, hMicro: Long): OrderedFold[CusumPoint, (String, Long), CusumState, CusumState] = {
    require(slackMicro >= 0, "slackMicro >= 0")
    require(hMicro > 0, "hMicro > 0")
    new OrderedFold[CusumPoint, (String, Long), CusumState, CusumState] {
      def zero: CusumState = zeroState
      def step(s: CusumState, p: CusumPoint): CusumState =
        CusumFunctions.step(s, p.dev_micro, p.ord, slackMicro, hMicro)
      def readout(s: CusumState): CusumState = s
      def key(p: CusumPoint): (String, Long) = (p.ord, p.seq)
      val order: Ordering[CusumPoint] = Ordering.by(p => (p.ord, p.seq, p.dev_micro))
    }
  }

  /** Untyped (Column) form: call with `(ord, seq, dev_micro)`; returns a
    * struct (s_hi_micro, s_lo_micro, alarms_hi, alarms_lo, first_alarm).
    */
  def cusumUdaf(slackMicro: Long, hMicro: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new OrderedFold.Agg(fold(slackMicro, hMicro), Encoders.product[CusumState]),
      Encoders.product[CusumPoint])
}
