package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.udaf

import graft.model.PricePoint

/** Holt double-exponential (level + trend) smoothing — the natural
  * extension of the reference's EWMA indicator to trending series, in
  * EXACT integer fixed point so every engine replays it bit-for-bit.
  *
  * Zero-seeded like the reference EWMA (level₀ = trend₀ = 0, the
  * [[EwmaFunctions]] §2.3 convention), folded in strict (ts, seq) order
  * over micro-quantized values with ppm coefficients:
  *
  *   l' = (α·x + (10⁶ − α)(l + b)) div 10⁶
  *   b' = (β(l' − l) + (10⁶ − β) b)  div 10⁶
  *
  * All Long arithmetic; `div` truncates toward zero (Scala `/`, the same
  * convention as DuckDB `//`), so the oracle replays the fold with a
  * recursive CTE and hash-matches exactly — no 4-dp rounding escape
  * hatch needed, unlike the float EWMA oracle.
  *
  * Numeric window: |α·x| ≤ 10⁶·|x_micro| and |(10⁶−α)(l+b)| ≤ 10⁶·2·max
  * |x_micro|-ish (the fold is a damped convex mix, so |l| stays inside
  * the data's range and |b| inside its span); inputs must keep
  * |value|·10⁶ below ~10¹² for head-room — ANSI overflow makes a breach
  * a hard error, not a wrap.
  *
  * Both smoothers are [[OrderedFold]]s over (ts, seq, price) points, so
  * the UDAFs and the continuous streaming doors run the same step
  * through the same kernel the EWMA uses: concat-merge buffers, one
  * sort + one linear fold per group. State per group is O(window size) —
  * bounded by key × window design, exactly the EWMA contract.
  */
object HoltFunctions {

  final case class HoltOut(level_micro: Long, trend_micro: Long, forecast_micro: Long)

  private val zeroHolt = HoltOut(0L, 0L, 0L)

  /** ONE Holt step over a micro-quantized value — the only copy of the
    * level/trend arithmetic; Holt-Winters steps through it on the
    * deseasonalised value.
    */
  def step(s: HoltOut, xm: Long, alphaPpm: Long, betaPpm: Long): HoltOut = {
    val l = (alphaPpm * xm + (1000000L - alphaPpm) * (s.level_micro + s.trend_micro)) / 1000000L
    val b = (betaPpm * (l - s.level_micro) + (1000000L - betaPpm) * s.trend_micro) / 1000000L
    HoltOut(l, b, l + b)
  }

  /** Scala-side reference of the fold — what every test pins to. */
  def foldOracle(xs: Seq[Double], alphaPpm: Long, betaPpm: Long): HoltOut =
    xs.foldLeft(zeroHolt)((s, x) => step(s, math.round(x * 1e6), alphaPpm, betaPpm))

  private def checkPpm(name: String, ppm: Long): Unit =
    require(ppm >= 0 && ppm <= 1000000L, s"$name in [0, 1e6]")

  private val pointOrder: Ordering[PricePoint] = Ordering.by(p => (p.ts, p.seq, p.price))

  /** Holt as an [[OrderedFold]] over (ts, seq, price). */
  private[graft] def holtFold(
      alphaPpm: Long, betaPpm: Long): OrderedFold[PricePoint, (Long, Long), HoltOut, HoltOut] = {
    checkPpm("alphaPpm", alphaPpm)
    checkPpm("betaPpm", betaPpm)
    new OrderedFold[PricePoint, (Long, Long), HoltOut, HoltOut] {
      def zero: HoltOut = zeroHolt
      def step(s: HoltOut, p: PricePoint): HoltOut =
        HoltFunctions.step(s, math.round(p.price * 1e6), alphaPpm, betaPpm)
      def readout(s: HoltOut): HoltOut = s
      def key(p: PricePoint): (Long, Long) = (p.ts, p.seq)
      def order: Ordering[PricePoint] = pointOrder
    }
  }

  /** Untyped (Column) form: call with the three flat columns
    * `(ts, seq, price)`; returns a struct of (level, trend, forecast)
    * micro values.
    */
  def holtUdaf(alphaPpm: Long, betaPpm: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new OrderedFold.Agg(holtFold(alphaPpm, betaPpm), Encoders.product[HoltOut]),
      Encoders.product[PricePoint])

  // ------------------------------------------------------ Holt-Winters

  final case class HoltWintersOut(
      level_micro: Long, trend_micro: Long, season_micro: Long,
      forecast_micro: Long)

  /** Holt-Winters fold state: level and trend, the season ring and the
    * number of points folded. `ring` is updated in place by
    * [[wintersStep]].
    */
  final case class WintersState(holt: HoltOut, ring: Array[Long], t: Long)

  /** ONE Holt-Winters step of the ADDITIVE fold — the seasonal
    * completion of the EWMA → Holt ladder. Zero-seeded (l₀ = b₀ = 0 and
    * an all-zero season ring of `period` slots, the §2.3 convention),
    * position t (0-based) reads ring slot t mod period:
    *
    *   l' = (α(x − s_old) + (10⁶ − α)(l + b))  div 10⁶
    *   b' = (β(l' − l)    + (10⁶ − β) b)       div 10⁶
    *   s' = (γ(x − l')    + (10⁶ − γ) s_old)   div 10⁶   (written back)
    *
    * i.e. the Holt [[step]] on x − s_old, then the season update. All
    * Long arithmetic truncating toward zero (Scala `/` ≡ DuckDB `//`),
    * so the oracle replays the fold with a recursive CTE carrying the
    * ring as a list — bit-identical. γ = 0 keeps the ring at its zero
    * seed, collapsing EXACTLY to [[foldOracle]] (HoltSpec pins this).
    */
  def wintersStep(
      s: WintersState, xm: Long,
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long): WintersState = {
    val idx = (s.t % s.ring.length).toInt
    val sOld = s.ring(idx)
    val h = step(s.holt, xm - sOld, alphaPpm, betaPpm)
    s.ring(idx) = (gammaPpm * (xm - h.level_micro) + (1000000L - gammaPpm) * sOld) / 1000000L
    WintersState(h, s.ring, s.t + 1)
  }

  private def wintersZero(period: Int): WintersState =
    WintersState(zeroHolt, Array.fill(period)(0L), 0L)

  /** After the last point n: the level, trend, the NEXT position's
    * season `s_next = ring[n mod period]`, and the one-step forecast
    * `l + b + s_next`.
    */
  private def wintersOut(s: WintersState): HoltWintersOut = {
    val sNext = s.ring((s.t % s.ring.length).toInt)
    HoltWintersOut(s.holt.level_micro, s.holt.trend_micro, sNext,
      s.holt.level_micro + s.holt.trend_micro + sNext)
  }

  /** Scala-side reference of the Holt-Winters fold. */
  def foldWintersOracle(
      xs: Seq[Double], alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      period: Int): HoltWintersOut =
    wintersOut(xs.foldLeft(wintersZero(period))((s, x) =>
      wintersStep(s, math.round(x * 1e6), alphaPpm, betaPpm, gammaPpm)))

  /** Holt-Winters as an [[OrderedFold]] over (ts, seq, price). */
  private[graft] def wintersFold(
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      period: Int): OrderedFold[PricePoint, (Long, Long), WintersState, HoltWintersOut] = {
    checkPpm("alphaPpm", alphaPpm)
    checkPpm("betaPpm", betaPpm)
    checkPpm("gammaPpm", gammaPpm)
    require(period >= 1 && period <= 366, "period in [1, 366]")
    new OrderedFold[PricePoint, (Long, Long), WintersState, HoltWintersOut] {
      def zero: WintersState = wintersZero(period)
      def step(s: WintersState, p: PricePoint): WintersState =
        wintersStep(s, math.round(p.price * 1e6), alphaPpm, betaPpm, gammaPpm)
      def readout(s: WintersState): HoltWintersOut = wintersOut(s)
      def key(p: PricePoint): (Long, Long) = (p.ts, p.seq)
      def order: Ordering[PricePoint] = pointOrder
    }
  }

  def holtWintersUdaf(
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      period: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new OrderedFold.Agg(wintersFold(alphaPpm, betaPpm, gammaPpm, period),
      Encoders.product[HoltWintersOut]), Encoders.product[PricePoint])
}
