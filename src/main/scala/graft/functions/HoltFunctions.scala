package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
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
  * Same scale shape as [[EwmaFunctions.EwmaAggregator]] (which also
  * buffers alpha): buffer = the group's (ts, seq, price) points,
  * merge = concat (commutative w.r.t. the final sorted fold), one sort +
  * one linear fold per group at finish. State per group is O(window
  * size) — bounded by key × window design, exactly the EWMA contract.
  */
object HoltFunctions {

  final case class HoltOut(level_micro: Long, trend_micro: Long, forecast_micro: Long)

  /** Scala-side reference of the fold — what every test pins to. */
  def foldOracle(xs: Seq[Double], alphaPpm: Long, betaPpm: Long): HoltOut = {
    var l = 0L
    var b = 0L
    xs.foreach { x =>
      val xm = math.round(x * 1e6)
      val lNew = (alphaPpm * xm + (1000000L - alphaPpm) * (l + b)) / 1000000L
      b = (betaPpm * (lNew - l) + (1000000L - betaPpm) * b) / 1000000L
      l = lNew
    }
    HoltOut(l, b, l + b)
  }

  class HoltAggregator(alphaPpm: Long, betaPpm: Long)
      extends Aggregator[PricePoint, ArrayBuffer[PricePoint], HoltOut] {
    require(alphaPpm >= 0 && alphaPpm <= 1000000L, "alphaPpm in [0, 1e6]")
    require(betaPpm >= 0 && betaPpm <= 1000000L, "betaPpm in [0, 1e6]")
    override def zero: ArrayBuffer[PricePoint] = ArrayBuffer.empty
    override def reduce(b: ArrayBuffer[PricePoint], a: PricePoint): ArrayBuffer[PricePoint] = {
      b += a; b
    }
    override def merge(b1: ArrayBuffer[PricePoint], b2: ArrayBuffer[PricePoint]): ArrayBuffer[PricePoint] = {
      b1 ++= b2; b1
    }
    override def finish(buf: ArrayBuffer[PricePoint]): HoltOut = {
      val sorted = buf.sortBy(p => (p.ts, p.seq, p.price))
      foldOracle(sorted.toSeq.map(_.price), alphaPpm, betaPpm)
    }
    override def bufferEncoder: Encoder[ArrayBuffer[PricePoint]] =
      Encoders.kryo[ArrayBuffer[PricePoint]]
    override def outputEncoder: Encoder[HoltOut] = Encoders.product[HoltOut]
  }

  /** Untyped (Column) form: call with the three flat columns
    * `(ts, seq, price)`; returns a struct of (level, trend, forecast)
    * micro values.
    */
  def holtUdaf(alphaPpm: Long, betaPpm: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new HoltAggregator(alphaPpm, betaPpm), Encoders.product[PricePoint])

  // ------------------------------------------------------ Holt-Winters

  final case class HoltWintersOut(
      level_micro: Long, trend_micro: Long, season_micro: Long,
      forecast_micro: Long)

  /** Scala-side reference of the ADDITIVE Holt-Winters fold — the
    * seasonal completion of the EWMA → Holt ladder. Zero-seeded
    * (l₀ = b₀ = 0 and an all-zero season ring of `period` slots, the
    * §2.3 convention), position t (1-based) reads ring slot
    * (t−1) mod period:
    *
    *   l' = (α(x − s_old) + (10⁶ − α)(l + b))  div 10⁶
    *   b' = (β(l' − l)    + (10⁶ − β) b)       div 10⁶
    *   s' = (γ(x − l')    + (10⁶ − γ) s_old)   div 10⁶   (written back)
    *
    * emitting, after the last point n: the level, trend, the NEXT
    * position's season `s_next = ring[n mod period]`, and the one-step
    * forecast `l + b + s_next`. All Long arithmetic truncating toward
    * zero (Scala `/` ≡ DuckDB `//`), so the oracle replays the fold
    * with a recursive CTE carrying the ring as a list — bit-identical.
    * γ = 0 keeps the ring at its zero seed, collapsing EXACTLY to
    * [[foldOracle]] (HoltSpec pins this).
    */
  /** ONE Holt-Winters step: the batch aggregator and the continuous
    * streaming form step with this same literal function, so the two
    * forms cannot drift. Mutates `ring` slot `t mod period`,
    * returns (l', b').
    */
  def wintersStep(
      l: Long, b: Long, ring: Array[Long], t: Long, xm: Long,
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long): (Long, Long) = {
    val idx = (t % ring.length).toInt
    val sOld = ring(idx)
    val lNew = (alphaPpm * (xm - sOld) + (1000000L - alphaPpm) * (l + b)) / 1000000L
    val bNew = (betaPpm * (lNew - l) + (1000000L - betaPpm) * b) / 1000000L
    ring(idx) = (gammaPpm * (xm - lNew) + (1000000L - gammaPpm) * sOld) / 1000000L
    (lNew, bNew)
  }

  def foldWintersOracle(
      xs: Seq[Double], alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      period: Int): HoltWintersOut = {
    var l = 0L
    var b = 0L
    val ring = Array.fill(period)(0L)
    var t = 0L
    xs.foreach { x =>
      val (l2, b2) = wintersStep(l, b, ring, t, math.round(x * 1e6),
        alphaPpm, betaPpm, gammaPpm)
      l = l2; b = b2; t += 1
    }
    val sNext = ring((t % period).toInt)
    HoltWintersOut(l, b, sNext, l + b + sNext)
  }

  /** Same scale shape as [[HoltAggregator]]: concat-merge buffers, one
    * sorted linear fold per group at finish — state O(group window),
    * the EWMA contract.
    */
  class HoltWintersAggregator(
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long, period: Int)
      extends Aggregator[PricePoint, ArrayBuffer[PricePoint], HoltWintersOut] {
    require(alphaPpm >= 0 && alphaPpm <= 1000000L, "alphaPpm in [0, 1e6]")
    require(betaPpm >= 0 && betaPpm <= 1000000L, "betaPpm in [0, 1e6]")
    require(gammaPpm >= 0 && gammaPpm <= 1000000L, "gammaPpm in [0, 1e6]")
    require(period >= 1 && period <= 366, "period in [1, 366]")
    override def zero: ArrayBuffer[PricePoint] = ArrayBuffer.empty
    override def reduce(b: ArrayBuffer[PricePoint], a: PricePoint): ArrayBuffer[PricePoint] = {
      b += a; b
    }
    override def merge(b1: ArrayBuffer[PricePoint], b2: ArrayBuffer[PricePoint]): ArrayBuffer[PricePoint] = {
      b1 ++= b2; b1
    }
    override def finish(buf: ArrayBuffer[PricePoint]): HoltWintersOut = {
      val sorted = buf.sortBy(p => (p.ts, p.seq, p.price))
      foldWintersOracle(sorted.toSeq.map(_.price), alphaPpm, betaPpm,
        gammaPpm, period)
    }
    override def bufferEncoder: Encoder[ArrayBuffer[PricePoint]] =
      Encoders.kryo[ArrayBuffer[PricePoint]]
    override def outputEncoder: Encoder[HoltWintersOut] =
      Encoders.product[HoltWintersOut]
  }

  def holtWintersUdaf(
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      period: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new HoltWintersAggregator(alphaPpm, betaPpm, gammaPpm, period),
      Encoders.product[PricePoint])
}
