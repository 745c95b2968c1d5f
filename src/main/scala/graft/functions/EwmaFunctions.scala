package graft.functions

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.functions._

/** The reference's EWMA fold, re-expressed Spark-first.
  *
  * Exact semantics (reference indicators.rs:13-26 + agg-producer
  * main.rs:106-116, pinned by SURVEY.md §2.3):
  *
  *   alpha   = 2 / (periodSeconds + 1)
  *   current = 0.0                       // zero-seeded, NOT first-sample
  *   for x in window (ts, seq) order: current = alpha*x + (1-alpha)*current
  *   emit iff current > 0                // (main.rs:118)
  *
  * Two forms with identical, test-pinned results:
  *
  *  1. [[ewmaOrdered]] — pure built-ins (collect_list + array_sort +
  *     higher-order aggregate). Oracle-checkable in any SQL engine, and
  *     the partial-aggregation (map-side collect) comes from Catalyst for
  *     free. Not whole-stage codegen'd: `collect_list` plans as
  *     `ObjectHashAggregateExec` and `SortAggregateExec`, which have no
  *     whole-stage codegen and generate their projections in every task;
  *     in a JFR profile of the streaming EWMA that work was about a fifth
  *     of the executor samples.
  *  2. [[ewmaUdaf]] — [[fold]] run by the [[OrderedFold.Agg]] kernel: a
  *     typed `Aggregator` with a mutable buffer, sorted once at `finish`.
  *     Avoids the per-row Catalyst array copy of collect_list at very
  *     large windows; the merge is a buffer concat so it parallelizes
  *     across partitions, with the O(n log n) sort deferred to the single
  *     finish call per group.
  *
  * Both keep the fold strictly sequential (left fold in IEEE-754 double) —
  * EWMA is order-sensitive and MUST NOT be computed as a parallel
  * reduction (SURVEY.md §2.3 pitfall 5).
  */
object EwmaFunctions {

  /** alpha = 2/(periodSeconds+1) — reference indicators.rs:17. */
  def alpha(periodSeconds: Long): Double = 2.0 / (periodSeconds + 1)

  /** Sequential zero-seeded EWMA fold over an already-ordered array. */
  def ewmaFold(orderedPrices: Column, alphaVal: Double): Column =
    aggregate(
      orderedPrices,
      lit(0.0),
      (acc, x) => lit(alphaVal) * x + lit(1.0 - alphaVal) * acc)

  /** Aggregation column: EWMA over the group's rows in (ts, tie) order.
    * Usage: df.groupBy(...).agg(ewmaOrdered($"ts", $"event_id", $"v", a)).
    *
    * array_sort on structs orders lexicographically by field position, so
    * (ts, tie, value) sorts by ts then tie — the pinned deterministic order.
    */
  def ewmaOrdered(ts: Column, tie: Column, value: Column, alphaVal: Double): Column =
    ewmaFold(
      transform(
        array_sort(collect_list(struct(ts.as("ts"), tie.as("tie"), value.as("v")))),
        s => s.getField("v")),
      alphaVal)

  /** One fold step, `alpha * x + (1 - alpha) * acc` — the Scala folds
    * below all call this, so they stay bit-identical to each other and to
    * [[ewmaFold]]'s `lit(alpha) * x + lit(1 - alpha) * acc`.
    */
  def step(acc: Double, x: Double, alphaVal: Double): Double =
    alphaVal * x + (1.0 - alphaVal) * acc

  /** Scala-side oracle of the fold — the truth every test pins to. */
  def foldOracle(prices: Seq[Double], alphaVal: Double): Double =
    prices.foldLeft(0.0)(step(_, _, alphaVal))

  /** Input row of [[ewmaUdaf]]: alpha rides as a fourth (constant)
    * argument because `spark.udf.register` binds one function object — a
    * pure-SQL caller has no closure to carry alpha in.
    */
  case class PricePointA(ts: Long, seq: Long, price: Double, alpha: Double)

  /** Fold state: the running value and the alpha it folds with (NaN
    * before the first point).
    */
  final case class EwmaAcc(current: Double, alpha: Double)

  /** The EWMA as an [[OrderedFold]] over (ts, seq, price). Alpha must be
    * the SAME value on every point — mixed values raise rather than
    * silently folding with one of them. The first point compares its
    * alpha with itself, so a NaN alpha raises too.
    */
  private[graft] val fold: OrderedFold[PricePointA, (Long, Long), EwmaAcc, Double] =
    new OrderedFold[PricePointA, (Long, Long), EwmaAcc, Double] {
      def zero: EwmaAcc = EwmaAcc(0.0, Double.NaN)
      def step(s: EwmaAcc, p: PricePointA): EwmaAcc = {
        require(p.alpha == (if (s.alpha.isNaN) p.alpha else s.alpha),
          "ewma_agg: alpha must be constant within a group")
        EwmaAcc(EwmaFunctions.step(s.current, p.price, p.alpha), p.alpha)
      }
      def readout(s: EwmaAcc): Double = s.current
      def key(p: PricePointA): (Long, Long) = (p.ts, p.seq)
      val order: Ordering[PricePointA] = Ordering.by(p => (p.ts, p.seq, p.price))
    }

  /** The EWMA's [[OrderedFold.Agg]] as one UDAF for both APIs: Column
    * callers pass `ewmaUdaf(ts, seq, price, lit(alpha))`, and
    * [[graft.GraftFunctions.registerAggregates]] registers it as SQL
    * `ewma_agg(ts, seq, price, alpha)`.
    */
  def ewmaUdaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new OrderedFold.Agg(fold, Encoders.scalaDouble), Encoders.product[PricePointA])
}
