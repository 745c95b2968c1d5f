package graft

import graft.functions.{HoltFunctions, OrderedFold}
import graft.model.PricePoint

/** Hand-computed straggler pins for Holt's continuous fold; the replay
  * through the stream is pinned by [[ContinuousFoldSpec]].
  */
class ContinuousHoltSpec extends SparkSpec {

  test("straggler batches emit nothing; mixed batches fold only newer rows") {
    val f = HoltFunctions.holtFold(500000L, 500000L)
    val s0 = OrderedFold.foldBatch(f, None, Iterator(PricePoint(10L, 1L, 8.0))).get
    assert((s0.state.level_micro, s0.state.trend_micro) === ((4000000L, 2000000L)))
    assert(OrderedFold.foldBatch(f, Some(s0), Iterator(PricePoint(10L, 0L, 7.0))).isEmpty)
    val s1 = OrderedFold.foldBatch(f, Some(s0),
      Iterator(PricePoint(9L, 9L, 100.0), PricePoint(11L, 1L, 8.0))).get
    // only the ts=11 row folds: the hand-computed second step of HoltSpec
    assert((s1.state.level_micro, s1.state.trend_micro, s1.n) === ((7000000L, 2500000L, 2L)))
  }
}
