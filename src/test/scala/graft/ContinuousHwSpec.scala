package graft

import graft.functions.{HoltFunctions, OrderedFold}
import graft.model.PricePoint

/** Straggler pins for Holt-Winters' continuous fold: rows below the
  * high-water mark must not disturb the ring position. The replay
  * through the stream is pinned by [[ContinuousFoldSpec]].
  */
class ContinuousHwSpec extends SparkSpec {

  test("straggler rows below the high-water mark fold nothing") {
    val f = HoltFunctions.wintersFold(500000L, 500000L, 500000L, 3)
    val s0 = OrderedFold.foldBatch(f, None, Iterator(PricePoint(10L, 1L, 8.0))).get
    assert(s0.state.t === 1L)
    assert(OrderedFold.foldBatch(f, Some(s0), Iterator(PricePoint(10L, 0L, 7.0))).isEmpty)
    // mixed batch: only the newer row folds, ring advances exactly once
    val s1 = OrderedFold.foldBatch(f, Some(s0),
      Iterator(PricePoint(9L, 9L, 100.0), PricePoint(11L, 1L, 8.0))).get
    assert(s1.state.t === 2L, "straggler must not advance the ring position")
  }
}
