package graft

import graft.functions.{EwmaFunctions, OrderedFold}
import graft.functions.EwmaFunctions.PricePointA

/** Hand-computed straggler pins for the EWMA's continuous fold; the
  * replay through the stream is pinned by [[ContinuousFoldSpec]].
  */
class ContinuousEwmaSpec extends SparkSpec {

  test("a batch of only out-of-order stragglers emits nothing and leaves state unchanged") {
    def fold(prev: Option[OrderedFold.Door[EwmaFunctions.EwmaAcc, (Long, Long)]],
        pts: (Long, Long, Double)*) =
      OrderedFold.foldBatch(EwmaFunctions.fold, prev,
        pts.iterator.map { case (ts, seq, p) => PricePointA(ts, seq, p, 0.5) })
    val s0 = fold(None, (10L, 1L, 5.0)).get
    // all rows at-or-before the high-water mark -> None (no duplicate emit)
    assert(fold(Some(s0), (9L, 1L, 7.0), (10L, 1L, 7.0)).isEmpty)
    // a mixed batch folds only the newer rows
    val s1 = fold(Some(s0), (9L, 9L, 100.0), (11L, 1L, 3.0)).get
    assert(s1.n === 2 && s1.state.current === 0.5 * 3.0 + 0.5 * s0.state.current)
  }
}
