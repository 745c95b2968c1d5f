package graft

import graft.operators.Associations

/** Hand-computed pins for pairwise association rules: support filtering,
  * exact ppm confidence/lift, direction asymmetry, and in-basket
  * duplicate collapse.
  */
class AssociationsSpec extends SparkSpec {

  import spark.implicits._

  test("pairRules: hand-computed confidence and lift on 4 baskets") {
    // baskets: 1:{a,b,c} 2:{a,b} 3:{a,c} 4:{b}; a=1, b=2, c=3
    // pairs >= 2: (a,b)=2, (a,c)=2; (b,c)=1 filtered
    val bi = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L),
      (4L, 2L)).toDF("bk", "it")
    val got = Associations.pairRules(bi, "bk", "it", minPairSupport = 2L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))))
      .toMap
    // n_a(a)=3 n_a(b)=3 n_a(c)=2, N=4
    assert(got.keySet === Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)))
    // a->b: conf 2/3 -> 666666; lift 4*2/(3*3) -> 888888
    assert(got((1L, 2L)) === ((2L, 3L, 3L, 4L, 666666L, 888888L)))
    // b->a: same lift, same conf (n_b = n_a = 3)
    assert(got((2L, 1L)) === ((2L, 3L, 3L, 4L, 666666L, 888888L)))
    // a->c: conf 2/3; lift 4*2/(3*2) = 4/3 -> 1333333
    assert(got((1L, 3L)) === ((2L, 3L, 2L, 4L, 666666L, 1333333L)))
    // c->a: conf 2/2 -> 1000000 (direction asymmetry), lift symmetric
    assert(got((3L, 1L)) === ((2L, 2L, 3L, 4L, 1000000L, 1333333L)))
  }

  test("pairRules: duplicate item rows within a basket collapse before counting") {
    val bi = Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("bk", "it")
    val got = Associations.pairRules(bi, "bk", "it", minPairSupport = 2L).collect()
    assert(got.length === 2)
    got.foreach { r =>
      assert(r.getAs[Long]("n_ab") === 2L, "dup (1,a) row must not inflate support")
      assert(r.getAs[Long]("confidence_ppm") === 1000000L)
    }
  }

  test("pairRules: NULL basket keys form no basket") {
    // under SQL equality a NULL key joins nothing: the two NULL-key rows
    // must not merge into a third {1, 2} basket
    val bi = Seq[(Option[Long], Long)](
      (Some(1L), 1L), (Some(1L), 2L), (Some(2L), 1L), (Some(2L), 2L),
      (None, 1L), (None, 2L)).toDF("bk", "it")
    val got = Associations.pairRules(bi, "bk", "it", minPairSupport = 2L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // (n_ab, n_a, n_b, n_baskets)
    assert(got === Map((1L, 2L) -> ((2L, 2L, 2L, 2L)),
      (2L, 1L) -> ((2L, 2L, 2L, 2L))))
  }

  test("pairRules: empty result when nothing clears the support floor") {
    val bi = Seq((1L, 1L), (1L, 2L), (2L, 3L)).toDF("bk", "it")
    assert(Associations.pairRules(bi, "bk", "it", minPairSupport = 2L).count() === 0L)
  }
}
