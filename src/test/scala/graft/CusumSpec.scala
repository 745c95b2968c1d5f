package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.functions.{CusumFunctions, OrderedFold}
import graft.functions.CusumFunctions.CusumPoint
import graft.operators.EventAnalytics

/** Ground-truth pins for the online CUSUM fold: hand-computed alarm /
  * restart / first-alarm semantics, UDAF ≡ foldOracle, the batch operator
  * end-to-end, the continuous fold's straggler rule and the tie order.
  * The continuous twin's cross-batch equality is pinned by
  * [[ContinuousFoldSpec]].
  */
class CusumSpec extends SparkSpec {
  import spark.implicits._

  test("step: alarms fire on strict h crossing, restart at zero, slack " +
      "absorbs drift, first_alarm keeps the earliest ord") {
    val got = CusumFunctions.foldOracle(
      Seq(("d1", 4L), ("d2", 4L), ("d3", -10L), ("d4", 2L)),
      slackMicro = 1L, hMicro = 5L)
    assert(got === CusumFunctions.CusumState(1L, 0L, 1L, 1L, "d2"))
    // slack eats a sub-slack drift entirely
    val calm = CusumFunctions.foldOracle(
      (1 to 100).map(i => (f"d$i%03d", 1L)), slackMicro = 1L, hMicro = 5L)
    assert(calm === CusumFunctions.CusumState(0L, 0L, 0L, 0L, ""))
  }

  test("cusumUdaf == foldOracle regardless of row order") {
    val devs = Seq(("d1", 4L), ("d2", 4L), ("d3", -10L), ("d4", 2L))
    val want = CusumFunctions.foldOracle(devs, 1L, 5L)
    val udaf = CusumFunctions.cusumUdaf(1L, 5L)
    val got = devs.reverse.zipWithIndex
      .map { case ((ord, dev), _) => ("k", ord, 0L, dev) }
      .toDF("k", "ord", "seq", "dev")
      .repartition(4)
      .groupBy(col("k")).agg(udaf(col("ord"), col("seq"), col("dev")).as("h"))
      .select(col("h.*")).as[CusumFunctions.CusumState].head()
    assert(got === want)
    intercept[IllegalArgumentException] { CusumFunctions.cusumUdaf(-1L, 5L) }
    intercept[IllegalArgumentException] { CusumFunctions.cusumUdaf(0L, 0L) }
  }

  test("onlineCusum: hand series alarms both sides once, short groups " +
      "read zero-state sentinels") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 12:00:00")
    val rows = Seq(
      ("g", ts(1), 10.0), ("g", ts(1), 10.0), ("g", ts(2), 12.0),
      ("g", ts(3), 20.0), ("g", ts(4), 2.0), ("g", ts(5), 11.0),
      ("h", ts(1), 7.0))
      .toDF("event_type", "ts", "value")
    val got = EventAnalytics.onlineCusum(rows, "ts", "value", "event_type",
        refDays = 2, slackMicro = 1000000L, hMicro = 5000000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getString(8)))).toMap
    // g: mu = (10e6 + 12e6)/2; probe devs +9e6, -9e6, 0 with slack 1e6:
    // d3 alarms high (8e6 > 5e6), d4 alarms low, d5 absorbed
    assert(got("g") ===
      ((11000000L, 2L, 3L, 0L, 0L, 1L, 1L, "2024-03-03")))
    assert(got("h") === ((7000000L, 1L, 0L, 0L, 0L, 0L, 0L, "")))
    intercept[IllegalArgumentException] {
      EventAnalytics.onlineCusum(rows, "ts", "value", "event_type",
        refDays = 0, slackMicro = 0L, hMicro = 1L)
    }
  }

  test("straggler batches emit nothing; mixed batches fold only newer rows") {
    val f = CusumFunctions.fold(1L, 5L)
    val s0 = OrderedFold.foldBatch(f, None, Iterator(CusumPoint("d2", 1L, 9L))).get
    // 9 - 1 = 8 > 5 -> alarm + restart
    assert((s0.state.s_hi_micro, s0.state.alarms_hi, s0.state.first_alarm) === ((0L, 1L, "d2")))
    assert(OrderedFold.foldBatch(f, Some(s0), Iterator(CusumPoint("d1", 0L, 100L))).isEmpty)
    val s1 = OrderedFold.foldBatch(f, Some(s0),
      Iterator(CusumPoint("d1", 9L, 100L), CusumPoint("d3", 1L, 3L))).get
    assert((s1.state.s_hi_micro, s1.state.alarms_hi, s1.n) === ((2L, 1L, 2L)))
  }

  test("points that tie on (ord, seq) fold in full-tuple order whatever the " +
      "merge order") {
    val pts = Seq(CusumPoint("d1", 0L, 5L), CusumPoint("d2", 0L, 8L),
      CusumPoint("d2", 0L, -8L))
    val agg = new OrderedFold.Agg(CusumFunctions.fold(0L, 10L),
      Encoders.product[CusumFunctions.CusumState])
    val want = CusumFunctions.foldOracle(
      pts.sortBy(p => (p.ord, p.seq, p.dev_micro)).map(p => (p.ord, p.dev_micro)),
      slackMicro = 0L, hMicro = 10L)
    assert(want === CusumFunctions.CusumState(8L, 0L, 0L, 0L, ""))
    assert(agg.finish(ArrayBuffer.from(pts)) === want)
    assert(agg.finish(ArrayBuffer.from(pts.reverse)) === want)
  }
}
