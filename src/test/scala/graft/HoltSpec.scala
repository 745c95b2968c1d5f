package graft

import org.apache.spark.sql.functions._

import graft.functions.HoltFunctions

/** Ground-truth pins for the integer fixed-point Holt fold: hand-computed
  * steps, trend-sign behavior, and aggregator ≡ fold-oracle equality on
  * the real corpus under repartitioning (order-sensitivity guard).
  */
class HoltSpec extends SparkSpec {

  import spark.implicits._

  test("foldOracle: hand-computed two steps (alpha=0.5, beta=0.5)") {
    // x1=8: l=(5e5*8e6 + 5e5*0) div 1e6 = 4e6; b=(5e5*4e6) div 1e6 = 2e6
    // x2=8: l=(5e5*8e6 + 5e5*6e6) div 1e6 = 7e6
    //       b=(5e5*(7e6-4e6) + 5e5*2e6) div 1e6 = 2.5e6
    val got = HoltFunctions.foldOracle(Seq(8.0, 8.0), 500000L, 500000L)
    assert(got === HoltFunctions.HoltOut(7000000L, 2500000L, 9500000L))
  }

  test("foldOracle: steady ramp yields a positive trend, flat series decays it") {
    val ramp = HoltFunctions.foldOracle((1 to 50).map(_.toDouble), 300000L, 100000L)
    assert(ramp.trend_micro > 0, "increasing series must carry positive trend")
    val flat = HoltFunctions.foldOracle(Seq.fill(200)(5.0), 300000L, 100000L)
    // truncating divisions leak a few micro per step near the fixed point
    // (the PageRank mass convention) — the level parks a hair under x
    assert(math.abs(flat.level_micro - 5000000L) <= 5L,
      s"flat series level ${flat.level_micro} strayed from 5e6")
    assert(math.abs(flat.trend_micro) <= 2L, "flat series trend decays to ~0")
  }

  test("aggregator == foldOracle on the corpus, exact under repartitioning") {
    val holt = HoltFunctions.holtUdaf(300000L, 100000L)
    def run(rep: Int) = Tables.events(spark, sfDir)
      .repartition(rep)
      .withColumn("tsl", unix_micros(col("ts")))
      .groupBy(col("event_type"))
      .agg(holt(col("tsl"), col("event_id"), col("value")).as("h"))
      .select(col("event_type"), col("h.level_micro"), col("h.trend_micro"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val a = run(3)
    assert(a === run(17), "merge-order must not affect the sorted fold")
    // driver-side reference on one group
    val rows = Tables.events(spark, sfDir)
      .withColumn("tsl", unix_micros(col("ts")))
      .filter(col("event_type") === "click")
      .select("tsl", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).map(_._3).toSeq
    val ref = HoltFunctions.foldOracle(rows, 300000L, 100000L)
    assert(a("click") === ((ref.level_micro, ref.trend_micro)))
  }

  // ------------------------------------------------------ Holt-Winters

  test("foldWintersOracle: gamma=0 collapses exactly to the Holt fold") {
    val xs = (1 to 60).map(i => (i % 7) * 2.0 + i * 0.1)
    val hw = HoltFunctions.foldWintersOracle(xs, 300000L, 100000L, 0L, 7)
    val h = HoltFunctions.foldOracle(xs, 300000L, 100000L)
    assert(hw.level_micro === h.level_micro)
    assert(hw.trend_micro === h.trend_micro)
    assert(hw.season_micro === 0L, "zero gamma keeps the zero-seeded ring")
    assert(hw.forecast_micro === h.forecast_micro)
  }

  test("foldWintersOracle: independent BigInt replica on a seasonal series") {
    // re-derive with BigInt arithmetic and an explicit ring — catches
    // any overflow/rounding slip in the Long implementation
    val xs = (1 to 80).map(i => Seq(10.0, 30.0, 20.0, 50.0)((i - 1) % 4))
    val (a, b0, g, m) = (400000L, 200000L, 300000L, 4)
    var l = BigInt(0); var b = BigInt(0)
    val ring = Array.fill(m)(BigInt(0))
    xs.zipWithIndex.foreach { case (x, t) =>
      val xm = BigInt(math.round(x * 1e6))
      val sOld = ring(t % m)
      val lNew = (a * (xm - sOld) + (1000000L - a) * (l + b)) / 1000000
      b = (b0 * (lNew - l) + (1000000L - b0) * b) / 1000000
      ring(t % m) = (g * (xm - lNew) + (1000000L - g) * sOld) / 1000000
      l = lNew
    }
    val got = HoltFunctions.foldWintersOracle(xs, a, b0, g, m)
    assert(got.level_micro === l.toLong && got.trend_micro === b.toLong)
    assert(got.season_micro === ring(xs.length % m).toLong)
    // the learned week tracks the pattern: season for a high slot beats
    // a low slot
    assert(ring(3) > ring(0), "the 50-valued slot must carry more season")
  }

  test("holtWintersUdaf == foldWintersOracle on the corpus under repartitioning") {
    val hw = HoltFunctions.holtWintersUdaf(300000L, 100000L, 200000L, 7)
    def run(rep: Int) = Tables.events(spark, sfDir)
      .repartition(rep)
      .withColumn("day_us",
        expr("(unix_micros(ts) DIV 86400000000) * 86400000000"))
      .groupBy(col("event_type"), col("day_us"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(hw(col("day_us"), lit(0L), col("c").cast("double")).as("h"))
      .select(col("event_type"), col("h.level_micro"), col("h.season_micro"),
        col("h.forecast_micro"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val a = run(3)
    assert(a === run(13), "merge-order must not affect the sorted fold")
    val series = Tables.events(spark, sfDir)
      .withColumn("day_us",
        expr("(unix_micros(ts) DIV 86400000000) * 86400000000"))
      .filter(col("event_type") === "click")
      .groupBy(col("day_us")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).map(_._2.toDouble).toSeq
    val ref = HoltFunctions.foldWintersOracle(series, 300000L, 100000L, 200000L, 7)
    assert(a("click") ===
      ((ref.level_micro, ref.season_micro, ref.forecast_micro)))
  }

  test("HoltWintersAggregator guards its parameter ranges") {
    intercept[IllegalArgumentException] {
      HoltFunctions.holtWintersUdaf(300000L, 100000L, 1000001L, 7)
    }
    intercept[IllegalArgumentException] {
      HoltFunctions.holtWintersUdaf(300000L, 100000L, 200000L, 0)
    }
  }
}
