package graft

import org.apache.spark.sql.functions._

import graft.functions.EwmaFunctions
import graft.model.PricePoint

/** Pins the EWMA fold to the reference semantics (SURVEY.md §2.3):
  * zero seed, alpha = 2/(periodSeconds+1), strict left fold in (ts, seq)
  * order, suppression of non-positive results.
  */
class EwmaSpec extends SparkSpec {

  private val alpha = EwmaFunctions.alpha(300) // reference default: 2/301

  test("alpha matches the reference formula (indicators.rs:17)") {
    assert(EwmaFunctions.alpha(300) === 2.0 / 301.0)
    assert(EwmaFunctions.alpha(0) === 2.0)
  }

  test("fold oracle replicates the reference fold exactly") {
    // hand-computed: alpha=0.5, prices [1, 2, 4]
    // 0 -> .5*1+.5*0=.5 -> .5*2+.5*.5=1.25 -> .5*4+.5*1.25=2.625
    assert(EwmaFunctions.foldOracle(Seq(1, 2, 4), 0.5) === 2.625)
    assert(EwmaFunctions.foldOracle(Nil, 0.5) === 0.0) // empty -> 0 -> suppressed
  }

  test("ewmaOrdered (built-ins) matches the Scala oracle, in (ts,seq) order") {
    import spark.implicits._
    // deliberately out of order rows; fold order must be ts then seq
    val rows = Seq(
      (3L, 1L, 10.0), (1L, 2L, 30.0), (1L, 1L, 20.0), (2L, 1L, 40.0)
    ).toDF("ts", "seq", "price")
    val got = rows.agg(EwmaFunctions.ewmaOrdered($"ts", $"seq", $"price", alpha).as("e"))
      .head().getDouble(0)
    val want = EwmaFunctions.foldOracle(Seq(20.0, 30.0, 40.0, 10.0), alpha)
    assert(got === want)
  }

  test("EwmaAggregator (typed path) matches the built-in path bit-for-bit") {
    import spark.implicits._
    val pts = (1 to 500).map(i => PricePoint(ts = (i % 50).toLong, seq = i.toLong, price = i * 1.5))
    val df = spark.createDataset(pts).toDF()
    val viaBuiltins = df.agg(
      EwmaFunctions.ewmaOrdered(col("ts"), col("seq"), col("price"), alpha)).head().getDouble(0)
    val viaUdaf = df.agg(
      EwmaFunctions.ewmaUdaf(col("ts"), col("seq"), col("price"), lit(alpha))).head().getDouble(0)
    val oracle = EwmaFunctions.foldOracle(
      pts.sortBy(p => (p.ts, p.seq)).map(_.price), alpha)
    assert(viaBuiltins === oracle)
    assert(viaUdaf === oracle)
  }

  test("tied (ts, seq) keys fold deterministically and identically in both paths") {
    import spark.implicits._
    // duplicate sort keys with different prices, shuffled across partitions
    val pts = Seq(
      PricePoint(1L, 1L, 30.0), PricePoint(1L, 1L, 10.0), PricePoint(1L, 1L, 20.0),
      PricePoint(2L, 1L, 5.0), PricePoint(2L, 1L, 1.0))
    val df = spark.createDataset(pts).repartition(4).toDF()
    val a = df.agg(EwmaFunctions.ewmaOrdered(col("ts"), col("seq"), col("price"), 0.5)).head().getDouble(0)
    val b = df.agg(EwmaFunctions.ewmaUdaf(col("ts"), col("seq"), col("price"), lit(0.5))).head().getDouble(0)
    val want = EwmaFunctions.foldOracle(Seq(10.0, 20.0, 30.0, 1.0, 5.0), 0.5) // price tiebreak
    assert(a === want)
    assert(b === want)
  }

  test("property: ewma bounded by max for non-negative inputs (seeded random)") {
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val xs = Seq.fill(rnd.nextInt(50))(rnd.nextDouble() * 1e6)
      val e = EwmaFunctions.foldOracle(xs, alpha)
      assert(e >= 0.0)
      if (xs.nonEmpty) assert(e <= xs.max + 1e-9)
    }
  }

  test("property: order sensitivity — a reversal changes the result") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 100.0)
    assert(EwmaFunctions.foldOracle(xs, 0.5) !== EwmaFunctions.foldOracle(xs.reverse, 0.5))
  }

  test("property: window-partition identity — fold is NOT resumable across windows (state resets)") {
    // reference main.rs:111: fresh EWMA per window; two windows folded
    // independently differ from one continuous fold
    val w1 = Seq(10.0, 20.0)
    val w2 = Seq(30.0, 40.0)
    val cont = EwmaFunctions.foldOracle(w1 ++ w2, 0.5)
    val reset = EwmaFunctions.foldOracle(w2, 0.5) // second window starts at 0
    assert(cont !== reset)
  }

  test("distributed: groupBy EWMA over events matches per-group Scala oracle (sf0.001)") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", $"ts".cast("long").as("tsl"), $"event_id", $"value")
    val got = ev.groupBy($"event_type")
      .agg(EwmaFunctions.ewmaOrdered($"tsl", $"event_id", $"value", alpha).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val local = ev.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> EwmaFunctions.foldOracle(
          rows.sortBy(r => (r._2, r._3)).map(_._4).toSeq, alpha)
      }
    assert(got.keySet === local.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - local(k)) < 1e-9, s"group $k: $v vs ${local(k)}")
    }
  }
}
