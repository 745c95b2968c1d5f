package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}

import graft.streaming.{ContinuousCusum, ContinuousEwma, ContinuousHolt, ContinuousHoltWinters}

/** Each continuous smoother door must equal its batch oracle EXACTLY,
  * however the stream is chopped into micro-batches: one table row per
  * smoother. The replay stages four parquet chunks, read one per
  * micro-batch: two of fresh points, one of stragglers only (per key an
  * older (ts, seq) and the last folded (ts, seq) re-sent with another
  * value), and one that mixes stragglers with newer points.
  */
class ContinuousFoldSpec extends SparkSpec {

  /** A smoother's door over samples built from (key, ts, seq, value): the
    * columns its updates are compared on, its batch oracle projected to
    * them, and a predicate some key's final oracle state must meet (so the
    * comparison exercises the smoother, not only its zero state).
    */
  case class Smoother[A](
      name: String, point: (String, Long, Long, Double) => A,
      value: Long => Double, run: Dataset[A] => DataFrame, cols: Seq[String],
      oracle: Seq[A] => Map[String, Seq[Any]], live: Seq[Any] => Boolean)(
      implicit val enc: Encoder[A])

  private def fields(m: Map[String, Product]): Map[String, Seq[Any]] =
    m.map { case (k, o) => k -> o.productIterator.toSeq }

  private val smoothers = Seq(
    Smoother[ContinuousEwma.Sample]("ewma", ContinuousEwma.Sample(_, _, _, _),
      i => (i % 17) * 1.0 + 1, ContinuousEwma.run(_, 0.1).toDF(), Seq("current"),
      s => ContinuousEwma.batchOracle(s, 0.1).map { case (k, v) => k -> Seq(v) },
      _.head != 0.0)(Encoders.product),
    Smoother[ContinuousHolt.Sample]("holt", ContinuousHolt.Sample(_, _, _, _),
      i => (i % 17) * 1.25 + 1, ContinuousHolt.run(_, 300000L, 100000L).toDF(),
      Seq("level_micro", "trend_micro", "forecast_micro"),
      s => fields(ContinuousHolt.batchOracle(s, 300000L, 100000L)),
      _(1) != 0L)(Encoders.product),
    Smoother[ContinuousHolt.Sample]("hw", ContinuousHolt.Sample(_, _, _, _),
      i => Seq(5.0, 20.0, 10.0, 40.0)((i % 4).toInt) + i * 0.05,
      ContinuousHoltWinters.run(_, 300000L, 100000L, 200000L, 4).toDF(),
      Seq("level_micro", "trend_micro", "season_micro", "forecast_micro"),
      s => fields(ContinuousHoltWinters.batchOracle(s, 300000L, 100000L, 200000L, 4)),
      _(2) != 0L)(Encoders.product),
    Smoother[ContinuousCusum.Sample]("cusum",
      (k, ts, seq, v) => ContinuousCusum.Sample(k, f"t$ts%04d", seq, v.toLong),
      i => ((i % 23) - 11) * 1e6, ContinuousCusum.run(_, 1000000L, 5000000L).toDF(),
      Seq("s_hi_micro", "s_lo_micro", "alarms_hi", "alarms_lo", "first_alarm"),
      s => fields(ContinuousCusum.batchOracle(s, 1000000L, 5000000L)),
      w => w(2) != 0L || w(3) != 0L)(Encoders.product))

  /** Stage each chunk as one parquet file, replay them one per
    * micro-batch through `d.run` into a memory sink, and return every
    * update as (key, n, compared columns) with the number of batches that
    * read rows.
    */
  private def replay[A](d: Smoother[A], chunks: Seq[Seq[A]]): (Seq[(String, Long, Seq[Any])], Int) = {
    val dir = tempDir(s"graft-${d.name}-")
    chunks.zipWithIndex.foreach { case (c, i) =>
      spark.createDataset(c)(d.enc).coalesce(1).write.parquet(s"$dir/part_$i")
    }
    val stream = spark.readStream.schema(d.enc.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/part_*")
    val q = d.run(stream.as[A](d.enc)).writeStream.format("memory")
      .queryName(s"cont_${d.name}").outputMode("append").start()
    try {
      q.processAllAvailable()
      val updates = spark.table(s"cont_${d.name}").select("key", ("n" +: d.cols): _*)
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.toSeq.drop(2)))
      (updates, q.recentProgress.count(_.numInputRows > 0))
    } finally q.stop()
  }

  private def check[A](d: Smoother[A]): Unit = {
    val keys = Seq("k0", "k1", "k2")
    def key(i: Long) = keys((i % 3).toInt)
    // fresh points: (ts, seq) unique per key, the door's contract
    val fresh = (1L to 230L).map(i => key(i) -> d.point(key(i), i, i, d.value(i)))
    // per key: an older (ts, seq) that never folded, and the key's last
    // folded (ts, seq) after chunk 1 re-sent with another value
    def stale(back: Long) = (198L to 200L).flatMap(i => Seq(
      d.point(key(i), i - back, i + 1000L, d.value(i) + 3),
      d.point(key(i), i, i, d.value(i) + 7)))
    val chunks = fresh.map(_._2).grouped(100).toSeq.take(2) ++
      Seq(stale(150L), stale(100L) ++ fresh.drop(200).map(_._2))
    val (updates, batches) = replay(d, chunks)
    assert(batches === 4, "one micro-batch per staged chunk")

    // every update, intermediate or final, is the fold of its prefix
    updates.foreach { case (k, n, got) =>
      val prefix = fresh.collect { case (`k`, p) => p }.take(n.toInt)
      assert(got === d.oracle(prefix)(k), s"$k after $n points")
    }
    // the final state is the global fold; the mixed batch folded only
    // its 10 newer points per key
    val want = d.oracle(fresh.map(_._2))
    val last = updates.groupBy(_._1).map { case (k, us) => k -> us.maxBy(_._2) }
    assert(last.keySet === keys.toSet)
    last.foreach { case (k, (_, n, got)) =>
      assert(n === fresh.count(_._1 == k) && got === want(k),
        s"$k diverged from the global fold")
    }
    // the all-straggler batch emitted nothing: one update per key for
    // each of the three batches with fresh points, no (key, n) repeated
    assert(updates.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 3))
    assert(updates.size === 9)
    // the pins bite: folding the stragglers would change the result,
    // and the smoother left its zero state
    assert(d.oracle(fresh.map(_._2) ++ stale(150L) ++ stale(100L)) != want)
    assert(want.values.exists(d.live))
  }

  smoothers.foreach { d =>
    test(s"[${d.name}] stream == batch oracle per micro-batch; stragglers never fold")(check(d))
  }
}
