package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.{StreamingFunnel, StreamingVelocity}

/** Pins the stateful streaming operators under heavy key skew: one user
  * owns half the event volume. The per-user state path must degrade
  * LINEARLY — funnel state is k+1 longs no matter how many events the
  * user sends (each batch is one O(B log B) sort + k linear scans), and
  * velocity state is capped by rate × lookback with every batch pruned
  * back to the cap (the update is O(m + k) merge + two monotone
  * pointers, never O(m·k)) — so the hot key costs one busy task, not an
  * OOM or a stall. Both operators must also stay CORRECT under skew:
  * stream output equals the batch operator row-for-row on the skewed
  * corpus, replayed across several micro-batches.
  */
class StreamingSkewSpec extends SparkSpec {

  import spark.implicits._

  // 60k events: user 1 owns 30k (one every 2 us); 3k cold users own 10
  // each, interleaved over the same time span. Deterministic id-derived
  // layout; 3 event types cycle so the funnel sees step traffic.
  private val hot = 30000
  private val coldUsers = 3000
  private def skewed() = {
    val hotEv = spark.range(hot).select(
      col("id").as("event_id"),
      lit(1L).as("user_id"),
      (col("id") * 2).as("tsu"),
      (col("id") % 7).cast("double").as("value"),
      element_at(array(lit("view"), lit("click"), lit("purchase")),
        (col("id") % 3 + 1).cast("int")).as("event_type"))
    val coldEv = spark.range(hot, hot + coldUsers * 10).select(
      col("id").as("event_id"),
      (col("id") % coldUsers + 2).as("user_id"),
      ((col("id") - hot) * 2 + 1).as("tsu"),
      (col("id") % 5).cast("double").as("value"),
      element_at(array(lit("view"), lit("click"), lit("purchase")),
        (col("id") % 3 + 1).cast("int")).as("event_type"))
    hotEv.unionByName(coldEv)
  }

  private def writeBatches(dir: String, nBatches: Int): Unit = {
    val ev = skewed().cache()
    val span = ev.agg(max(col("tsu"))).head.getLong(0) + 1
    (0 until nBatches).foreach { i =>
      val lo = span * i / nBatches
      val hi = span * (i + 1) / nBatches
      ev.filter(col("tsu") >= lo && col("tsu") < hi)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    }
    ev.unpersist()
  }

  test("velocity under 50% single-user skew: stream == batch, bounded state, no stall") {
    val dir = tempDir("graft-skewvel-")
    writeBatches(dir, 4)
    // lookback 10k us ≈ 5k retained events for the hot user — well under
    // its 30k total, so the per-batch prune must be doing its job for the
    // run to finish in memory
    val lookback = 10000L
    val stream = StreamingVelocity.features(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "tsu", "value", "event_id", lookback)
    val q = stream.toDF().writeStream.format("memory").queryName("skewvel")
      .outputMode("append").start()
    val t0 = System.nanoTime()
    try {
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      def key(r: org.apache.spark.sql.Row) =
        r.getAs[Long]("id") -> ((r.getAs[Long]("prev_n"), r.getAs[Long]("prev_sum_micro")))
      val streamed = spark.table("skewvel").collect().map(key).toMap
      val batch = EventAnalytics.rollingCounts(
        skewed(), "user_id", "tsu", "value", "event_id", lookback)
        .collect().map(key).toMap
      assert(streamed.size === hot + coldUsers * 10)
      assert(streamed === batch,
        "the hot user's trailing features must match the batch RANGE frame exactly")
      // a super-linear (O(m*k)) hot path would put 30k^2/2 window scans in
      // one task; the linear merge finishes the whole replay in seconds
      assert(secs < 120.0, s"skewed replay took ${secs}s — hot-key path degraded")
    } finally q.stop()
  }

  test("funnel under 50% single-user skew: stream == batch conversion, constant state") {
    val dir = tempDir("graft-skewfun-")
    writeBatches(dir, 4)
    val window = 1000000L
    val steps = Seq("view", "click", "purchase")
    val stream = StreamingFunnel.progress(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "event_type", "tsu", "event_id", steps, window)
    val q = stream.toDF().writeStream.format("memory").queryName("skewfun")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // latest progress row per user vs the batch funnel
      val streamed = spark.table("skewfun")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user").orderBy(col("nSteps").desc)))
        .filter(col("rn") === 1)
        .select(col("user"), col("times"), col("converted"))
        .collect()
        .map(r => r.getAs[Long]("user") ->
          ((r.getSeq[Long](r.fieldIndex("times")).toList,
            r.getAs[Boolean]("converted")))).toMap
      val batch = EventAnalytics.funnel(
        skewed(), "user_id", "event_type", "tsu", steps, window)
        .collect()
        .map(r => r.getAs[Long]("user") ->
          ((steps.indices.map(i => Option(r.get(r.fieldIndex(s"t${i}_us")))
              .map(_.asInstanceOf[Long]).getOrElse(-1L)).toList,
            r.getAs[Long]("converted") == 1L))).toMap
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (u, (times, conv)) =>
        assert((times, conv) === batch(u), s"user $u diverged under skew")
      }
      assert(streamed(1L)._2, "the hot user converts (all step types present)")
    } finally q.stop()
  }
}
