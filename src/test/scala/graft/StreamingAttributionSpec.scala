package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.StreamingAttribution

/** Pins the streaming attribution operator: aggregated credit ≡ the batch
  * attributeConversions output on the real events corpus replayed across
  * micro-batches, plus hand-computed window/remainder/direct cases and
  * the bounded-state prune.
  */
class StreamingAttributionSpec extends SparkSpec {

  import spark.implicits._

  private val touches = Seq("view", "click", "signup")
  private val dayUs = 86400000000L

  test("aggregated stream credit == batch attributeConversions on the corpus") {
    val dir = tempDir("graft-sattr-")
    val ev = Tables.events(spark, sfDir)
      .withColumn("tsu", unix_micros(col("ts")))
      .select("user_id", "event_type", "tsu", "event_id", "value")
      .cache()
    // 4 time-range batches: integer bounds keep equal timestamps co-batched
    val bounds = ev.agg(min("tsu"), max("tsu")).head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1) + 1)
    (0 until 4).foreach { i =>
      ev.filter(col("tsu") >= lo + (hi - lo) * i / 4 &&
          col("tsu") < lo + (hi - lo) * (i + 1) / 4)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    }
    val stream = StreamingAttribution.credits(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "event_type", "tsu", "event_id", "value", touches, "purchase", dayUs)
    val q = stream.toDF().writeStream.format("memory").queryName("sattr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sattr")
        .groupBy(col("channel"))
        .agg(count(when(col("tid") =!= -1L, 1)).as("touches"),
          count_distinct(col("cid")).as("conversions"),
          sum(col("first_c")).as("first_micro"),
          sum(col("last_c")).as("last_micro"),
          sum(col("linear_c")).as("linear_micro"),
          sum(col("pos_c")).as("position_micro"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6)))).toMap
      val batch = EventAnalytics.attributeConversions(
          ev, "user_id", "event_type", "tsu", "event_id", "value",
          touches, "purchase", dayUs)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6)))).toMap
      assert(streamed === batch,
        "per-channel credit must equal the batch operator on the replayed corpus")
    } finally q.stop()
  }

  private def replay(rows: Seq[(Long, String, Long, Long, Double)], batches: Seq[Range])(
      window: Long): Map[(Long, Long), (String, Long, Long, Long)] = {
    val dir = tempDir("graft-sattr-h-")
    val df = rows.toDF("user_id", "event_type", "tsu", "event_id", "value")
    batches.foreach { r =>
      df.filter(col("event_id").isin(r.map(_.toLong): _*))
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    }
    val stream = StreamingAttribution.credits(
      spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in"),
      "user_id", "event_type", "tsu", "event_id", "value", Seq("A", "B"), "buy", window)
    val q = stream.toDF().writeStream.format("memory").queryName("sattr_h")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table("sattr_h").collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("tid")) ->
          ((r.getAs[String]("channel"), r.getAs[Long]("first_c"),
            r.getAs[Long]("last_c"), r.getAs[Long]("linear_c")))).toMap
    } finally q.stop()
  }

  test("hand case: remainder to first touch, cross-batch window, direct fallback") {
    // batch 1: touches A@10(id1), B@20(id2); batch 2: A@30(id3),
    // buy@40(id4, v=10), buy@200(id5, v=2.5) — second buy's window [100,
    // 200] has no touches -> direct
    val got = replay(
      Seq((1L, "A", 10L, 1L, 0.0), (1L, "B", 20L, 2L, 0.0),
        (1L, "A", 30L, 3L, 0.0), (1L, "buy", 40L, 4L, 10.0),
        (1L, "buy", 200L, 5L, 2.5)),
      Seq(1 to 2, 3 to 5))(window = 100L)
    assert(got === Map(
      (4L, 1L) -> (("A", 10000000L, 0L, 3333334L)),
      (4L, 2L) -> (("B", 0L, 0L, 3333333L)),
      (4L, 3L) -> (("A", 0L, 10000000L, 3333333L)),
      (5L, -1L) -> (("direct", 2500000L, 2500000L, 2500000L))))
  }

  test("hand case: stale touches pruned across batches never credit") {
    // touch in batch 1 at t=10; conversion in batch 2 at t=500 with
    // window 100: [400, 500] excludes it -> direct
    val got = replay(
      Seq((1L, "A", 10L, 1L, 0.0), (1L, "buy", 500L, 2L, 8.0)),
      Seq(1 to 1, 2 to 2))(window = 100L)
    assert(got === Map((2L, -1L) -> (("direct", 8000000L, 8000000L, 8000000L))))
  }

  test("touch state survives a stop/restart from checkpoint") {
    val in = tempDir("graft-sattr-ckpt-in-")
    val out = tempDir("graft-sattr-ckpt-out-")
    val ckpt = tempDir("graft-sattr-ckpt-")
    val schema = Seq((0L, "", 0L, 0L, 0.0))
      .toDF("user_id", "event_type", "tsu", "event_id", "value").schema

    def start() = StreamingAttribution.credits(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/c_*"),
      "user_id", "event_type", "tsu", "event_id", "value",
      Seq("A", "B"), "buy", windowMicros = 1000L)
      .toDF().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // phase 1: two touches arrive, then the query "crashes"
    Seq((1L, "A", 100L, 1L, 0.0), (1L, "B", 200L, 2L, 0.0))
      .toDF("user_id", "event_type", "tsu", "event_id", "value")
      .coalesce(1).write.parquet(s"$in/c_0")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: the conversion lands after restart — it credits BOTH
    // pre-crash touches only if the touch list was recovered from state
    Seq((1L, "buy", 300L, 3L, 6.0))
      .toDF("user_id", "event_type", "tsu", "event_id", "value")
      .coalesce(1).write.parquet(s"$in/c_1")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("tid") ->
        ((r.getAs[String]("channel"), r.getAs[Long]("linear_c")))).toMap
    assert(rows === Map(
      1L -> (("A", 3000000L)), 2L -> (("B", 3000000L))),
      "post-restart conversion must credit the pre-crash touches from recovered state")
  }

  test("same-timestamp touch credits its conversion regardless of id order") {
    // touch id HIGHER than the conversion's at the same instant: the
    // batch join's time-only predicate includes it; the stream must too
    val got = replay(
      Seq((1L, "buy", 50L, 1L, 1.0), (1L, "A", 50L, 2L, 0.0)),
      Seq(1 to 2))(window = 100L)
    assert(got === Map((1L, 2L) -> (("A", 1000000L, 1000000L, 1000000L))))
  }
}
