package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.StreamingFunnel

/** Pins the streaming funnel's contract: under event-time-ordered replay
  * the final per-user progress equals the batch operator; a chain that
  * straddles the micro-batch boundary REQUIRES state; redelivered /
  * late events never regress reported progress.
  */
class StreamingFunnelSpec extends SparkSpec {

  private val W = 86400L * 1000000L // 24h
  private val steps = Seq("view", "click", "purchase")

  /** Latest progress per user = the row with max nSteps (progress is
    * monotone and slots never change once set, so ties are identical).
    */
  private def finalRows(table: String): Map[Long, (Seq[Long], Int, Boolean)] =
    spark.table(table).collect()
      .map(r => (r.getAs[Long]("user"),
        (r.getAs[Seq[Long]]("times"), r.getAs[Int]("nSteps"), r.getAs[Boolean]("converted"))))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._2).maxBy(_._2) }

  test("ordered replay across micro-batches equals the batch funnel; redelivery never regresses") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("tsu", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_type"), col("tsu"))
    val cut = "2024-01-16"
    val early = ev.filter(col("tsu") < unix_micros(to_timestamp(lit(cut))))
    val late = ev.filter(col("tsu") >= unix_micros(to_timestamp(lit(cut))))
    assert(early.count() > 0 && late.count() > 0, "both time slices must be non-empty")
    val dir = tempDir("graft-sfunnel-")
    early.coalesce(1).write.parquet(s"$dir/in") // arrives first
    late.coalesce(1).write.mode("append").parquet(s"$dir/in")

    val stream = StreamingFunnel.progress(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "event_type", "tsu", "event_id", steps, W)
    val q = stream.toDF().writeStream.format("memory").queryName("sfunnel")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = finalRows("sfunnel")

      val batch = EventAnalytics.funnel(ev, "user_id", "event_type", "tsu", steps, W)
        .collect().map { r =>
          val times = Seq("t0_us", "t1_us", "t2_us")
            .map(c => if (r.isNullAt(r.fieldIndex(c))) -1L else r.getAs[Long](c))
          r.getAs[Long]("user") ->
            ((times, r.getAs[Long]("n_steps").toInt, r.getAs[Long]("converted") == 1L))
        }.toMap
      assert(streamed === batch, "final streamed progress must equal the batch funnel")
      assert(batch.values.exists(_._3) && batch.values.exists(!_._3),
        "corpus exercises both converted and unconverted users")

      // redelivery of the first slice AFTER later events: every chain slot
      // is already set or legitimately unreachable — progress is unchanged
      early.coalesce(1).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      assert(finalRows("sfunnel") === batch, "late redelivery must not regress progress")
    } finally q.stop()
  }

  test("funnel state survives a stop/restart from checkpoint") {
    import spark.implicits._
    val in = tempDir("graft-sfunnel-ckpt-in-")
    val out = tempDir("graft-sfunnel-ckpt-out-")
    val ckpt = tempDir("graft-sfunnel-ckpt-")

    def start() = StreamingFunnel.progress(
      spark.readStream.schema(
          Seq((0L, 0L, "", 0L)).toDF("event_id", "user_id", "event_type", "tsu").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/c_*"),
      "user_id", "event_type", "tsu", "event_id", steps, windowMicros = 1000L)
      .toDF().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // phase 1: the view arrives, then the query "crashes"
    Seq((1L, 7L, "view", 100L)).toDF("event_id", "user_id", "event_type", "tsu")
      .coalesce(1).write.parquet(s"$in/c_0")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: click+purchase arrive while down; restart from checkpoint —
    // the chain completes ONLY if t0 was recovered from state
    Seq((2L, 7L, "click", 200L), (3L, 7L, "purchase", 300L))
      .toDF("event_id", "user_id", "event_type", "tsu")
      .coalesce(1).write.parquet(s"$in/c_1")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Int]("nSteps"), r.getAs[Boolean]("converted")))
    assert(rows.toSet === Set((1, false), (3, true)),
      "batch-1 progress (1 step) and post-restart completion (3 steps) both recorded")
  }

  test("equal-timestamp events in one batch resolve like the batch operator, any arrival order") {
    import spark.implicits._
    // click(id=1) sorts BEFORE the view(id=2) it depends on, at the same
    // tsu; a later click(id=4) must NOT win the slot over the tied one
    val rows = Seq(
      (1L, 5L, "click", 100L), (2L, 5L, "view", 100L),
      (4L, 5L, "click", 150L), (3L, 5L, "purchase", 150L))
    val dir = tempDir("graft-sfunnel3-")
    rows.toDF("event_id", "user_id", "event_type", "tsu")
      .coalesce(1).write.parquet(s"$dir/in")
    val stream = StreamingFunnel.progress(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "event_type", "tsu", "event_id", steps, windowMicros = 1000L)
    val q = stream.toDF().writeStream.format("memory").queryName("sfunnel3")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val fin = finalRows("sfunnel3")(5L)
      // batch semantics: t0 = 100 (view), t1 = min click >= 100 = 100
      // (the tied click counts), t2 = 150
      assert(fin === ((Seq(100L, 100L, 150L), 3, true)))
      val batch = EventAnalytics.funnel(
        rows.toDF("event_id", "user_id", "event_type", "tsu"),
        "user_id", "event_type", "tsu", steps, 1000L).collect().head
      assert(batch.getAs[Long]("t1_us") === 100L, "stream matches the batch chained-min")
    } finally q.stop()
  }

  test("a chain straddling the batch boundary requires and uses state") {
    import spark.implicits._
    val b1 = Seq((1L, 10L, "view", 100L)) // view in batch 1
    val b2 = Seq((2L, 10L, "click", 200L), (3L, 10L, "purchase", 300L))
    val dir = tempDir("graft-sfunnel2-")
    b1.toDF("event_id", "user_id", "event_type", "tsu")
      .coalesce(1).write.parquet(s"$dir/in")
    b2.toDF("event_id", "user_id", "event_type", "tsu")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")

    val stream = StreamingFunnel.progress(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "user_id", "event_type", "tsu", "event_id", steps, windowMicros = 1000L)
    val q = stream.toDF().writeStream.format("memory").queryName("sfunnel2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val fin = finalRows("sfunnel2")(10L)
      assert(fin === ((Seq(100L, 200L, 300L), 3, true)),
        "steps 2-3 complete only because batch-1 state carried t0")
    } finally q.stop()
  }
}
