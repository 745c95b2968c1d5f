package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{StreamingFunnel, StreamingSessionize, StreamingVelocity}

/** Pins the idle-eviction contract of the stateful streaming operators:
  * with `idleTimeoutMs > 0`, a user idle across micro-batches longer than
  * the timeout is evicted (state bounded by the ACTIVE population), and
  * their next event observes exactly the documented reset semantics —
  * sessionize restarts numbering at 1, velocity sees an empty trailing
  * window, funnel starts a fresh chain. Each test replays the identical
  * event sequence WITHOUT a timeout as the control, proving the
  * difference is eviction and nothing else.
  *
  * Harness shape: with ProcessingTimeTimeout configured, Spark keeps
  * scheduling timeout-check micro-batches even with no new data, so
  * `processAllAvailable` NEVER quiesces — the tests instead poll the
  * query's cumulative `numInputRows` until every appended source row has
  * been processed (progress is posted after a batch commits, so the sink
  * is then complete), under an explicit 200 ms trigger. The idle sleep
  * itself hosts the eviction: timeouts fire in batches where the group
  * has no data, and the empty timeout-check batches qualify. Timeout
  * 2 s, idle sleep 3.5 s — generous margins so scheduler jitter cannot
  * flip the outcome.
  */
class StreamingEvictionSpec extends SparkSpec {

  import spark.implicits._

  private val timeoutMs = 2000L
  private val idleSleepMs = 3500L

  /** Writes batch 0, starts the wired stream, then per remaining batch:
    * optionally sleeps (the idle gap), appends the batch as one file, and
    * polls until the query has processed all rows appended so far.
    */
  private def replay(
      name: String,
      batches: Seq[DataFrame],
      sleepBefore: Map[Int, Long],
      wire: DataFrame => DataFrame): Array[org.apache.spark.sql.Row] = {
    val dir = tempDir(s"graft-evict-$name-")
    batches.head.coalesce(1).write.parquet(s"$dir/in")
    val src = spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = wire(src).writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    def awaitInput(n: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (q.recentProgress.map(_.numInputRows).sum < n) {
        if (q.exception.isDefined) throw q.exception.get
        require(System.nanoTime() < deadline, s"query never consumed $n input rows")
        Thread.sleep(100)
      }
    }
    try {
      var cum = batches.head.count()
      awaitInput(cum)
      batches.indices.drop(1).foreach { i =>
        sleepBefore.get(i).foreach(Thread.sleep)
        batches(i).coalesce(1).write.mode("append").parquet(s"$dir/in")
        cum += batches(i).count()
        awaitInput(cum)
      }
      spark.table(name).collect()
    } finally q.stop()
  }

  test("sessionize: idle eviction restarts the numbering epoch; no timeout continues it") {
    // user 4: two sessions (t=100, t=5000 with gap 1000), then idle, then
    // t=5500 (inside the gap of t=5000).
    val batches = Seq(
      Seq((1L, 4L, 100L), (2L, 4L, 5000L)).toDF("event_id", "user_id", "tsu"),
      Seq((3L, 4L, 5500L)).toDF("event_id", "user_id", "tsu"))
    def run(name: String, idle: Long) = replay(name, batches,
      sleepBefore = if (idle > 0) Map(1 -> idleSleepMs) else Map.empty,
      src => StreamingSessionize.assign(
        src, "user_id", "tsu", "event_id", gapMicros = 1000L,
        idleTimeoutMs = idle).toDF())
    val control = run("sevict_ctl", 0L)
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("session_idx")).toMap
    assert(control(3L) === 2L,
      "control (no timeout): the small-gap event continues session 2")
    val evicted = run("sevict_on", timeoutMs)
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("session_idx")).toMap
    assert(evicted(1L) === 1L && evicted(2L) === 2L)
    assert(evicted(3L) === 1L,
      "after eviction the user's numbering restarts at 1 — state was dropped")
  }

  test("velocity: idle eviction empties the trailing window; no timeout retains it") {
    val batches = Seq(
      Seq((1L, 4L, 100L, 2.0)).toDF("event_id", "user_id", "tsu", "value"),
      Seq((2L, 4L, 200L, 3.0)).toDF("event_id", "user_id", "tsu", "value"))
    def run(name: String, idle: Long) = replay(name, batches,
      sleepBefore = if (idle > 0) Map(1 -> idleSleepMs) else Map.empty,
      src => StreamingVelocity.features(
        src, "user_id", "tsu", "value", "event_id",
        lookbackMicros = 10000L, idleTimeoutMs = idle).toDF())
    val control = run("vevict_ctl", 0L)
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("prev_n"), r.getAs[Long]("prev_sum_micro"))).toMap
    assert(control(2L) === ((1L, 2000000L)),
      "control: the t=100 point is inside t=200's trailing window")
    val evicted = run("vevict_on", timeoutMs)
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("prev_n"), r.getAs[Long]("prev_sum_micro"))).toMap
    assert(evicted(2L) === ((0L, 0L)),
      "after eviction the retained history is gone — empty trailing window")
  }

  test("funnel: idle eviction forgets the partial chain; no timeout completes it") {
    val batches = Seq(
      Seq((1L, 4L, 100L, "a")).toDF("event_id", "user_id", "tsu", "event_type"),
      Seq((2L, 4L, 200L, "b")).toDF("event_id", "user_id", "tsu", "event_type"))
    def run(name: String, idle: Long) = replay(name, batches,
      sleepBefore = if (idle > 0) Map(1 -> idleSleepMs) else Map.empty,
      src => StreamingFunnel.progress(
        src, "user_id", "event_type", "tsu", "event_id",
        steps = Seq("a", "b"), windowMicros = 10000L,
        idleTimeoutMs = idle).toDF())
    val control = run("fevict_ctl", 0L)
    assert(control.exists(r => r.getAs[Boolean]("converted")),
      "control: the batch-2 step-b event completes the chain")
    val evicted = run("fevict_on", timeoutMs).filter(_.getAs[Long]("user") == 4L)
    assert(evicted.nonEmpty, "the batch-1 step-a progress row was emitted")
    assert(!evicted.exists(r => r.getAs[Boolean]("converted")),
      "after eviction the step-a time is forgotten; step-b alone cannot convert")
    assert(evicted.forall(r => r.getAs[Int]("nSteps") <= 1),
      "no chain extends past the evicted step-a")
  }
}
