package graft

import org.apache.spark.sql.functions._

import graft.operators.WebCuration
import graft.streaming.TwsFrontier

/** The streaming politeness frontier must equal the per-arrival-batch
  * composition of the batch operator with slot continuation, on the
  * real q304 inputs replayed across micro-batches; TTL'd hosts restart
  * their numbering (the documented fresh-frontier semantics).
  */
class TwsFrontierSpec extends SparkSpec {

  private def withRocksDb[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream == per-batch composition with slot continuation on the " +
      "real q304 frontier replayed across two micro-batches") {
    val docs = Tables.table(spark, sfDir, "documents")
    val urls = docs.select(col("doc_id"),
        (col("doc_id") % 40).as("host"),
        concat(lit("/Articles/"), expr("doc_id DIV 7").cast("string"))
          .as("path"),
        col("n_chars").cast("bigint").as("priority"))
      .limit(400)
    val rules = WebCuration.robotsRules(
      urls.select(col("host")).distinct()
        .withColumn("robots", WebCuration.robotsSynth(col("host"))),
      "robots", "host")
    val gated = WebCuration.robotsAllowed(urls, rules, "graftbot")
      .select(col("doc_id"), col("host"), col("priority"), col("allowed"),
        col("crawl_delay_s"))
    gated.persist()
    val splitAt = 200L
    val b0 = gated.filter(col("doc_id") < splitAt)
    val b1 = gated.filter(col("doc_id") >= splitAt)

    // batch twin: frontierSchedule per arrival batch, slots continued by
    // the host's batch-0 count
    def sched(df: org.apache.spark.sql.DataFrame) =
      WebCuration.frontierSchedule(df, "host", "priority", "doc_id")
        .select(col("doc_id"), col("host"), col("slot"),
          col("crawl_delay_s"))
    val s0 = sched(b0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val counts0 = s0.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val twin = (s0.map { case (id, h, slot, d) =>
      id -> ((h, slot, (slot - 1) * d))
    } ++ sched(b1).collect().map { r =>
      val (id, h, slot, d) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val cont = slot + counts0.getOrElse(h, 0L)
      id -> ((h, cont, (cont - 1) * d))
    }).toMap

    // the stream over the same two arrival batches
    val dir = tempDir("graft-twsfr-")
    b0.coalesce(1).write.parquet(s"$dir/in")
    Thread.sleep(20)
    b1.coalesce(1).write.mode("append").parquet(s"$dir/in")
    val streamed = withRocksDb {
      val q = TwsFrontier.schedule(
          spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
          "host", "doc_id", "priority")
        .toDF()
        .writeStream.format("memory").queryName("twsfr")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        spark.table("twsfr").collect()
          .map(r => r.getAs[Long]("id") ->
            ((r.getAs[Long]("host"), r.getAs[Long]("slot"),
              r.getAs[Long]("fetch_offset_s")))).toMap
      } finally q.stop()
    }
    gated.unpersist()
    assert(streamed.nonEmpty && streamed === twin)
    // continuation is non-vacuous: some host appears in both batches
    assert(s0.map(_._2).toSet
      .intersect(streamed.collect { case (id, (h, _, _)) if id >= splitAt => h }
        .toSet).nonEmpty,
      "fixture must exercise cross-batch slot continuation")
  }

  test("native TTL restarts an idle host's numbering (fresh-frontier " +
      "semantics, stated loudly)") {
    import spark.implicits._
    val dir = tempDir("graft-twsfrttl-")
    Seq((1L, 9L, 5L, true, 2L))
      .toDF("doc_id", "host", "priority", "allowed", "crawl_delay_s")
      .coalesce(1).write.parquet(s"$dir/in")
    withRocksDb {
      val stream = TwsFrontier.schedule(
        spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
        "host", "doc_id", "priority", idleTimeoutMs = 1500L)
      // under the ProcessingTime time mode processAllAvailable never
      // stabilizes — poll consumed rows against an explicit trigger
      // cadence instead
      val q = stream.toDF().writeStream.format("memory").queryName("twsfrttl")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("200 milliseconds"))
        .start()
      def awaitInput(n: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (q.recentProgress.map(_.numInputRows).sum < n) {
          if (q.exception.isDefined) throw q.exception.get
          require(System.nanoTime() < deadline,
            s"query never consumed $n input rows")
          Thread.sleep(100)
        }
      }
      try {
        awaitInput(1)
        Thread.sleep(3500) // let the TTL expire the host's slot counter
        Seq((2L, 9L, 5L, true, 2L))
          .toDF("doc_id", "host", "priority", "allowed", "crawl_delay_s")
          .coalesce(1).write.mode("append").parquet(s"$dir/in")
        awaitInput(2)
        val slots = spark.table("twsfrttl").collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("slot")).toMap
        assert(slots(1L) === 1L)
        assert(slots(2L) === 1L,
          "an expired host restarts at slot 1 — live state would say 2")
      } finally q.stop()
    }
  }
}
