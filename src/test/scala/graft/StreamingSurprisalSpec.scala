package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingSurprisal

/** Pins the streaming LM-drift monitor to its batch twin: per closed
  * event-time window, the streamed (n_tokens, ce, oov) must equal
  * batchWindowSurprisal on the same corpus (shared fold — the
  * StreamingKs factoring), with append mode holding the last window
  * open. Also pins the self-reference invariant: a stream drawn from
  * the reference corpus itself reads oov_ppm = 0.
  */
class StreamingSurprisalSpec extends SparkSpec {

  test("streamed window surprisal == batch twin per closed window") {
    val docs = Tables.table(spark, sfDir, "documents")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val probe = docs.filter(col("doc_id") % 2 === 1)
      .withColumn("ts", timestamp_micros(
        col("doc_id").cast("bigint") * lit(3600000000L)))
      .select(col("doc_id"), col("text"), col("ts"))
    val (lm, oov) = StreamingSurprisal.referenceLm(ref, "text")
    val lmC = lm.cache()
    try {
      val dir = tempDir("graft-ssur-")
      val mm = probe.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val cut = (mm.getLong(0) + mm.getLong(1)) / 2
      probe.filter(col("doc_id") <= cut).coalesce(1).write.parquet(s"$dir/in")
      probe.filter(col("doc_id") > cut).coalesce(1)
        .write.mode("append").parquet(s"$dir/in")

      val out = StreamingSurprisal.windowSurprisal(
        spark.readStream.schema(probe.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
        "text", "ts", lmC, oov,
        windowDuration = "1 day", watermark = "0 seconds")
      val q = out.writeStream.format("memory").queryName("ssur")
        .outputMode("append").start()
      val streamed = try {
        q.processAllAvailable()
        spark.table("ssur").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
      } finally q.stop()
      assert(streamed.nonEmpty, "the replay must close at least one window")

      val batch = StreamingSurprisal
        .batchWindowSurprisal(probe, "text", "ts", lmC, oov, "1 day")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      // append mode holds the last window open — batch truth drops it
      val closed = batch.sortBy(_._1).dropRight(1).toMap
      assert(streamed === closed,
        "per closed window the stream must equal the batch twin exactly")
    } finally lmC.unpersist(blocking = false)
  }

  test("grouped (per-source) streamed surprisal == grouped batch twin") {
    val docs = Tables.table(spark, sfDir, "documents")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val probe = docs.filter(col("doc_id") % 2 === 1)
      .withColumn("ts", timestamp_micros(
        col("doc_id").cast("bigint") * lit(3600000000L)))
      .select(col("doc_id"), col("source"), col("text"), col("ts"))
    val (lm, oov) = StreamingSurprisal.referenceLm(ref, "text")
    val lmC = lm.cache()
    try {
      val dir = tempDir("graft-ssurg-")
      val mm = probe.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val cut = (mm.getLong(0) + mm.getLong(1)) / 2
      probe.filter(col("doc_id") <= cut).coalesce(1).write.parquet(s"$dir/in")
      probe.filter(col("doc_id") > cut).coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
      val out = StreamingSurprisal.windowSurprisal(
        spark.readStream.schema(probe.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
        "text", "ts", lmC, oov,
        windowDuration = "1 day", watermark = "0 seconds",
        grpCols = Seq("source"))
      val q = out.writeStream.format("memory").queryName("ssurg")
        .outputMode("append").start()
      val streamed = try {
        q.processAllAvailable()
        spark.table("ssurg").collect()
          .map(r => (r.getLong(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      } finally q.stop()
      assert(streamed.nonEmpty)
      val batch = StreamingSurprisal
        .batchWindowSurprisal(probe, "text", "ts", lmC, oov, "1 day",
          grpCols = Seq("source"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4))))
      val lastWin = batch.map(_._1._1).max
      val closed = batch.filter(_._1._1 != lastWin).toMap
      assert(streamed === closed,
        "per closed (window, source) the stream must equal the batch twin")
    } finally lmC.unpersist(blocking = false)
  }

  test("a stream drawn from the reference itself reads oov_ppm = 0") {
    import spark.implicits._
    val docs = Seq((2L, "alpha beta gamma"), (4L, "beta beta delta"))
      .toDF("doc_id", "text")
    val (lm, oov) = StreamingSurprisal.referenceLm(docs, "text")
    val probe = docs.withColumn("ts", timestamp_micros(lit(1000000L)))
    val got = StreamingSurprisal
      .batchWindowSurprisal(probe, "text", "ts", lm, oov, "1 day")
      .collect()
    assert(got.length === 1)
    assert(got.head.getLong(3) === 0L, "every token is in-vocabulary")
    // N=6 occurrences, V=4 types -> nv=10; hand surprisals
    def s(c: Long): Long = math.round(1e6 * math.log(10.0 / (c + 1)))
    val expected = (s(1) * 2 + s(3) * 3 + s(1)) / 6 // alpha, beta x3, gamma, delta
    assert(got.head.getLong(2) === expected)
  }

  test("referenceLm rejects an empty reference") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      StreamingSurprisal.referenceLm(Seq((1L, "  ")).toDF("doc_id", "text"), "text")
    }
    assert(e.getMessage.contains("no tokens"))
  }
}
