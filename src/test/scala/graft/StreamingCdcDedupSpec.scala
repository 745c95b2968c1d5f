package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{Manifests, StreamingCdcDedup}

/** The streaming CDC dedup door vs its batch composition
  * ([[Dedup.cdcDedupAgainstBase]] per arrival batch), retry idempotence
  * through the strict `batch_id < current` read, and chunk-store
  * compaction through the manifest pointer leaving both the visible
  * store and subsequent scores bit-identical.
  */
class StreamingCdcDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.table(spark, sfDir, "documents")
    .select(col("doc_id"), col("text")).limit(80).persist()

  private def seedDocs = docs.filter(col("doc_id") < 20)
  // b1 plants a prefix-shifted copy of a SEED doc (must score dup_base
  // through the stored index); b2 plants a delta-internal pair
  private def b1: DataFrame = docs
    .filter(col("doc_id") >= 20 && col("doc_id") < 50)
    .unionByName(docs.filter(col("doc_id") === 5)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("SHIFT>> "), col("text")).as("text")))
  private def b2: DataFrame = docs.filter(col("doc_id") >= 50)
    .unionByName(docs.filter(col("doc_id") === 55)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("COPY>> "), col("text")).as("text")))
    .unionByName(docs.filter(col("doc_id") === 55)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("COPY>> "), col("text")).as("text")))

  private def keyOf(r: Row): (Long, Seq[Any]) =
    r.getAs[Long]("doc") -> Seq("n_chunks", "n_dup_chunks",
      "dup_base_chunks", "dup_delta_chunks", "total_chars", "dup_chars",
      "dup_bps").map(r.getAs[Any])

  private def batchTwin: Map[Long, Seq[Any]] = {
    val s1 = Dedup.cdcDedupAgainstBase(
      Dedup.cdcChunks(seedDocs, "text", "doc_id"), b1, "text", "doc_id")
    val s2 = Dedup.cdcDedupAgainstBase(
      Dedup.cdcChunks(seedDocs.unionByName(b1), "text", "doc_id"),
      b2, "text", "doc_id")
    (s1.collect() ++ s2.collect()).map(keyOf).toMap
  }

  test("stream == per-arrival-batch composition over a seeded store; " +
      "retried batch re-scores identically (strict < current read)") {
    val twin = batchTwin
    // the planted classes actually bite
    assert(twin(1000005L)(2).asInstanceOf[Long] >= 1L, "dup_base planted")
    assert(twin(2000055L)(3).asInstanceOf[Long] >= 1L, "dup_delta planted")
    assert(twin(3000055L)(3).asInstanceOf[Long] >= 1L, "dup_delta planted")

    val tmp = tempDir("graft-scdc-")
    StreamingCdcDedup.seedChunks(seedDocs, "text", "doc_id", s"$tmp/chunks")
    b1.coalesce(1).write.parquet(s"$tmp/in")
    Thread.sleep(20)
    b2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val q = StreamingCdcDedup.run(stream, "text", "doc_id",
      s"$tmp/chunks", s"$tmp/scores", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamed = StreamingCdcDedup.readScores(spark, s"$tmp/scores", 99L)
      .collect().map(keyOf).toMap
    assert(streamed === twin)

    // retry batch 0: its own chunk partition is invisible to itself
    StreamingCdcDedup.processBatch(b1, 0L, "text", "doc_id",
      s"$tmp/chunks", s"$tmp/scores")
    val retried = StreamingCdcDedup.readScores(spark, s"$tmp/scores", 99L)
      .collect().map(keyOf).toMap
    assert(retried === twin)
  }

  test("compactChunks: the visible store and subsequent scores are " +
      "bit-identical across the manifest fold; folded partitions GC'd") {
    val tmp = tempDir("graft-scdc2-")
    StreamingCdcDedup.seedChunks(seedDocs, "text", "doc_id", s"$tmp/chunks")
    StreamingCdcDedup.processBatch(b1, 0L, "text", "doc_id",
      s"$tmp/chunks", s"$tmp/scores")
    val visibleBefore = StreamingCdcDedup
      .readChunks(spark, s"$tmp/chunks", 1L)
      .collect().map(_.toSeq).toSet
    val scoreBefore = Dedup.cdcScoreAgainstBase(
        StreamingCdcDedup.readChunks(spark, s"$tmp/chunks", 1L),
        Dedup.cdcChunks(b2, "text", "doc_id"))
      .collect().map(keyOf).toMap

    StreamingCdcDedup.compactChunks(spark, s"$tmp/chunks", 0L)
    assert(Manifests.read(s"$tmp/chunks").exists(_.upTo === 0L))
    // folded batch partitions are gone; the store reads identically
    val dirs = new java.io.File(s"$tmp/chunks").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.exists(_.startsWith("batch_id=")))
    val visibleAfter = StreamingCdcDedup
      .readChunks(spark, s"$tmp/chunks", 1L)
      .collect().map(_.toSeq).toSet
    assert(visibleAfter === visibleBefore)

    // the continued stream scores identically off the compacted store
    StreamingCdcDedup.processBatch(b2, 1L, "text", "doc_id",
      s"$tmp/chunks", s"$tmp/scores")
    val scoreAfter = StreamingCdcDedup.readScores(spark, s"$tmp/scores", 1L)
      .collect().map(keyOf).toMap.filter(_._1 >= 50L)
    assert(scoreAfter.view.filterKeys(scoreBefore.contains).toMap
      === scoreBefore)
  }

  test("cold start: an unseeded store treats batch 0 as all-novel and " +
      "batch 1 still dedups against it") {
    val tmp = tempDir("graft-scdc3-")
    StreamingCdcDedup.processBatch(seedDocs, 0L, "text", "doc_id",
      s"$tmp/chunks", s"$tmp/scores")
    val s0 = StreamingCdcDedup.readScores(spark, s"$tmp/scores", 0L)
      .agg(sum(col("dup_base_chunks"))).collect().head
    assert(s0.getLong(0) === 0L) // empty base: nothing can be dup_base
    // a literal copy of a batch-0 doc arriving in batch 1 scores dup_base
    StreamingCdcDedup.processBatch(
      docs.filter(col("doc_id") === 5)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")),
      1L, "text", "doc_id", s"$tmp/chunks", s"$tmp/scores")
    val r = StreamingCdcDedup.readScores(spark, s"$tmp/scores", 1L)
      .filter(col("doc") === 500005L).collect().head
    assert(r.getAs[Long]("dup_bps") === 10000L)
    assert(r.getAs[Long]("dup_base_chunks") === r.getAs[Long]("n_chunks"))
  }
}
