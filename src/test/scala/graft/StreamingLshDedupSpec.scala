package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamingLshDedup

/** The streaming LSH candidate stream must find exactly the pairs the
  * batch banding finds on the same corpus — including pairs whose two
  * docs arrive in DIFFERENT micro-batches (the whole point of the
  * per-bucket state).
  */
class StreamingLshDedupSpec extends SparkSpec {
  import spark.implicits._

  test("two-batch replay finds the batch LSH candidate set, across batches") {
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val batchPairs = Dedup.minhashLshCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "test corpus must contain near-dups")

    // split the corpus into two parquet files -> two micro-batches, so
    // some near-dup pairs straddle the batch boundary
    val dir = tempDir("graft-slsh-")
    val n = docs.count()
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = StreamingLshDedup.candidates(stream, "text", "doc_id")
      .writeStream.format("memory").queryName("slsh_pairs")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("slsh_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batchPairs,
      s"missing=${batchPairs -- streamed} extra=${streamed -- batchPairs}")
    require(n > 0)
  }

  test("half-batch half-stream equals full-batch: seeded state + stream pairs") {
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val fullBatch = Dedup.minhashLshCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullBatch.nonEmpty)

    // half1 is the already-accepted corpus (processed BATCH, seeds the
    // stream's bucket state); half2 arrives through the stream
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val batchPairs = Dedup.minhashLshCandidates(half1, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val dir = tempDir("graft-slsh-seed-")
    half2.coalesce(2).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = StreamingLshDedup.candidates(stream, "text", "doc_id",
        initialCorpus = Some(half1))
      .writeStream.format("memory").queryName("slsh_seeded")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamPairs = spark.table("slsh_seeded")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // stream emits exactly the pairs involving >= 1 stream doc; union
    // with the batch half's own pairs reconstructs the full-batch set
    assert(streamPairs.forall { case (a, b) => a % 2 === 1 || b % 2 === 1 })
    val combined = batchPairs ++ streamPairs
    assert(combined === fullBatch,
      s"missing=${fullBatch -- combined} extra=${combined -- fullBatch}")
  }

  test("bucket state survives a checkpointed restart (cross-restart pairs found)") {
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val want = Dedup.minhashLshCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = tempDir("graft-slsh-ckpt-src-")
    val ckpt = tempDir("graft-slsh-ckpt-")
    val outDir = tempDir("graft-slsh-ckpt-out-")

    // file sink: the memory sink refuses checkpoint recovery by design
    def start() = StreamingLshDedup
      .candidates(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(dir),
        "text", "doc_id")
      .toDF()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // run 1: first half only, then STOP (simulated restart)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val firstHalf = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // run 2: second half arrives after the restart; pairs spanning the
    // restart exist only if the bucket state was recovered from the
    // checkpoint
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(all === want, s"missing=${want -- all} extra=${all -- want}")
    // at least one pair must straddle the restart for this test to mean anything
    val crossRestart = (all -- firstHalf).exists { case (a, b) => a % 2 == 0 || b % 2 == 0 }
    assert(crossRestart, "no cross-restart pair in the corpus — strengthen the fixture")
  }

  test("re-sent documents are absorbed idempotently (at-least-once upstream)") {
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "text").limit(50)
    val dir = tempDir("graft-slsh-dup-")
    // the same file content delivered twice
    docs.coalesce(1).write.mode("append").parquet(dir)
    docs.coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val q = StreamingLshDedup.candidates(stream, "text", "doc_id")
      .writeStream.format("memory").queryName("slsh_dup_pairs")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val pairs = spark.table("slsh_dup_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a redelivered doc never pairs with itself and never re-emits
    // candidate pairs beyond the per-band duplicates of the first delivery
    assert(pairs.forall { case (a, b) => a < b })
    val want = Dedup.minhashLshCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.toSet === want)
  }
}
