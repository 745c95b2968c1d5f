package graft

import java.nio.file.Paths

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.streaming.ContinuousEwma
import graft.streaming.ContinuousEwma.Sample

/** Kill a stateful streaming query mid-stream and restart it from the
  * checkpoint: keyed state must resume (not reset to zero) and the file
  * sink must contain each update exactly once — the exactly-once story the
  * reference lacks entirely (its consumer commits before processing,
  * SURVEY.md §3.2 step 4).
  */
class CheckpointRecoverySpec extends SparkSpec {

  test("stateful EWMA stream resumes from checkpoint after a stop") {
    import spark.implicits._
    val alpha = 0.3
    val samples = (1 to 300).map { i =>
      Sample(key = s"k${i % 3}", ts = i.toLong, seq = i.toLong, price = (i % 11) + 1.0)
    }
    val in = tempDir("graft-ckpt-in-")
    val out = tempDir("graft-ckpt-out-")
    val ckpt = tempDir("graft-ckpt-")

    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream.schema(Encoders.product[Sample].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$in/c_*")
      ContinuousEwma.run(stream.as[Sample], alpha)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }

    // phase 1: first two thirds, then stop (the "crash")
    samples.grouped(100).zipWithIndex.take(2).foreach { case (chunk, i) =>
      spark.createDataset(chunk).coalesce(1).write.parquet(s"$in/c_$i")
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: remaining data arrives while "down"; restart from checkpoint
    spark.createDataset(samples.drop(200)).coalesce(1).write.parquet(s"$in/c_2")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val updates = spark.read.parquet(out)
    // exactly-once: no duplicated (key, n) progress points
    val dups = updates.groupBy("key", "n").count().filter(col("count") > 1).count()
    assert(dups === 0L)
    // state resumed: final value per key equals ONE continuous fold over
    // all 300 samples (a state reset would restart from 0 at sample 201)
    val got = updates
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("key").orderBy(col("n").desc)))
      .filter(col("rn") === 1)
      .select("key", "current").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = ContinuousEwma.batchOracle(samples, alpha)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"key $k") }
    assert(Paths.get(ckpt).toFile.exists())
  }
}
