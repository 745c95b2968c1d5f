package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.ChangeCapture

/** Streaming dimension maintenance: `foreachBatch` folds each change
  * micro-batch through [[ChangeCapture.latestByKey]] +
  * [[ChangeCapture.scd2Merge]] into the versioned dimension — the
  * lakehouse SCD2 pattern. Pins that the streamed fold equals the same
  * fold applied batch-wise in order, and that the dimension invariants
  * (one open version per key, non-inverted intervals) hold after every
  * batch.
  */
class StreamingScd2Spec extends SparkSpec {

  test("foreachBatch SCD2 fold over time-sliced change batches equals the ordered batch fold") {
    val orders = Tables.table(spark, sfDir, "orders")
      .select(col("o_custkey").as("cust"), col("o_totalprice").as("bal"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
        col("o_orderkey").as("tie"))
    val cut = unix_micros(to_timestamp(lit("1998-01-01")))
    val slice1 = orders.filter(col("ts_us") < cut)
    val slice2 = orders.filter(col("ts_us") >= cut)
    assert(slice1.count() > 0 && slice2.count() > 0)
    val history = Tables.table(spark, sfDir, "customer")
      .select(col("c_custkey").as("cust"), col("c_acctbal").as("bal"),
        lit(0L).as("valid_from_us"), lit(null).cast("long").as("valid_to_us"))

    // reference: the same two compacted change sets folded in order
    def foldOnce(dim: DataFrame, changes: DataFrame): DataFrame =
      ChangeCapture.scd2Merge(dim,
        ChangeCapture.latestByKey(changes, "cust", "ts_us", "tie")
          .select(col("cust"), col("bal"), col("ts_us")),
        "cust", "ts_us")
    val want = foldOnce(foldOnce(history, slice1), slice2)

    val dir = tempDir("graft-sscd2-")
    slice1.coalesce(1).write.parquet(s"$dir/in")
    slice2.coalesce(1).write.mode("append").parquet(s"$dir/in")

    var dim = history.localCheckpoint(true)
    val stream = spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dim = foldOnce(dim, batch).localCheckpoint(true)
        // invariants hold after EVERY batch, not just at the end
        assert(dim.filter(col("valid_to_us").isNull)
          .groupBy("cust").count().filter(col("count") =!= 1).count() === 0L)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()

    assert(dim.except(want).count() === 0 && want.except(dim).count() === 0,
      "streamed per-micro-batch fold must equal the ordered batch fold")
    // version chains tile: no interval ends before it starts
    val bad = dim.withColumn("vt", coalesce(col("valid_to_us"), lit(Long.MaxValue)))
      .filter(col("vt") < col("valid_from_us")).count()
    assert(bad === 0L)
  }
}
