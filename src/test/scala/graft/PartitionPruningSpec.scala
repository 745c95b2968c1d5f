package graft

import org.apache.spark.sql.functions._

/** Hive-style partitioned writes + partition pruning: the layout tool
  * that turns a 100 TB scan into reading only the partitions a predicate
  * names (PartitionFilters in the scan, not a post-filter).
  */
class PartitionPruningSpec extends SparkSpec {

  test("write partitioned by event_type; a type predicate prunes partitions") {
    val ev = Tables.events(spark, sfDir)
    val dir = tempDir("graft-part-")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    val plan = pruned.queryExecution.executedPlan.toString

    assert(plan.contains("PartitionFilters"), s"no partition filters in:\n$plan")
    assert(plan.contains("event_type") && plan.contains("purchase"),
      "the event_type predicate must reach PartitionFilters")
    // correctness: same rows as filtering the unpartitioned table
    val want = ev.filter(col("event_type") === "purchase").count()
    assert(pruned.count() === want)

    // dynamic pruning setup: joining on the partition column keeps the
    // predicate out of the data filters (it's a partition column)
    import spark.implicits._
    val dims = Seq("purchase", "click").toDF("event_type")
    val joined = spark.read.parquet(dir).join(broadcast(dims), Seq("event_type"))
    val wantJoin = ev.join(broadcast(dims), Seq("event_type")).count()
    assert(joined.count() === wantJoin)
  }
}
