package graft

import org.apache.spark.sql.functions._

/** Bucketing = the co-located join tool at rest: writing both join sides
  * bucketed by the key lets the join read bucket-aligned partitions with
  * NO shuffle exchange — at 100 TB this converts the nightly fact-fact
  * join from a full network shuffle into local merges.
  */
class BucketedJoinSpec extends SparkSpec {

  test("join of two tables bucketed on the key plans without a shuffle") {
    val wh = tempDir("graft-bucket-")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val o = Tables.table(spark, sfDir, "orders")
      val l = Tables.table(spark, sfDir, "lineitem")
      o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
      l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")

      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity")).as("q"))
      val n = joined.collect().length
      assert(n > 0)

      // only the final groupBy may shuffle; the join itself must not.
      // bucket-aligned scan => at most 1 exchange (for the aggregate).
      // (string-count the FINAL adaptive plan: AQE's wrapper hides inner
      // nodes from TreeNode.collect)
      // take only the final adaptive plan (the string repeats the initial
      // plan below it)
      val planStr = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val shuffles = planStr.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning"))
      assert(shuffles <= 1, s"expected bucket join without shuffle, got $shuffles:\n$planStr")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }
}
