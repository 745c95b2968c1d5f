package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.ChangeCapture

/** Pins the stream-static interval enrichment (the online serving form of
  * the point-in-time join): a streaming probe frame joined to a static
  * SCD2 dimension yields EXACTLY the batch pointInTimeJoin rows, batch
  * boundaries notwithstanding — stateless per row, no watermark, no
  * cross-batch state.
  */
class StreamingEnrichSpec extends SparkSpec {

  import spark.implicits._

  test("streaming intervalEnrich == batch pointInTimeJoin on the corpus") {
    val o = Tables.table(spark, sfDir, "orders")
    // SCD2-shaped history: latest order per (custkey, day), tiled into
    // [valid_from, valid_to) with lead()
    val hist = o.select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("vf"),
        col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("k"), col("vf")).orderBy(col("o_orderkey").desc)))
      .filter(col("rn") === 1)
      .withColumn("vt", lead(col("vf"), 1).over(
        Window.partitionBy(col("k")).orderBy(col("vf"))))
      .select(col("k"), col("vf"), col("vt"),
        round(col("o_totalprice") * lit(100)).cast("bigint").as("bal_cents"))
      .cache()
    val probe = Tables.events(spark, sfDir)
      .select(col("event_id").as("pid"), col("user_id").as("k"),
        unix_micros(col("ts")).as("pts"))
      .cache()
    val batch = ChangeCapture.pointInTimeJoin(
        probe, hist.drop("vt"), "k", "pts", "vf", Seq("bal_cents"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap

    val dir = tempDir("graft-enrich-")
    val parts = probe.randomSplit(Array(0.5, 0.3, 0.2), seed = 7L)
    parts.foreach(_.coalesce(1).write.mode("append").parquet(s"$dir/in"))
    val stream = ChangeCapture.intervalEnrich(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      hist, "k", "pts", "vf", "vt", Seq("bal_cents"))
    val q = stream.writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      assert(streamed.size === batch.size)
      assert(streamed === batch,
        "interval serving must equal the batch backfill row-for-row")
    } finally q.stop()
  }

  test("intervalEnrich: open version (null valid_to) serves all later probes") {
    val hist = Seq((1L, 10L, Some(20L), 100L), (1L, 20L, None, 200L))
      .toDF("k", "vf", "vt", "bal")
    val probe = Seq((1L, 1L, 15L), (2L, 1L, 20L), (3L, 1L, 9L), (4L, 1L, 999L))
      .toDF("pid", "k", "pts")
    val got = ChangeCapture.intervalEnrich(probe, hist, "k", "pts", "vf", "vt", Seq("bal"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got === Map(1L -> 100L, 2L -> 200L, 3L -> -1L, 4L -> 200L))
  }

  test("too-big-to-broadcast dimension: plan stays a key equi-join, results unchanged") {
    // the 100 TB serving shape intervalEnrich documents but nothing
    // exercised: with broadcast disabled the planner must fall back to a
    // shuffled KEY equi-join with the interval predicate as a post-join
    // filter (per-key version fan-out, the SCD2 bound) — never a
    // broadcast-nested-loop over the whole dimension
    val o = Tables.table(spark, sfDir, "orders")
    val hist = o.select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("vf"),
        col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("k"), col("vf")).orderBy(col("o_orderkey").desc)))
      .filter(col("rn") === 1)
      .withColumn("vt", lead(col("vf"), 1).over(
        Window.partitionBy(col("k")).orderBy(col("vf"))))
      .select(col("k"), col("vf"), col("vt"),
        round(col("o_totalprice") * lit(100)).cast("bigint").as("bal_cents"))
    val probe = Tables.events(spark, sfDir)
      .select(col("event_id").as("pid"), col("user_id").as("k"),
        unix_micros(col("ts")).as("pts"))
    val broadcastDefault =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val enriched = ChangeCapture.intervalEnrich(
        probe, hist, "k", "pts", "vf", "vt", Seq("bal_cents"))
      val plan = enriched.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected a shuffled key equi-join without broadcast, got:\n$plan")
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"interval predicate must ride the equi-join, not force a loop join:\n$plan")
      val got = enriched.collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      val want = ChangeCapture.pointInTimeJoin(
          probe, hist.drop("vt"), "k", "pts", "vf", Seq("bal_cents"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      assert(got === want, "non-broadcast plan must not change results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastDefault)
  }
}
