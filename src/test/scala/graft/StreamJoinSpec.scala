package graft

import org.apache.spark.sql.functions._

/** Stream-stream equi-join with watermarks and a time-bound condition —
  * the trades x trades enrichment shape from SURVEY.md §2.2 (joins row).
  */
class StreamJoinSpec extends SparkSpec {

  test("watermarked stream-stream join == batch join on the same replay") {
    val ev = Tables.events(spark, sfDir).cache()
    val dir = tempDir("graft-ssj-")
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(dir)

    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")

    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts").between(col("p_ts") - expr("INTERVAL 30 MINUTES"), col("p_ts")))

    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj").count()

      val bp = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val bc = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val want = bp.join(bc,
        col("p_user") === col("c_user") &&
          col("c_ts").between(col("p_ts") - expr("INTERVAL 30 MINUTES"), col("p_ts"))).count()

      assert(got === want)
      assert(got > 0)
    } finally q.stop()
  }

  test("stream-static enrichment join == batch join (broadcast dim at scan time)") {
    // the OTHER production join shape: a streaming fact frame enriched
    // against a static dimension table — no watermark needed (the static
    // side never ages), and the small dim broadcasts so the stream side
    // stays shuffle-free per micro-batch
    val ev = Tables.events(spark, sfDir).cache()
    val dir = tempDir("graft-ssj2-")
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    // static dim: per-user tier derived once, batch-side
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("tier", (col("user_id") % 3).cast("int"))
      .cache()

    val enriched = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(dir)
      .join(broadcast(dim), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("tier"))
    val q = enriched.writeStream.format("memory").queryName("ssenrich")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), r.getAs[Int]("tier"))
      val got = spark.table("ssenrich").collect().map(key).toSet
      val want = ev.join(dim, Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("tier"))
        .collect().map(key).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally { q.stop(); dim.unpersist(); ev.unpersist() }
  }
}
