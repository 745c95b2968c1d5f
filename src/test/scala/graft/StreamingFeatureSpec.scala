package graft

import org.apache.spark.sql.functions._

import graft.operators.FeatureEng

/** Pins the offline-train / online-serve split for the tabular feature
  * transforms: cuts and encodings trained in batch, broadcast, and
  * applied to a STREAMING frame must equal the batch application
  * row-for-row, batch boundaries notwithstanding — both apply operators
  * are stateless stream-static joins (the intervalEnrich serving
  * pattern), so feature parity is by construction, and this spec keeps
  * it honest.
  */
class StreamingFeatureSpec extends SparkSpec {

  test("streamed applyWinsorize == batch application on the corpus") {
    val ev = Tables.events(spark, sfDir)
    val cuts = FeatureEng.winsorizeCuts(ev, "event_type", "value", "event_id").cache()
    val batch = FeatureEng.applyWinsorize(ev, cuts, "event_type", "value", "event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap

    // trained-vs-applied consistency: applying the cuts to the SAME
    // corpus must equal the one-shot winsorize operator
    val oneShot = FeatureEng.winsorize(ev, "event_type", "value", "event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(batch === oneShot, "trained cuts applied == one-shot winsorize")

    val dir = tempDir("graft-sfeat-")
    val probe = ev.select(col("event_id"), col("event_type"), col("value"))
    val parts = probe.randomSplit(Array(0.5, 0.3, 0.2), seed = 11L)
    parts.foreach(_.coalesce(1).write.mode("append").parquet(s"$dir/in"))
    val stream = FeatureEng.applyWinsorize(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      cuts, "event_type", "value", "event_id")
    val q = stream.writeStream.format("memory").queryName("swin")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("swin").collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(streamed === batch, "streamed clamp must equal the batch clamp")
    } finally q.stop()
  }

  test("streamed applyEncoding == batch; unseen categories get the sentinel") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val table = FeatureEng.encodingTable(ev, "event_type", "value").cache()
    val batch = FeatureEng.applyEncoding(ev, table, "event_type", "event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

    val dir = tempDir("graft-senc-")
    val probe = ev.select(col("event_id"), col("event_type"))
    probe.coalesce(1).write.parquet(s"$dir/in")
    // a category the table has never seen
    Seq((999999L, "brand_new_type")).toDF("event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val stream = FeatureEng.applyEncoding(
      spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      table, "event_type", "event_id")
    val q = stream.writeStream.format("memory").queryName("senc")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("senc").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(streamed(999999L) === -1L, "unseen category must get the sentinel")
      val known = streamed - 999999L
      known.foreach { case (id, enc) =>
        assert(enc >= 0L, s"known category encoded for id=$id")
      }
      // spot-check parity against the batch map via a category lookup
      val byCat = batch
      val evCats = ev.select(col("event_id"), col("event_type")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      known.foreach { case (id, enc) => assert(enc === byCat(id), s"id=$id") }
      assert(evCats.nonEmpty)
    } finally q.stop()
  }
}
