package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Multi-format source coverage (SURVEY.md §2.2 scans row): the same
  * relation read back identically from parquet, json and csv, plus the
  * rate source for synthetic streams.
  */
class SourcesSpec extends SparkSpec {

  test("json and csv round-trip the events relation identically to parquet") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts").cast("long").as("ts_us"))
    val base = tempDir("graft-src-")
    ev.coalesce(2).write.json(s"$base/json")
    ev.coalesce(2).write.option("header", "true").csv(s"$base/csv")

    val fromJson = spark.read.schema(ev.schema).json(s"$base/json")
    val fromCsv = spark.read.option("header", "true").schema(ev.schema).csv(s"$base/csv")

    val want = ev.collect().map(_.toSeq).toSet
    assert(fromJson.collect().map(_.toSeq).toSet === want)
    assert(fromCsv.collect().map(_.toSeq).toSet === want)
  }

  test("orc round-trips the events relation with predicate pushdown") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts").cast("long").as("ts_us"))
    val dir = tempDir("graft-orc-")
    ev.coalesce(2).write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.collect().map(_.toSeq).toSet === ev.collect().map(_.toSeq).toSet)
    // ORC scans take pushed filters like parquet ones do
    val plan = back.filter(col("event_id") > 100L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(event_id,100)"),
      s"ORC filter not pushed:\n$plan")
  }

  test("text source reads raw lines; documents written one per line read back") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(regexp_replace(col("text"), "[\\r\\n]", " ").as("value"))
    val dir = tempDir("graft-text-")
    docs.coalesce(1).write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    assert(back.count() === docs.count())
    assert(back.agg(sum(length(col("value")))).head().getLong(0) ===
      docs.agg(sum(length(col("value")))).head().getLong(0))
  }

  test("binaryFile source reads raw media files as binary columns with metadata") {
    // the multimodal INGESTION path: raw image/audio/video files land as
    // (path, modificationTime, length, content) rows; downstream decode /
    // frame-sampling (Multimodal.*) then operates on the binary column.
    // pathGlobFilter prunes at the LISTING, before any bytes are read.
    val dir = tempDir("graft-binsrc-")
    val payloads = Seq("fake-jpeg-bytes-1", "fake-jpeg-bytes-two", "not-an-image")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.jpg"),
      payloads(0).getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.jpg"),
      payloads(1).getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.txt"),
      payloads(2).getBytes("UTF-8"))
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg").load(dir)
    assert(df.columns.toSet === Set("path", "modificationTime", "length", "content"))
    val rows = df.orderBy(col("path")).collect()
    assert(rows.length === 2, "glob filter excludes the .txt at listing time")
    assert(new String(rows(0).getAs[Array[Byte]]("content"), "UTF-8") === payloads(0))
    assert(rows.map(_.getAs[Long]("length")).toSeq ===
      Seq(payloads(0).length.toLong, payloads(1).length.toLong))
    // binary payloads flow straight into the multimodal operators
    val frames = graft.operators.Multimodal.sampleFrames(
      df.select(col("path").as("doc_id"), col("content").as("payload")), frameBytes = 8)
    assert(frames.count() === payloads.take(2).map(p => (p.length + 7) / 8).sum)
  }

  test("binaryFile STREAMS: raw media files arriving over time feed the multimodal pipeline") {
    val dir = tempDir("graft-binstream-")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/x.bin"),
      ("a" * 20).getBytes("UTF-8"))
    val stream = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir)
    val frames = graft.operators.Multimodal.sampleFrames(
      stream.select(col("path").as("doc_id"), col("content").as("payload")), frameBytes = 8)
    val q = frames.writeStream.format("memory").queryName("binstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("binstream").count() === 3) // ceil(20/8)
      // a new file lands; only ITS frames are appended
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/y.bin"),
        ("b" * 9).getBytes("UTF-8"))
      q.processAllAvailable()
      assert(spark.table("binstream").count() === 5) // + ceil(9/8)
    } finally q.stop()
  }

  test("rate source produces a monotonically timestamped stream") {
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "50")
      .load()
      .writeStream.format("memory").queryName("rate_src").outputMode("append")
      .start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      val rows = spark.table("rate_src").collect()
      assert(rows.nonEmpty)
      val vals = rows.map(_.getLong(1))
      assert(vals.distinct.length === vals.length) // value is unique
    } finally q.stop()
  }
}
