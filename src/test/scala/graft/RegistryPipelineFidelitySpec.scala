package graft

import org.apache.spark.sql.functions._

import graft.model.Trade
import graft.sources.{ConfluentAvro, SchemaRegistry}
import graft.sources.SchemaRegistry.{Client, InMemoryRegistryServer}
import graft.streaming.EwmaPipeline

/** The reference's full encode → registry → decode → window-EWMA loop,
  * end-to-end on this container's file transport: trades are
  * Confluent-framed under registry-ASSIGNED ids (two schema versions in
  * flight — the evolution case), streamed as binary payloads, resolved
  * through the protocol client's snapshot, and folded by the windowed
  * EWMA — pinned bit-equal to the batch EWMA over the original unframed
  * rows. This is kafkaSourceWithRegistry's decode path minus only the
  * kafka transport (absent from the container; wiring spec'd
  * separately).
  */
class RegistryPipelineFidelitySpec extends SparkSpec {
  import spark.implicits._

  test("registry-framed wire payloads stream into windowedEwma bit-equal " +
      "to the unframed batch fold, across two in-flight schema versions") {
    val base = 1700000000000L // epoch ms
    val trades = (1 to 240).map { i =>
      Trade(
        amount = 1.0 + (i % 7) * 0.25,
        direction = if (i % 2 == 0) "buy" else "sell",
        index_price = 100.0 + (i % 13),
        instrument_name = if (i % 3 == 0) "ETH-PERP" else "BTC-PERP",
        iv = if (i % 5 == 0) None else Some(0.5 + (i % 4) * 0.1),
        liquidation = None,
        price = 100.0 + ((i * 37) % 250) * 0.5,
        tick_direction = (i % 4).toLong,
        timestamp = base + i.toLong * 7000, // ~28 min span, 5-min windows
        trade_id = s"t-$i",
        trade_seq = i.toLong)
    }
    val df = spark.createDataset(trades).toDF()

    // producer path: v1 registered via TopicNameStrategy; v2 is the
    // field-REORDERED evolution registered mid-stream — half the
    // payloads are framed under each id
    val client = new Client(new InMemoryRegistryServer)
    val (id1, enc1) = ConfluentAvro.registerAndEncoder(
      client, "raw-trades", Trade.schema, "TradesDataAvro")
    val v2Json = {
      import scala.jdk.CollectionConverters._
      val parsed = new org.apache.avro.Schema.Parser()
        .parse(ConfluentAvro.avroSchemaJson(Trade.schema, "TradesDataAvro"))
      val fields = parsed.getFields.asScala.toSeq.reverse.map(f =>
        new org.apache.avro.Schema.Field(f.name(), f.schema(), f.doc(),
          f.defaultVal()))
      org.apache.avro.Schema.createRecord(parsed.getName, parsed.getDoc,
        parsed.getNamespace, false, fields.asJava).toString
    }
    val id2 = client.register(
      SchemaRegistry.valueSubject("raw-trades"), v2Json)
    assert(id2 !== id1)
    val allCols = struct(df.columns.map(col): _*)
    val framed = df
      .withColumn("value",
        when(col("trade_seq") % 2 === 0, enc1(allCols))
          .otherwise(ConfluentAvro.toConfluentAvroJson(v2Json, id2)(allCols)))
      .select(col("value"))
    val dir = tempDir("graft-rpf-")
    framed.filter(rand(7) >= 0).coalesce(2).write.parquet(s"$dir/wire")

    // consumer path: stream the binary payloads, resolve writer schemas
    // through the client snapshot (the kafkaSourceWithRegistry decode
    // expression), rebuild event time, fold the windowed EWMA
    val snapshot = client.snapshot(
      Seq(SchemaRegistry.valueSubject("raw-trades")))
    assert(snapshot.keySet === Set(id1, id2))
    val wire = spark.readStream
      .schema(framed.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/wire")
    def enriched(in: org.apache.spark.sql.DataFrame) = in
      .select(ConfluentAvro.decodeColRegistry(
        col("value"), Trade.schema, "TradesDataAvro", snapshot).as("t"))
      .select(col("t.*"))
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("tsl", col("timestamp") * 1000L)
    val agg = EwmaPipeline.windowedEwma(
      enriched(wire), "instrument_name", "ts", "tsl", "trade_seq", "price",
      periodSeconds = 300, watermark = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("rpf")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getString(2)) ->
        ((r.getDouble(5), r.getLong(6)))
    val streamed = try {
      q.awaitTermination(); spark.table("rpf").collect().map(key).toMap
    } finally q.stop()
    assert(streamed.nonEmpty)

    // batch reference over the ORIGINAL unframed rows — the wire format,
    // the two-version resolution, and the replay must all be invisible.
    // Append mode holds the final (watermark-open) window back, so the
    // comparison covers the CLOSED windows (end <= max event time — the
    // StreamingDailyStatsSpec convention).
    val maxTs = base + 240L * 7000
    val batch = EwmaPipeline.windowedEwmaBatch(
        df.withColumn("ts", timestamp_millis(col("timestamp")))
          .withColumn("tsl", col("timestamp") * 1000L),
        "instrument_name", "ts", "tsl", "trade_seq", "price",
        periodSeconds = 300)
      .filter(col("window_end") <= timestamp_millis(lit(maxTs)))
      .collect().map(key).toMap
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("kafkaSinkWithRegistry's framing: frameForTopic registers under the " +
      "topic's value subject and decode-by-resolved-id recovers the rows") {
    val trades = (1 to 40).map { i =>
      Trade(1.0 + i * 0.5, if (i % 2 == 0) "buy" else "sell", 100.0 + i,
        "BTC-PERP", if (i % 3 == 0) None else Some(0.4 + i * 0.01), None,
        200.0 + i, (i % 3).toLong, 1700000000000L + i * 1000L, s"t-$i",
        i.toLong)
    }
    val df = spark.createDataset(trades).toDF()
    val client = new Client(new InMemoryRegistryServer)

    // produce side: the kafka-sink framing — register then frame. The
    // registry must have exactly one version under the topic's value
    // subject afterwards, and its id must be the one inside the frames.
    val framed = EwmaPipeline.frameForTopic(df, "raw-trades", "TradesDataAvro", client)
    assert(framed.columns.toSeq === Seq("key", "value"))
    val subject = SchemaRegistry.valueSubject("raw-trades")
    assert(client.subjects() === Seq(subject))
    val assigned = client.version(subject).id
    val rows = framed.collect()
    // frame bytes carry magic 0x00 + the ASSIGNED id big-endian
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("value")
      assert(bytes(0) === 0x00.toByte)
      assert(java.nio.ByteBuffer.wrap(bytes, 1, 4).getInt === assigned)
      assert(r.getString(0).toLong > 0L) // wall-clock key, epoch millis
    }
    // re-framing is idempotent at the registry (same schema → same id,
    // still one version) — the restart-safety a daily producer needs
    EwmaPipeline.frameForTopic(df, "raw-trades", "TradesDataAvro", client)
    assert(client.versions(subject) === Seq(1))

    // consume side: resolve by snapshot (kafkaSourceWithRegistry's
    // decode expression) and recover the original rows bit-for-bit
    val decoded = framed.select(ConfluentAvro.decodeColRegistry(
        col("value"), Trade.schema, "TradesDataAvro",
        client.snapshot(Seq(subject))).as("t"))
      .select("t.*").as[Trade].collect().toSeq
    assert(decoded.sortBy(_.trade_seq) === trades)
  }
}
