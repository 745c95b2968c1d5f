package graft

import org.apache.spark.sql.functions._

import graft.functions.EwmaFunctions
import graft.model.Trade
import graft.sources.ConfluentAvro
import graft.streaming.{EwmaPipeline, Support}

/** End-to-end fidelity slice of the reference's entry point B
  * (SURVEY.md §3.2) without Kafka: trades are JSON-deserialized (R2),
  * Confluent-Avro encoded (R3), streamed as framed binary payloads,
  * decoded (R6), event-time windowed (R8), EWMA-folded (R9/R10),
  * filtered (R11), with streaming progress observed (R14) and config
  * layered from env (R15).
  */
class PipelineFidelitySpec extends SparkSpec {

  private def mkTrade(i: Int): Trade = Trade(
    amount = 1.0 + i, direction = if (i % 2 == 0) "buy" else "sell",
    index_price = 100.0 + i, instrument_name = "BTC-PERP",
    iv = if (i % 3 == 0) None else Some(0.5 + i * 0.01),
    liquidation = None, price = 100.0 + (i % 10),
    tick_direction = i % 4, timestamp = 1700000000000L + i * 1000L,
    trade_id = s"t-$i", trade_seq = i.toLong)

  test("R2: JSON round-trip to typed Trade dataset") {
    import spark.implicits._
    val trades = (1 to 20).map(mkTrade)
    val json = trades.map { t =>
      val iv = t.iv.map(_.toString).getOrElse("null")
      s"""{"amount":${t.amount},"direction":"${t.direction}","index_price":${t.index_price},
         |"instrument_name":"${t.instrument_name}","iv":$iv,"liquidation":null,
         |"price":${t.price},"tick_direction":${t.tick_direction},"timestamp":${t.timestamp},
         |"trade_id":"${t.trade_id}","trade_seq":${t.trade_seq}}""".stripMargin.replace("\n", "")
    }
    val back = Support.tradesFromJson(spark, col("value"), json.toDF("value")).collect()
    assert(back.toSet === trades.toSet)
  }

  test("entry point B slice: framed-avro stream -> windowed EWMA -> filter, vs oracle") {
    import spark.implicits._
    val cfg = Support.PipelineConfig.fromEnv(Map("APP_PERIOD_MINUTES" -> "5"))
    assert(cfg.periodMinutes === 5)
    val periodSeconds = cfg.periodMinutes.toLong * 60 // alpha quirk: main.rs:111

    val trades = (1 to 600).map(mkTrade)
    // produce framed payloads (R3) into parquet "topic partitions"
    val dir = tempDir("graft-fid-")
    spark.createDataset(trades).toDF()
      .select(ConfluentAvro.encodeCol(
        struct(Trade.schema.fieldNames.map(col): _*), Trade.schema, 11, "TradesDataAvro").as("value"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir)

    // consume: stream of framed binary -> decode (R6) -> typed columns
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .select(ConfluentAvro.decodeCol(col("value"), Trade.schema, "TradesDataAvro").as("t"))
      .select("t.*")
      .withColumn("event_time", timestamp_millis(col("timestamp")))

    val listener = new Support.ProgressCollector
    spark.streams.addListener(listener)
    try {
      val agg = EwmaPipeline.windowedEwmaBatch(
        stream, "instrument_name", "event_time", "timestamp", "trade_seq", "price",
        periodSeconds)
      val q = agg.writeStream.format("memory").queryName("fid_ewma")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val got = spark.table("fid_ewma")
          .select(col("window_start"), col("current"), col("n_events"), col("alpha"))
          .collect()
        assert(got.nonEmpty)
        // oracle: group trades by 5-min window of event time, fold in
        // (timestamp, trade_seq) order with alpha = 2/(300+1), drop <= 0
        val alpha = EwmaFunctions.alpha(periodSeconds)
        assert(got.head.getDouble(3) === alpha)
        val want = trades
          .groupBy(t => t.timestamp / (periodSeconds * 1000) * (periodSeconds * 1000))
          .map { case (w, ts) =>
            w -> EwmaFunctions.foldOracle(
              ts.sortBy(t => (t.timestamp, t.trade_seq)).map(_.price), alpha)
          }
          .filter(_._2 > 0)
        assert(got.length === want.size)
        got.foreach { r =>
          val wStart = r.getTimestamp(0).getTime
          assert(math.abs(r.getDouble(1) - want(wStart)) < 1e-9)
        }
        // R14: progress events observed the input rows
        assert(listener.inputRows >= trades.size.toLong)
      } finally q.stop()
    } finally spark.streams.removeListener(listener)
  }
}
