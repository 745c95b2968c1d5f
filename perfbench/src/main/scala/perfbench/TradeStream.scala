package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.{ConfluentAvro, SchemaRegistry}
import graft.streaming.EwmaPipeline

/** `trade_stream`: the paper's path. Confluent-framed `Trade` records
  * (registry-assigned id) are read by two streaming queries side by side,
  * as the reference's aggregator and its Connect sink read one topic:
  *
  *  - `ewma`: registry decode -> 1 s event-time windowed EWMA -> framed
  *    for the output topic;
  *  - `jdbc`: registry decode -> `jdbcSink` into in-memory Derby, keyed on
  *    the unique trade sequence.
  *
  * Each query reads its own in-memory source, fed the same records at the
  * same moment (two consumer groups of one topic).
  *
  * Warm-up (untimed): `WarmDrains` small backlogs back to back, then
  * `WarmFullDrains` full-size drains, so the JIT has compiled the
  * per-batch paths before anything is timed.
  * Phase 1 (closed loop): pre-staged backlogs are drained one after
  * another for `--seconds`; `wall_s` is the median time until both queries
  * have committed a whole backlog.
  * Phase 2 (open loop): a generator thread delivers trades at `Rate` per
  * second for `OpenSeconds`, whatever the engine does; each window's
  * latency runs from the creation (due time) of its last trade to the
  * emission of its framed EWMA row.
  */
object TradeStream {

  /** Open-loop offered rate, trades/s: about half the drain capacity
    * measured on the seed commit (see README.md).
    */
  val Rate = 3000
  val OpenSeconds = 5
  val DrainTrades = 5000
  /** At least this many timed drains, however long they take. */
  val MinDrains = 5
  /** Untimed drains before the timed ones. A drain's time is mostly fixed
    * per-batch cost, and it keeps falling over the first dozen or so
    * micro-batches while the JIT compiles the per-batch paths, so the
    * warm-up runs `WarmDrains` small backlogs back to back, then
    * `WarmFullDrains` full-size ones exactly as the timed drains run (the
    * first of those is still 10-25% slower than the rest).
    */
  val WarmDrains = 10
  val WarmDrainTrades = 1000
  val WarmFullDrains = 2
  val WarmTrades = 2000
  val Instruments = 32
  val WindowSeconds = 1L
  val Watermark = "500 milliseconds"
  /** Fixed event-time origin of the open loop, so a seed fixes every byte. */
  val Origin = 1700000000000L

  val tradeSchema: StructType = StructType(Seq(
    StructField("amount", DoubleType, nullable = false),
    StructField("direction", StringType, nullable = false),
    StructField("index_price", DoubleType, nullable = false),
    StructField("instrument_name", StringType, nullable = false),
    StructField("iv", DoubleType, nullable = true),
    StructField("liquidation", StringType, nullable = true),
    StructField("price", DoubleType, nullable = false),
    StructField("tick_direction", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("trade_id", StringType, nullable = false),
    StructField("trade_seq", LongType, nullable = false)))

  val Names: Array[String] = Array.tabulate(Instruments)(k => f"BTC-$k%02d")

  /** A delivery: record `seq`, due `dueNs` after the open loop starts. */
  final case class Delivery(dueNs: Long, seq: Int, first: Boolean)

  /** Staged inputs, indexed by trade sequence: every record framed once,
    * plus the delivery plan.
    */
  final case class Staged(
      frames: Array[Array[Byte]], price: Array[Double], eventMs: Array[Long],
      instrument: Array[Int], warm: Range, warmBacklogs: Seq[Range], backlogs: Seq[Range],
      open: IndexedSeq[Delivery], flush: Int)

  /** Trades from a seeded generator: Zipf-skewed instruments, a random
    * walk per instrument, event time = creation time. 10% of open-loop
    * trades arrive up to 200 ms late and 1% are delivered a second time
    * 50-200 ms after the first, both below the 500 ms watermark delay, so
    * no trade is ever dropped for lateness.
    */
  def stage(spark: SparkSession, seed: Long, drains: Int, encode: org.apache.spark.sql.expressions.UserDefinedFunction): Staged = {
    val rnd = new scala.util.Random(seed)
    val zipf = {
      val w = (1 to Instruments).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val last = Array.fill(Instruments)(100.0 + rnd.nextInt(900))
    val n = Rate * OpenSeconds
    val drained = WarmDrains * WarmDrainTrades + drains * DrainTrades
    val total = WarmTrades + drained + n + 1
    val rows = new java.util.ArrayList[Row](total)
    val price = new Array[Double](total)
    val eventMs = new Array[Long](total)
    val instrument = new Array[Int](total)
    def trade(ev: Long): Int = {
      val u = rnd.nextDouble()
      val k = zipf.indexWhere(_ >= u) max 0
      last(k) = math.max(1.0, math.rint(last(k) * (1 + rnd.nextGaussian() * 0.001) * 100) / 100)
      val seq = rows.size
      price(seq) = last(k); eventMs(seq) = ev; instrument(seq) = k
      rows.add(Row(1.0 + rnd.nextInt(100), if (rnd.nextBoolean()) "buy" else "sell",
        math.rint(last(k) * 100.5) / 100, Names(k),
        if (rnd.nextInt(10) == 0) null else Double.box(0.3 + rnd.nextDouble() * 0.7),
        if (rnd.nextInt(20) == 0) Seq("M", "T", "MT")(rnd.nextInt(3)) else null,
        last(k), rnd.nextInt(4).toLong, ev, "T" + seq, seq.toLong))
      seq
    }
    val histMs = 10000L
    (0 until WarmTrades).foreach(i => trade(Origin - histMs - 5000 + i * 5000L / WarmTrades))
    (0 until drained).foreach(i => trade(Origin - histMs + i * histMs / drained))
    val open = (0 until n).flatMap { i =>
      val due = i * 1000000000L / Rate
      val seq = trade(Origin + i * 1000L / Rate)
      val delay = if (rnd.nextInt(10) == 0) rnd.nextInt(200) * 1000000L else 0L
      val first = Delivery(due + delay, seq, first = true)
      if (rnd.nextInt(100) == 0) Seq(first, Delivery(due + delay + (50 + rnd.nextInt(150)) * 1000000L, seq, first = false))
      else Seq(first)
    }.sortBy(_.dueNs)
    val flush = trade(Origin + OpenSeconds * 1000L + 3000)
    val frames = new Array[Array[Byte]](total)
    spark.createDataFrame(rows, tradeSchema)
      .select(col("trade_seq"), encode(struct(tradeSchema.fieldNames.map(col).toIndexedSeq: _*)))
      .collect().foreach(r => frames(r.getLong(0).toInt) = r.getAs[Array[Byte]](1))
    def blocks(from: Int, count: Int, size: Int) = (0 until count).map(d => (from + d * size) until (from + (d + 1) * size))
    val warmEnd = WarmTrades + WarmDrains * WarmDrainTrades
    Staged(frames, price, eventMs, instrument, 0 until WarmTrades,
      blocks(WarmTrades, WarmDrains, WarmDrainTrades), blocks(warmEnd, drains, DrainTrades), open, flush)
  }

  /** Counts every request the registry serves. */
  final class CountingTransport(inner: SchemaRegistry.RegistryTransport) extends SchemaRegistry.RegistryTransport {
    val requests = new java.util.concurrent.atomic.AtomicLong
    override def send(method: String, path: String, body: Option[String]): (Int, String) = {
      requests.incrementAndGet()
      inner.send(method, path, body)
    }
  }

  /** The two running queries and what the EWMA sink emitted. */
  final class Running(val ewmaSrc: MemoryStream[Array[Byte]],
      val jdbcSrc: MemoryStream[Array[Byte]], val ewma: StreamingQuery, val jdbc: StreamingQuery,
      val emitted: mutable.ArrayBuffer[(Long, Array[Byte])]) {
    /** Offers one block of records to both queries; returns its offset. */
    def offer(frames: Seq[Array[Byte]]): Long = {
      val off = ewmaSrc.addData(frames).json().toLong
      jdbcSrc.addData(frames)
      off
    }
    def awaitBoth(): Unit = { ewma.processAllAvailable(); jdbc.processAllAvailable() }
    /** Waits until neither query is running a micro-batch, including the
      * no-data batch that follows a watermark move.
      */
    def awaitIdle(): Unit = {
      Thread.sleep(200)
      while (ewma.status.isTriggerActive || jdbc.status.isTriggerActive) Thread.sleep(5)
    }
    def stop(): Unit = { ewma.stop(); jdbc.stop() }
  }

  def topicFrame(ewma: DataFrame): DataFrame = ewma.select(
    unix_millis(col("window_start")).as("window_start_ms"),
    unix_millis(col("window_end")).as("window_end_ms"),
    col("instrument_name"), col("period"), col("alpha"), col("current"), col("n_events"))

  def decoded(df: DataFrame, snapshot: Map[Int, String]): DataFrame =
    df.select(ConfluentAvro.decodeColRegistry(col("value"), tradeSchema, "Trade", snapshot).as("t"))
      .select("t.*")

  def ewmaOf(trades: DataFrame, batch: Boolean): DataFrame = {
    val t = trades.withColumn("event_time", timestamp_millis(col("timestamp")))
    topicFrame(
      if (batch) EwmaPipeline.windowedEwmaBatch(t, "instrument_name", "event_time", "timestamp",
        "trade_seq", "price", WindowSeconds)
      else EwmaPipeline.windowedEwma(t, "instrument_name", "event_time", "timestamp",
        "trade_seq", "price", WindowSeconds, Watermark))
  }

  def start(spark: SparkSession, work: String, tag: String, cores: Int,
      client: SchemaRegistry.Client, snapshot: Map[Int, String]): Running = {
    val ewmaSrc = MemoryStream[Array[Byte]](spark, cores)(Encoders.BINARY)
    val jdbcSrc = MemoryStream[Array[Byte]](spark, cores)(Encoders.BINARY)
    val emitted = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val framed = EwmaPipeline.frameForTopic(
      ewmaOf(decoded(ewmaSrc.toDF(), snapshot), batch = false), "ewma", "Ewma", client)
    val sink: (DataFrame, Long) => Unit = (b, _) => {
      val values = b.select("value").collect().map(_.getAs[Array[Byte]](0))
      val now = System.currentTimeMillis()
      emitted.synchronized(values.foreach(v => emitted += (now -> v)))
    }
    val ewma = framed.writeStream.queryName("ewma").outputMode("append")
      .option("checkpointLocation", s"$work/ckpt-ewma-$tag").foreachBatch(sink).start()
    val jdbc = EwmaPipeline.jdbcSink(decoded(jdbcSrc.toDF(), snapshot), jdbcUrl(tag), "trades",
      jdbcProps, "trade_seq", s"$work/ckpt-jdbc-$tag").queryName("jdbc").start()
    new Running(ewmaSrc, jdbcSrc, ewma, jdbc, emitted)
  }

  def jdbcUrl(tag: String): String = s"jdbc:derby:memory:perfbench_$tag;create=true"
  val jdbcProps: java.util.Properties = {
    val p = new java.util.Properties
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  /** Starts the queries, runs the warm-up records and backlogs through
    * them untimed, then times the drain of one backlog after another for
    * `seconds` (at least `MinDrains`, at most all staged); returns the
    * number of full-size backlogs delivered and the median drain (ms).
    */
  def drain(spark: SparkSession, work: String, tag: String, cores: Int, s: Staged, seconds: Int,
      client: SchemaRegistry.Client, snapshot: Map[Int, String], onStart: () => Unit): (Running, Int, Long) = {
    val r = start(spark, work, tag, cores, client, snapshot)
    (s.warm +: s.warmBacklogs).foreach { b =>
      r.offer(b.map(s.frames))
      r.awaitBoth()
    }
    // one block per backlog, offered when both queries are idle, so each
    // backlog is read by exactly one micro-batch per query
    def drainOne(b: Range): Long = {
      System.gc()
      r.awaitIdle()
      val t0 = System.currentTimeMillis()
      r.offer(b.map(s.frames))
      r.awaitBoth()
      System.currentTimeMillis() - t0
    }
    s.backlogs.take(WarmFullDrains).foreach(drainOne)
    onStart()
    val end = System.currentTimeMillis() + seconds * 1000L
    val ms = mutable.ArrayBuffer.empty[Long]
    val timed = s.backlogs.drop(WarmFullDrains)
    while (ms.size < timed.size && (ms.size < MinDrains || System.currentTimeMillis() < end))
      ms += drainOne(timed(ms.size))
    System.err.println(s"[perfbench] $tag: drains ${ms.mkString(" ")} ms")
    (r, WarmFullDrains + ms.size, ms.sorted.apply(ms.size / 2))
  }

  /** Backlogs to stage for `seconds` of drains: a drain never took less
    * than 0.5 s (the idle wait, a full GC and one micro-batch per query).
    */
  def maxDrains(seconds: Int): Int = WarmFullDrains + math.max(MinDrains, 2 * seconds)

  /** Offered block: offset, trades, wall time offered. */
  final case class Block(offset: Long, deliveries: Seq[Delivery], wallMs: Long)

  /** The open-loop generator: delivers on schedule whatever the engine does.
    * Returns the blocks, each trade's lateness (ms) and the start wall time.
    */
  def openLoop(r: Running, s: Staged): (Seq[Block], Array[Double], Long) = {
    val blocks = mutable.ArrayBuffer.empty[Block]
    val late = new Array[Double](s.open.size)
    val t0Wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    while (i < s.open.size) {
      val now = System.nanoTime() - t0
      if (s.open(i).dueNs > now) java.util.concurrent.locks.LockSupport.parkNanos(s.open(i).dueNs - now)
      else {
        var j = i
        while (j < s.open.size && s.open(j).dueNs <= now) { late(j) = (now - s.open(j).dueNs) / 1e6; j += 1 }
        val ds = s.open.slice(i, j)
        val off = r.offer(ds.map(d => s.frames(d.seq)))
        blocks += Block(off, ds, System.currentTimeMillis())
        i = j
      }
    }
    (blocks.toSeq, late, t0Wall)
  }

  def run(ctx: Ctx): Result = {
    import ctx._
    val transport = new CountingTransport(new SchemaRegistry.InMemoryRegistryServer)
    val client = new SchemaRegistry.Client(transport)
    val (tradeId, encode) = ConfluentAvro.registerAndEncoder(client, "trades", tradeSchema, "Trade")
    val snapshot = client.snapshot(Seq(SchemaRegistry.valueSubject("trades")))
    val staged = stage(spark, seed, maxDrains(seconds), encode)
    log(s"staged ${staged.frames.length} trades")

    var firstTimed = 0L
    val (r, drains, drainMs) = drain(spark, work, "main", cores, staged, seconds, client, snapshot,
      () => { firstTimed = trace.startTimed(); log("warm-up done, timed drains start") })
    log(s"$drains backlogs drained, open loop starts")
    System.gc()
    val (blocks, late, t0Wall) = openLoop(r, staged)
    val flushWall = System.currentTimeMillis()
    r.offer(Seq(staged.frames(staged.flush)))
    r.awaitBoth()
    trace.stopTimed()
    r.stop()
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

    val ewmaProg = trace.progress.getOrElse("ewma", mutable.ArrayBuffer.empty).map(_.progress).toSeq
    val jdbcProg = trace.progress.getOrElse("jdbc", mutable.ArrayBuffer.empty).map(_.progress).toSeq
    val watermark = ewmaProg.lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
    val droppedLate = ewmaProg.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

    // every delivered record, redeliveries included, in delivery order
    val delivered: Seq[Int] = staged.warm ++ staged.warmBacklogs.flatten ++ staged.backlogs.take(drains).flatten ++
      staged.open.map(_.seq) :+ staged.flush
    import spark.implicits._
    val deliveredDF = delivered.map(staged.frames).toDF("value")
    val ewmaSnap = client.snapshot(Seq(SchemaRegistry.valueSubject("ewma")))
    val topicSchema = ewmaOf(decoded(deliveredDF, snapshot), batch = true).schema
    val emitted = r.emitted.synchronized(r.emitted.toSeq)
    // the permissive decoder gives a null row for a bad frame, so it counts
    // as a failed check instead of ending the run
    val decodedOut = emitted.toDF("emit_ms", "value")
      .select(col("emit_ms"), ConfluentAvro.decodeColRegistrySafe(col("value"), topicSchema, "Ewma", ewmaSnap).as("e"))
      .collect()
    val undecodable = decodedOut.count(_.isNullAt(1))
    val out = decodedOut.filterNot(_.isNullAt(1))
      .map(r => Row.fromSeq(r.getLong(0) +: r.getStruct(1).toSeq))
    // the closed windows as multisets of rows, compared value for value
    val oracle = ewmaOf(decoded(deliveredDF, snapshot), batch = true)
      .filter(col("window_end_ms") <= watermark).collect().map(_.toSeq)
    val ewmaEqual = out.map(_.toSeq.tail).sortBy(_.toString).toSeq == oracle.sortBy(_.toString).toSeq

    val derby = spark.read.jdbc(jdbcUrl("main"), "trades", jdbcProps).select("trade_seq", "price")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    val distinct = delivered.distinct.sorted.map(q => q.toLong -> staged.price(q))
    val derbyKeys = derby.map(_._1).toSeq == distinct.map(_._1)
    val derbySum = derby.map(_._2).sum == distinct.map(_._2).sum

    // latency of each window of open-loop trades emitted before the flush
    val lastEvent = staged.open.map(_.seq).groupBy(q => (Names(staged.instrument(q)), Math.floorDiv(staged.eventMs(q), 1000L)))
      .map { case (k, qs) => k -> qs.map(staged.eventMs).max }
    val ewmaLat = out.flatMap { row =>
      val emit = row.getLong(0)
      lastEvent.get((row.getString(3), row.getLong(1) / 1000))
        .filter(_ => emit < flushWall).map(ev => (emit - (t0Wall + ev - Origin)).toDouble)
    }.toSeq

    val checks = Seq(
      "ewma equals windowedEwmaBatch over delivered trades" -> ewmaEqual,
      "every framed output row decodes" -> (undecodable == 0),
      "derby holds exactly the distinct trade keys" -> derbyKeys,
      "derby price sum matches" -> derbySum,
      "no row dropped late" -> (droppedLate == 0L),
      "open-loop windows measured" -> ewmaLat.nonEmpty,
      "generator kept its schedule" -> (Trace.pct(late.toSeq, 0.99) < 250.0))

    val e2e = Map(
      "wall_s" -> drainMs / 1e3,
      "latency_p50_ms" -> Trace.pct(ewmaLat, 0.5),
      "latency_p90_ms" -> Trace.pct(ewmaLat, 0.9))
    val layer =
      if (!trace.traced) Map.empty[String, Double]
      else {
        val persistLat = persistLatencies(blocks, jdbcProg, t0Wall, staged)
        trace.layerMetrics(cores) ++
          streamingMetrics("ewma", ewmaProg, blocks, firstTimed) ++
          streamingMetrics("jdbc", jdbcProg, blocks, firstTimed) ++ Map(
            "streaming.trades_per_s" -> DrainTrades / (drainMs / 1e3),
            "streaming.ewma_latency_p99_ms" -> Trace.pct(ewmaLat, 0.99),
            "streaming.persist_latency_p50_ms" -> Trace.pct(persistLat, 0.5),
            "streaming.persist_latency_p99_ms" -> Trace.pct(persistLat, 0.99),
            "streaming.ewma.state_rows_max" -> ewmaProg.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0),
            "streaming.ewma.state_memory_bytes_max" -> ewmaProg.flatMap(_.stateOperators.map(_.memoryUsedBytes.toDouble)).maxOption.getOrElse(0.0),
            "streaming.ewma.state_commit_ms" -> ewmaProg.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum,
            "streaming.ewma.rows_dropped_late" -> droppedLate.toDouble,
            "streaming.jdbc.rows_offered" -> jdbcProg.map(_.numInputRows.toDouble).sum,
            "streaming.jdbc.rows_inserted" -> derby.length.toDouble,
            "streaming.jdbc.insert_ratio" -> derby.length / math.max(1.0, jdbcProg.map(_.numInputRows.toDouble).sum),
            "gen.offered_trades_per_s" -> staged.open.size / ((blocks.last.wallMs - t0Wall) / 1e3),
            "gen.late_ms_p99" -> Trace.pct(late.toSeq, 0.99),
            "sources.registry_requests" -> transport.requests.get.toDouble) ++
          layerRates(spark, staged, encode, snapshot) ++
          Map("streaming.trades_per_s_1core" -> oneCoreDrain(ctx, staged, client, snapshot))
      }
    log(s"${ewmaLat.size} open-loop windows, final watermark $watermark, trade schema id $tradeId")
    Result(firstTimed, e2e ++ layer, ewmaProg.size + jdbcProg.size, 0, checks)
  }

  /** From offer to commit in Derby, for each trade's first delivery. */
  private def persistLatencies(blocks: Seq[Block], prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      t0Wall: Long, s: Staged): Seq[Double] = {
    val commits = prog.map { p =>
      val end = p.sources.headOption.map(_.endOffset.trim.toLong).getOrElse(-1L)
      end -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
    }.sortBy(_._1)
    blocks.flatMap { b =>
      commits.find(_._1 >= b.offset).toSeq.flatMap { case (_, at) =>
        b.deliveries.filter(_.first).map(d => (at - (t0Wall + s.eventMs(d.seq) - Origin)).toDouble)
      }
    }
  }

  private def streamingMetrics(q: String, prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      blocks: Seq[Block], from: Long): Map[String, Double] = {
    val ps = prog.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= from)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    // backlog at each open-loop trigger: offered but not yet read
    val rowsUpTo = blocks.scanLeft(0L)(_ + _.deliveries.size).tail.zip(blocks)
    val backlog = ps.flatMap { p =>
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val read = p.sources.headOption.flatMap(s => Option(s.startOffset)).map(_.trim).filter(_.forall(_.isDigit))
        .map(_.toLong).getOrElse(-1L)
      val offered = rowsUpTo.filter(_._2.wallMs <= at).lastOption.map(_._1)
      offered.map(o => (o - rowsUpTo.filter(_._2.offset <= read).lastOption.map(_._1).getOrElse(0L)).toDouble)
    }
    Map(
      s"streaming.$q.batches" -> ps.size.toDouble,
      s"streaming.$q.trigger_ms_p50" -> (if (ps.isEmpty) 0.0 else Trace.pct(ps.map(_.durationMs.get("triggerExecution").doubleValue), 0.5)),
      s"streaming.$q.add_batch_ms" -> dur("addBatch"),
      s"streaming.$q.query_planning_ms" -> dur("queryPlanning"),
      s"streaming.$q.get_batch_ms" -> dur("getBatch"),
      s"streaming.$q.latest_offset_ms" -> dur("latestOffset"),
      s"streaming.$q.wal_commit_ms" -> dur("walCommit"),
      s"streaming.$q.commit_offsets_ms" -> dur("commitOffsets"),
      s"streaming.$q.backlog_rows_max" -> backlog.maxOption.getOrElse(0.0))
  }

  /** Rows/s of each layer's public function on the staged records (warm). */
  private def layerRates(spark: SparkSession, s: Staged, encode: org.apache.spark.sql.expressions.UserDefinedFunction,
      snapshot: Map[Int, String]): Map[String, Double] = {
    import spark.implicits._
    val frames = s.frames.toSeq.toDF("value").persist()
    val trades = decoded(frames, snapshot).persist()
    val n = frames.count().toDouble
    trades.count()
    def rate(df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      n / ((System.nanoTime() - t0) / 1e9)
    }
    val m = Map(
      "sources.decode_rows_per_s" -> rate(decoded(frames, snapshot)),
      "sources.encode_rows_per_s" -> rate(trades.select(encode(struct(tradeSchema.fieldNames.map(col).toIndexedSeq: _*)))),
      "functions.ewma_fold_rows_per_s" -> rate(ewmaOf(trades, batch = true)))
    frames.unpersist(); trades.unpersist()
    m
  }

  /** The single-threaded baseline: the same backlog drained on local[1]. */
  private def oneCoreDrain(ctx: Ctx, s: Staged, client: SchemaRegistry.Client, snapshot: Map[Int, String]): Double = {
    ctx.spark.stop()
    val one = Main.session(1, ctx.work)
    val (r, _, ms) = drain(one, ctx.work, "one", 1, s, ctx.seconds, client, snapshot, () => ())
    r.stop()
    one.stop()
    DrainTrades / (ms / 1e3)
  }
}
