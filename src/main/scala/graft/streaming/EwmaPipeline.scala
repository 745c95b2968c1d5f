package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.EwmaFunctions

/** The reference's aggregation service (entry point B, SURVEY.md §3.2)
  * rebuilt on Structured Streaming:
  *
  *   source -> event-time tumbling window -> zero-seeded ordered EWMA fold
  *          -> filter(current > 0) -> sink
  *
  * Two time modes (SURVEY.md §1.5):
  *  - event-time (default): `window($"event_time", period)` + watermark —
  *    deterministic, replayable, late-data aware; this is the mode the
  *    correctness tests pin, replaying `events.parquet` via the file
  *    source so CI never depends on wall clock.
  *  - processing-time (faithful to the reference): same plan driven by
  *    `Trigger.ProcessingTime`, grouping on the micro-batch window only —
  *    kept for fidelity, not used in tests (not reproducible by design).
  *
  * Scale notes: the windowed aggregation shuffles once on (key, window);
  * state per group is the collected (ts, seq, price) buffer — bounded by
  * window length x per-key rate, the same bound the reference's in-memory
  * `Vec<f64>` has (main.rs:79), but partitioned across executors instead
  * of confined to one process.
  */
object EwmaPipeline {

  /** File-source replay of a parquet events directory as a stream. */
  def fileSource(
      spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Event-time windowed EWMA over any (key, event_time, ts, seq, value)
    * frame. `periodSeconds` drives both the window length and alpha —
    * faithfully reproducing the reference's seconds-vs-ms quirk is the
    * CALLER's job: pass periodSeconds = configMinutes * 60 to get
    * alpha = 2/(60m+1) with an m-minute window (main.rs:83,111).
    */
  def windowedEwma(
      events: DataFrame,
      keyCol: String, eventTimeCol: String,
      tsCol: String, seqCol: String, valueCol: String,
      periodSeconds: Long,
      watermark: String = "10 minutes"): DataFrame =
    windowedEwmaPlan(events, keyCol, eventTimeCol, tsCol, seqCol, valueCol,
      periodSeconds, Some(watermark))

  /** Batch form of [[windowedEwma]] — identical plan minus the watermark;
    * the streaming replay is pinned to equal this on the same data.
    */
  def windowedEwmaBatch(
      events: DataFrame,
      keyCol: String, eventTimeCol: String,
      tsCol: String, seqCol: String, valueCol: String,
      periodSeconds: Long): DataFrame =
    windowedEwmaPlan(events, keyCol, eventTimeCol, tsCol, seqCol, valueCol,
      periodSeconds, None)

  private def windowedEwmaPlan(
      events: DataFrame,
      keyCol: String, eventTimeCol: String,
      tsCol: String, seqCol: String, valueCol: String,
      periodSeconds: Long, watermark: Option[String]): DataFrame = {
    val alpha = EwmaFunctions.alpha(periodSeconds)
    watermark.fold(events)(events.withWatermark(eventTimeCol, _))
      .groupBy(
        window(col(eventTimeCol), s"$periodSeconds seconds").as("win"),
        col(keyCol))
      .agg(
        EwmaFunctions.ewmaOrdered(col(tsCol), col(seqCol), col(valueCol), alpha).as("current"),
        count(lit(1)).as("n_events"))
      .filter(col("current") > 0) // reference main.rs:118 suppression
      .select(
        col("win.start").as("window_start"),
        col("win.end").as("window_end"),
        col(keyCol),
        lit(periodSeconds).as("period"),
        lit(alpha).as("alpha"),
        col("current"),
        col("n_events"))
  }

  /** JDBC persistence of a stream (entry point C, SURVEY.md §3.3):
    * `foreachBatch` with the pk dedup done in TWO layers so at-least-once
    * delivery is actually idempotent, mirroring the Connect sink's pk
    * semantics (raw-pg.json:11):
    *  - within the batch: `dropDuplicates(pk)`;
    *  - against the TABLE: keys the table already holds are not inserted
    *    again — a batch replayed after a crash (JDBC append committed,
    *    checkpoint offset not) or a key redelivered in a later batch
    *    inserts nothing, instead of duplicating rows or crash-looping on a
    *    real pk constraint.
    * The second layer runs inside the one Spark action of a batch
    * ([[org.apache.spark.sql.graftvec.JdbcAppend]]): the dedup shuffle puts
    * each key in exactly one task, and each task probes the table for its
    * own keys on its own connection, drops the ones it finds and inserts
    * the rest through Spark's `JdbcUtils.savePartition` (the type mapping,
    * batching, isolation and per-partition transaction of `write.jdbc`).
    * For NUMERIC and TEMPORAL pks the probe asks only for the task's pk
    * [min, max] range. The table Spark's writer creates has no key and no
    * index, so the database still scans every row to answer it and the
    * probe's cost grows with the table's history (Derby, 120k rows: 15–22
    * ms per probe, 4 ms once the column is a PRIMARY KEY); create the
    * table beforehand with a key or index on the pk column to bound it by
    * the batch's key span. Other pks (strings) read the whole pk column: the
    * database would compare them under ITS collation (e.g. Postgres
    * 'en_US', where 'a' < 'B'), which can disagree with Spark's, and a
    * replayed row would be re-inserted. Spark compares the keys in every
    * case, as the anti-join it replaces did. A dialect MERGE would
    * subsume both layers where available.
    *
    * While the table is absent (the first batch), Spark's writer creates
    * and fills it. Absence is decided by `DatabaseMetaData.getTables`
    * ([[jdbcTableExists]]), NOT by catching a probe's exception: a
    * transient JDBC failure during the probe — exactly the crash-replay
    * window this dedup exists for — fails the batch so the trigger
    * retries, never silently degrading to a blind append. Within one
    * query run the table's presence and read schema are remembered, so a
    * batch plans one query and runs one action; if the table is dropped
    * later, the next probe fails the batch. Absence is never remembered.
    */
  def jdbcSink(
      df: DataFrame, url: String, table: String,
      props: java.util.Properties, pkCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    // the table's read schema, per query run (a run's batches share its session)
    var seen: Option[(SparkSession, StructType)] = None
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fresh = batch.dropDuplicates(pkCol)
        val tableSchema = seen.collect { case (s, t) if s eq spark => t }.orElse(
          Option.when(jdbcTableExists(url, table, props))(
            spark.read.jdbc(url, table, props).schema))
        seen = tableSchema.map(spark -> _)
        tableSchema match {
          case None => fresh.write.mode("append").jdbc(url, table, props)
          case Some(t) =>
            val append = org.apache.spark.sql.graftvec.JdbcAppend.forTable(
              spark, url, table, props, fresh.schema, pkCol, t)
            fresh.foreachPartition((rows: Iterator[org.apache.spark.sql.Row]) =>
              append.insertAbsent(rows))
        }
      }
  }

  /** True iff `table` exists per JDBC catalog metadata. Matches the table
    * name case-insensitively (Derby/Postgres fold unquoted identifiers in
    * opposite directions), scoped to the schema when `table` is qualified
    * (`schema.name`) so a same-named table elsewhere does not count. The
    * lookup passes name patterns to `getTables` (per-case-fold, so the
    * driver can use its catalog index); only when every fold misses does it
    * fall back to one full-catalog scan, which still finds tables created
    * with quoted mixed-case identifiers. Any connection failure propagates
    * — only a definite "no such table" answers false.
    */
  private[graft] def jdbcTableExists(
      url: String, table: String, props: java.util.Properties): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val parts = table.split('.').map(_.replaceAll("[\"`]", ""))
      val bare = parts.last
      val schema = if (parts.length > 1) Some(parts(parts.length - 2)) else None
      val md = conn.getMetaData
      def rowMatches(r: java.sql.ResultSet): Boolean =
        Option(r.getString("TABLE_NAME")).exists(_.equalsIgnoreCase(bare)) &&
          schema.forall(s => Option(r.getString("TABLE_SCHEM"))
            .exists(_.equalsIgnoreCase(s)))
      def scan(rs: java.sql.ResultSet): Boolean =
        try Iterator.continually(rs).takeWhile(_.next()).exists(rowMatches)
        finally rs.close()
      // `_` is a single-char wildcard in getTables patterns, so a pattern
      // probe can over-match (e.g. `raw_trades` ~ `rawXtrades`); rows are
      // re-checked exactly below. Probe each case fold the server may use.
      def escaped(s: String) = Seq(s, s.toUpperCase, s.toLowerCase).distinct
      val indexed = escaped(bare).exists { namePat =>
        val schemaPats = schema.map(escaped).getOrElse(Seq(null))
        schemaPats.exists { schemaPat => scan(md.getTables(null, schemaPat, namePat, null)) }
      }
      // a table created with a QUOTED mixed-case identifier ("Raw_Trades")
      // matches none of the three case folds; fall back to one full-catalog
      // scan (scoped to the schema pattern when given) before answering no
      indexed || scan(md.getTables(null, null, "%", null))
    } finally conn.close()
  }

  /** Kafka sink wiring (entry point B's output). Compiles against any
    * Spark; requires the spark-sql-kafka connector on the cluster
    * classpath at run time (not present in this test container, so it is
    * exercised only on a real cluster).
    */
  def kafkaSink(
      df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)

  /** Registry-driven produce framing (the reference producer's exact
    * sequence, producer.rs:43-56): register the frame's schema under the
    * topic's TopicNameStrategy value subject at PLAN time, take the
    * registry-ASSIGNED global id, and project into kafka's (key, value)
    * wire shape — value Confluent-framed under that id, key the
    * reference's wall-clock epoch-millis string (lib.rs:29-36).
    * Registration happens once, driver-side; the encode itself is a
    * stateless projection, so the same framing runs on batch and
    * streaming frames alike. RegistryPipelineFidelitySpec round-trips it
    * through the snapshot-resolving decode.
    */
  def frameForTopic(df: DataFrame, topic: String, recordName: String,
      client: graft.sources.SchemaRegistry.Client): DataFrame = {
    val (_, enc) = graft.sources.ConfluentAvro.registerAndEncoder(
      client, topic, df.schema, recordName)
    df.select(Support.wallClockKey().as("key"),
      enc(struct(df.columns.map(col): _*)).as("value"))
  }

  /** [[kafkaSink]] with the produce-side registry protocol wired in:
    * register-then-frame via [[frameForTopic]], write the framed stream.
    * Mirrors [[kafkaSourceWithRegistry]] on the consume side — kafka
    * transport aside (absent from this container), the framing itself is
    * fidelity-spec'd end-to-end.
    */
  def kafkaSinkWithRegistry(
      df: DataFrame, bootstrap: String, topic: String, recordName: String,
      client: graft.sources.SchemaRegistry.Client,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    kafkaSink(frameForTopic(df, topic, recordName, client),
      bootstrap, topic, checkpoint)

  /** Kafka source wiring (entry point B's input): Confluent-framed Avro
    * payloads decoded via [[graft.sources.ConfluentAvro]], with the
    * writer-schema snapshot resolved through a live
    * [[graft.sources.SchemaRegistry.Client]] at PLAN time: the topic's
    * value subject is walked once on the driver (registry size is
    * control-plane-bounded) and the id -> schema map rides the decoder
    * closure — every message decodes through reader/writer resolution
    * against the version it was written under, yet executors issue ZERO
    * registry requests, unlike the reference consumer's per-message
    * fetch + cache (consumer.rs:47-48,76). RegistryPipelineFidelitySpec
    * drives the identical decode path on file streams end-to-end into the
    * windowed EWMA.
    *
    * The snapshot is FROZEN at plan time, so a schema version registered
    * mid-stream arrives with an unknown id. `strict = true` (default)
    * fails the query fast — right for bounded reads and for deployments
    * that restart on schema change. For long-running queries pass
    * `strict = false`: unknown-id and malformed frames decode to null
    * (the decodeColSafe principle — one poisoned message must not kill
    * the job); count the nulls via a listener metric and restart when
    * they appear (the checkpoint makes restart cheap, and the fresh plan
    * re-snapshots the registry).
    */
  def kafkaSourceWithRegistry(
      spark: SparkSession, bootstrap: String, topic: String,
      valueSchema: StructType, recordName: String,
      client: graft.sources.SchemaRegistry.Client,
      startingOffsets: String = "latest",
      strict: Boolean = true): DataFrame = {
    val snapshot =
      client.snapshot(Seq(graft.sources.SchemaRegistry.valueSubject(topic)))
    val decoded =
      if (strict)
        graft.sources.ConfluentAvro.decodeColRegistry(
          col("value"), valueSchema, recordName, snapshot)
      else
        graft.sources.ConfluentAvro.decodeColRegistrySafe(
          col("value"), valueSchema, recordName, snapshot)
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("key").cast("string").as("key"), decoded.as("t"))
      .select(col("key"), col("t.*"))
  }

  /** Processing-time trigger mirroring the reference's wall-clock tick
    * (main.rs:83-85): period minutes -> ms trigger interval.
    */
  def processingTimeTrigger(periodMinutes: Int): Trigger =
    Trigger.ProcessingTime(periodMinutes.toLong * 60 * 1000)
}
