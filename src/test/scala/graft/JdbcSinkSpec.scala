package graft

import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftvec.JdbcAppend

import graft.streaming.EwmaPipeline

/** Entry point C (SURVEY.md §3.3): stream -> JDBC table with pk-dedup
  * before insert, exercised end-to-end against embedded Derby (the only
  * JDBC engine in this container — it ships with Spark for the Hive
  * metastore).
  */
class JdbcSinkSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("streaming foreachBatch JDBC sink persists rows, deduped on the pk") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
      .limit(500)
    // duplicate every row to prove pk-dedup (the reference JDBC sink
    // upserts on pk.fields=timestamp; we dedup-before-insert per batch)
    val withDups = ev.union(ev)
    val dir = tempDir("graft-jdbc-")
    withDups.coalesce(1).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val checkpoint = tempDir("graft-jdbc-ckpt-")
    val q = EwmaPipeline.jdbcSink(stream, url, "raw_events", props, "event_id", checkpoint)
      .start()
    try q.processAllAvailable() finally q.stop()

    val back = spark.read.jdbc(url, "raw_events", props)
    assert(back.count() === 500) // dups on the pk removed per batch
    assert(back.select("event_id").distinct().count() === 500)
    // values survived the round trip
    val sumWant = ev.agg(sum("value")).head().getDouble(0)
    val sumGot = back.agg(sum("value")).head().getDouble(0)
    assert(math.abs(sumWant - sumGot) < 1e-6)

    // crash-replay: a FRESH checkpoint re-delivers every batch (the
    // worst-case at-least-once retry); the table-level anti-join must
    // keep the table unchanged instead of duplicating or crash-looping
    val ckpt2 = tempDir("graft-jdbc-ckpt2-")
    val q2 = EwmaPipeline.jdbcSink(
      spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      url, "raw_events", props, "event_id", ckpt2).start()
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.jdbc(url, "raw_events", props)
    assert(after.count() === 500, "replayed batches must not re-insert pk rows")
  }

  test("table-absence probe: metadata check, not exception swallowing") {
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    // a table this test creates answers true; an absent name answers false
    val conn = java.sql.DriverManager.getConnection(url, props)
    try conn.createStatement().execute("CREATE TABLE probe_present (id INT)")
    finally conn.close()
    assert(EwmaPipeline.jdbcTableExists(url, "probe_present", props))
    assert(!EwmaPipeline.jdbcTableExists(url, "no_such_table_here", props))
    // a broken connection PROPAGATES (would previously degrade to a blind
    // append exactly when the dedup probe mattered most)
    intercept[Exception] {
      EwmaPipeline.jdbcTableExists(
        "jdbc:derby:memory:absentdb", "raw_events", props) // no ;create=true
    }
  }

  test("table probe finds quoted mixed-case identifiers via the catalog fallback") {
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.createStatement().execute(
        """CREATE TABLE "Raw_Trades" (id BIGINT PRIMARY KEY)""")
      // none of the exact/UPPER/lower case-fold probes hit a quoted
      // mixed-case name — only the full-catalog fallback does
      assert(EwmaPipeline.jdbcTableExists(url, "Raw_Trades", props))
      assert(EwmaPipeline.jdbcTableExists(url, "raw_trades", props))
    } finally {
      try conn.createStatement().execute("""DROP TABLE "Raw_Trades"""")
      finally conn.close()
    }
  }

  test("task probe bounds its read to the pk range only for collation-free pk types") {
    import java.sql.{Date, Timestamp}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    def sql(dt: DataType, keys: Any*): String = {
      val schema = StructType(Seq(StructField("pk", dt), StructField("v", DoubleType)))
      JdbcAppend.forTable(spark, url, "t", props, schema, "pk", schema)
        .probeSql(keys.map(k => Row(k, 1.0)).toArray)
    }
    // numeric/temporal orderings mean the same thing in Spark and any DB:
    // the read is bounded by the task's own [min, max], both inclusive
    val bounded = Seq(
      (LongType, Seq(150L, 100L, 200L), "100", "200"),
      (IntegerType, Seq(150, 100, 200), "100", "200"),
      (DoubleType, Seq(1.5, 1.0, 2.0), "1.0", "2.0"),
      (DecimalType(10, 2), Seq("1.50", "1.00", "2.00").map(new java.math.BigDecimal(_)),
        "1.00", "2.00"),
      (DateType, Seq("2024-01-02", "2024-01-01", "2024-01-03").map(Date.valueOf),
        "'2024-01-01'", "'2024-01-03'"),
      (TimestampType, Seq("01", "00", "02").map(s => Timestamp.valueOf(s"2024-01-01 00:00:$s")),
        "'2024-01-01 00:00:00.0'", "'2024-01-01 00:00:02.0'"),
      (TimestampNTZType, Seq("01", "00", "02").map(s =>
        java.time.LocalDateTime.parse(s"2024-01-01T00:00:$s")),
        "'2024-01-01 00:00:00'", "'2024-01-01 00:00:02'"))
    for ((dt, keys, lo, hi) <- bounded)
      assert(sql(dt, (keys :+ null): _*) ===
        s"""SELECT "pk" FROM t WHERE "pk" >= $lo AND "pk" <= $hi""", s"$dt")
    assert(sql(LongType, 7L).endsWith(""""pk" >= 7 AND "pk" <= 7"""))
    // string ordering is collation-dependent (e.g. Postgres 'a' < 'B'), and
    // non-finite doubles have no SQL literal: the whole column is read
    for ((dt, k) <- Seq(StringType -> "a", BinaryType -> Array[Byte](1),
        BooleanType -> true, DoubleType -> Double.NaN))
      assert(sql(dt, k) === """SELECT "pk" FROM t""", s"$dt must read the whole column")
  }

  test("string-pk sink stays replay-idempotent via the unbounded probe") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(concat(lit("doc-"), col("doc_id")).as("pk"), col("n_chars"))
      .limit(200)
    val dir = tempDir("graft-jdbc-str-")
    docs.union(docs).coalesce(1).write.mode("overwrite").parquet(dir)
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    def run(): Unit = {
      val ckpt = tempDir("graft-jdbc-str-ckpt-")
      val q = EwmaPipeline.jdbcSink(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        url, "raw_docs", props, "pk", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.jdbc(url, "raw_docs", props).count() === 200)
    run() // fresh checkpoint = full redelivery; table must be unchanged
    assert(spark.read.jdbc(url, "raw_docs", props).count() === 200,
      "string-pk replay must not re-insert rows")
  }

  test("task probe drops keys held at both range bounds and inside it") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // an INTEGER column under a bigint stream pk: keys compare as bigint,
      // the wider of the two types, as the anti-join coerced them
      conn.createStatement().execute("CREATE TABLE probe_keys (id INTEGER PRIMARY KEY, v DOUBLE)")
      conn.createStatement().execute(
        "INSERT INTO probe_keys VALUES (100, 0), (150, 0), (200, 0), (300, 0)")
      val schema = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
      val append = JdbcAppend.forTable(spark, url, "probe_keys", props, schema, "id",
        spark.read.jdbc(url, "probe_keys", props).schema)
      val batch = Array[Row](Row(200L, 1.0), Row(125L, 1.0), Row(100L, 1.0),
        Row(null, 1.0), Row(150L, 1.0), Row(175L, 1.0))
      // 300 lies outside the task's range: the probe never reads it
      assert(append.probeSql(batch).endsWith(""""ID" >= 100 AND "ID" <= 200"""))
      // held at the min bound, at the max bound and inside: dropped; a
      // null key matches nothing, as in the anti-join
      assert(append.absent(conn, batch).map(r => Option(r.get(0))).toSeq ===
        Seq(Some(125L), None, Some(175L)))
    } finally {
      try conn.createStatement().execute("DROP TABLE probe_keys") finally conn.close()
    }
  }

  test("cross-batch redelivery lands once; later batches run at most 2 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    // (query id, batch id) of every streaming job, plus the marker job that
    // shows every earlier job start has been delivered
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        Option(p.getProperty("sql.streaming.queryId")).foreach(q =>
          started.add(q -> p.getProperty("streaming.sql.batchId")))
        Option(p.getProperty("graft.spec.marker")).foreach(m => started.add("marker" -> m))
      }
    }
    def settle(tag: String): Unit = {
      spark.sparkContext.setLocalProperty("graft.spec.marker", tag)
      try spark.range(1).collect() finally spark.sparkContext.setLocalProperty("graft.spec.marker", null)
      val deadline = System.currentTimeMillis() + 30000
      while (!started.contains("marker" -> tag) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(started.contains("marker" -> tag), "listener events not delivered")
    }
    def redeliver[K: Encoder](table: String, batches: Seq[Seq[K]]): Unit = {
      implicit val enc: Encoder[(K, Double)] =
        org.apache.spark.sql.Encoders.tuple(implicitly[Encoder[K]], org.apache.spark.sql.Encoders.scalaDouble)
      val src = MemoryStream[(K, Double)](spark)
      val ckpt = tempDir("graft-jdbc-redeliver-")
      val q = EwmaPipeline.jdbcSink(src.toDF().toDF("pk", "v"), url, table, props, "pk", ckpt)
        .start()
      try batches.foreach { keys =>
        src.addData(keys.map(_ -> 1.0): _*)
        q.processAllAvailable()
      } finally q.stop()
      val want = batches.flatten.distinct
      val back = spark.read.jdbc(url, table, props)
      assert(back.count() === want.size, s"$table: a redelivered key was inserted twice")
      assert(back.select("pk").as[K].collect().toSet === want.toSet)
      settle(table)
      val jobs = started.asScala.toSeq.collect { case (id, b) if id == q.id.toString => b.toLong }
        .groupBy(identity).view.mapValues(_.size).toMap
      val later = q.recentProgress.filter(p => p.batchId > 0 && p.numInputRows > 0).map(_.batchId)
      assert(later.length === batches.length - 1, s"$table: one batch per addData")
      for (b <- later)
        assert(jobs.get(b).exists(n => n >= 1 && n <= 2),
          s"$table: batch $b ran ${jobs.getOrElse(b, 0)} Spark jobs; want 1-2")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      redeliver("redeliver_long", Seq(Seq(1L, 1L, 2L, 3L), Seq(3L, 4L, 5L), Seq(5L, 6L, 1L)))
      redeliver("redeliver_str", Seq(Seq("a", "a", "b", "c"), Seq("c", "d", "e"), Seq("e", "f", "a")))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
