package graft

import org.apache.spark.sql.functions._

import graft.model.{Ewma, Trade}
import graft.sources.ConfluentAvro

/** Round-trip and wire-format pinning for the Confluent Avro codec
  * (SURVEY.md §7.4 hard part 3: magic byte, schema-id endianness).
  */
class ConfluentAvroSpec extends SparkSpec {
  import spark.implicits._

  private val trades = Seq(
    Trade(1.5, "buy", 100.0, "BTC-PERP", Some(0.6), Some("M"), 99.5, 1L, 1700000000000L, "t-1", 1L),
    Trade(2.0, "sell", 101.0, "BTC-PERP", None, None, 100.5, -1L, 1700000000100L, "t-2", 2L))

  test("frame layout: magic 0x00 + 4-byte big-endian schema id") {
    val framed = ConfluentAvro.frame(0x01020304, Array[Byte](9, 9))
    assert(framed(0) === 0x00.toByte)
    assert(framed.slice(1, 5).toSeq === Seq[Byte](1, 2, 3, 4)) // big-endian
    assert(framed.length === 7)
    val (id, body) = ConfluentAvro.unframe(framed)
    assert(id === 0x01020304)
    assert(body.toSeq === Seq[Byte](9, 9))
  }

  test("avro schema json covers nullable unions like the reference models") {
    val json = ConfluentAvro.avroSchemaJson(Trade.schema, "TradesDataAvro")
    assert(json.contains(""""name": "iv", "type": ["null", "double"]"""))
    assert(json.contains(""""name": "price", "type": "double""""))
    // parseable by avro-core
    new org.apache.avro.Schema.Parser().parse(json)
  }

  test("Trade round-trips through Confluent-framed Avro, nulls preserved") {
    val df = spark.createDataset(trades).toDF()
    val encoded = df.select(
      ConfluentAvro.encodeCol(struct(df.columns.map(col): _*), Trade.schema, 7, "TradesDataAvro").as("value"))
    val decoded = encoded.select(
      ConfluentAvro.decodeCol(col("value"), Trade.schema, "TradesDataAvro").as("t"))
      .select("t.*").as[Trade].collect()
    assert(decoded.toSeq === trades)
  }

  test("Ewma record round-trips (the aggregate output schema)") {
    val recs = Seq(Ewma(300L, 2.0 / 301.0, 42.5))
    val df = spark.createDataset(recs).toDF()
    val rt = df.select(
        ConfluentAvro.encodeCol(struct(df.columns.map(col): _*), Ewma.schema, 8, "EWMA").as("v"))
      .select(ConfluentAvro.decodeCol(col("v"), Ewma.schema, "EWMA").as("e"))
      .select("e.*").as[Ewma].collect()
    assert(rt.toSeq === recs)
  }

  test("unframe rejects payloads without the magic byte") {
    intercept[Exception] {
      ConfluentAvro.unframe(Array[Byte](1, 0, 0, 0, 1, 2))
    }
  }

  test("schema-id check: mismatched writer id is rejected, not misdecoded") {
    val df = spark.createDataset(trades).toDF()
    val encoded = df.select(
      ConfluentAvro.encodeCol(struct(df.columns.map(col): _*), Trade.schema, 7, "TradesDataAvro").as("value"))
    // strict decoder expecting the right id: fine
    val ok = encoded.select(
        ConfluentAvro.decodeCol(col("value"), Trade.schema, "TradesDataAvro",
          expectedSchemaId = Some(7)).as("t"))
      .select("t.*").as[Trade].collect()
    assert(ok.toSeq === trades)
    // strict decoder expecting a different id: the job fails loudly
    intercept[Exception] {
      encoded.select(
          ConfluentAvro.decodeCol(col("value"), Trade.schema, "TradesDataAvro",
            expectedSchemaId = Some(8)).as("t"))
        .collect()
    }
    // safe decoder nulls the mismatched rows instead
    val safe = encoded.select(
      ConfluentAvro.decodeColSafe(col("value"), Trade.schema, "TradesDataAvro",
        expectedSchemaId = Some(8)).as("t"))
    assert(safe.filter(col("t").isNull).count() === trades.size)
  }

  test("registry decode: evolved writer schema resolves against the old reader; unknown id rejected") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory

    val v1Json = ConfluentAvro.avroSchemaJson(Ewma.schema, "EWMA")
    // v2 adds a field with a default AND reorders — both must resolve
    val v2Json =
      """{"type": "record", "name": "EWMA", "namespace": "graft", "fields": [
        |  {"name": "alpha", "type": "double"},
        |  {"name": "source", "type": "string", "default": "registry"},
        |  {"name": "period", "type": "long"},
        |  {"name": "current", "type": "double"}
        |]}""".stripMargin
    def encodeUnder(json: String, id: Int, fields: Map[String, Any]): Array[Byte] = {
      val schema = new Schema.Parser().parse(json)
      val rec = new GenericData.Record(schema)
      fields.foreach { case (k, v) =>
        if (schema.getField(k) != null) rec.put(k, v.asInstanceOf[AnyRef])
      }
      if (schema.getField("source") != null) rec.put("source", new org.apache.avro.util.Utf8("s"))
      val out = new java.io.ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
      enc.flush()
      ConfluentAvro.frame(id, out.toByteArray)
    }
    val fields = Map[String, Any]("period" -> 300L, "alpha" -> 0.5, "current" -> 42.5)
    val payloads = Seq(
      encodeUnder(v1Json, 8, fields),  // written under the reader's own version
      encodeUnder(v2Json, 9, fields))  // written under the evolved version
    import spark.implicits._
    val df = payloads.toDF("value")
    val snapshot = Map(8 -> v1Json, 9 -> v2Json)
    val decoded = df.select(
        ConfluentAvro.decodeColRegistry(col("value"), Ewma.schema, "EWMA", snapshot).as("e"))
      .select("e.*").as[Ewma].collect().toSet
    // both versions decode to the SAME reader-schema record: the added v2
    // field is dropped, the reorder is resolved by field name
    assert(decoded === Set(Ewma(300L, 0.5, 42.5)))
    // an id outside the snapshot fails loudly instead of misdecoding
    val unknown = Seq(encodeUnder(v1Json, 10, fields)).toDF("value")
    val err = intercept[Exception] {
      unknown.select(
        ConfluentAvro.decodeColRegistry(col("value"), Ewma.schema, "EWMA", snapshot).as("e"))
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("permissive decode nulls bad payloads instead of failing the job") {
    val good = spark.createDataset(trades).toDF()
      .select(ConfluentAvro.encodeCol(
        struct(Trade.schema.fieldNames.map(col): _*), Trade.schema, 7, "TradesDataAvro").as("value"))
    import spark.implicits._
    val bad = Seq(
      Array[Byte](1, 2, 3),                 // no magic byte
      Array[Byte](0, 0, 0, 0, 7, 99, 99))  // framed but garbage body
      .toDF("value")
    val mixed = good.unionAll(bad)
    val decoded = mixed.select(
      ConfluentAvro.decodeColSafe(col("value"), Trade.schema, "TradesDataAvro").as("t"))
    assert(decoded.filter(col("t").isNull).count() === 2)
    val ok = decoded.filter(col("t").isNotNull).select("t.*").as[Trade].collect()
    assert(ok.toSet === trades.toSet)
  }

  test("error table: strict decoders throw and permissive ones null on every bad frame") {
    import spark.implicits._
    val good = spark.createDataset(trades).toDF()
      .select(ConfluentAvro.encodeCol(
        struct(Trade.schema.fieldNames.map(col): _*), Trade.schema, 7, "TradesDataAvro").as("value"))
    val goodBytes = good.collect().map(_.getAs[Array[Byte]](0)).toSeq
    val bad = Seq(
      "unknown id" -> ConfluentAvro.frame(8, ConfluentAvro.unframe(goodBytes.head)._2),
      "no magic byte" -> Array[Byte](1, 0, 0, 0, 7, 99, 99),
      "under 5 bytes" -> Array[Byte](0, 0, 0),
      "garbage body" -> Array[Byte](0, 0, 0, 0, 7, 99, 99))
    val snapshot = Map(7 -> ConfluentAvro.avroSchemaJson(Trade.schema, "TradesDataAvro"))
    val decoders = Seq[(String, Boolean, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      ("decodeCol", true, ConfluentAvro.decodeCol(_, Trade.schema, "TradesDataAvro", Some(7))),
      ("decodeColSafe", false, ConfluentAvro.decodeColSafe(_, Trade.schema, "TradesDataAvro", Some(7))),
      ("decodeColRegistry", true, ConfluentAvro.decodeColRegistry(_, Trade.schema, "TradesDataAvro", snapshot)),
      ("decodeColRegistrySafe", false,
        ConfluentAvro.decodeColRegistrySafe(_, Trade.schema, "TradesDataAvro", snapshot)))
    for ((name, strict, decode) <- decoders) {
      val ok = goodBytes.toDF("value").select(decode(col("value")).as("t"))
        .select("t.*").as[Trade].collect()
      assert(ok.toSeq === trades, s"$name: good frames")
      for ((what, payload) <- bad) {
        val out = Seq(payload).toDF("value").select(decode(col("value")).as("t"))
        if (strict) intercept[Exception](out.collect())
        else assert(out.head().isNullAt(0), s"$name: $what must decode to null")
      }
    }
  }

  test("one codec instance: frames of different lengths, a malformed one between them") {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    val json = ConfluentAvro.avroSchemaJson(Trade.schema, "TradesDataAvro")
    def row(id: String, iv: java.lang.Double, liq: String, seq: Long) =
      new GenericRowWithSchema(Array[Any](1.5, "buy", 100.0, "BTC-PERP", iv, liq,
        99.5, 1L, 1700000000000L + seq, id, seq), Trade.schema)
    val rows = Seq(
      row("t-" + "x" * 200, 0.6, "MT", 1L),
      row("t", null, null, 2L),
      row("t-" + "y" * 40, 0.25, "M", Long.MaxValue))
    val enc = new ConfluentAvro.Encoder(json, 7)
    val framed = rows.map(enc.call)
    assert(framed.map(_.length).distinct.size === 3)
    assert(framed.forall(f => f.take(5).toSeq === Seq[Byte](0, 0, 0, 0, 7)))
    val truncated = framed.head.dropRight(3)
    val payloads = Seq(framed(0), framed(1), truncated,
      Array[Byte](0, 0, 0, 0, 7, 99, 99), framed(2), framed(1), framed(0))
    val dec = new ConfluentAvro.Decoder(json, Trade.schema, Map.empty, permissive = true)
    val decoded = payloads.map(p => Option(dec.call(p)).map(_.toSeq))
    val want = Seq(rows(0), rows(1), null, null, rows(2), rows(1), rows(0))
      .map(r => Option(r).map(_.toSeq))
    assert(decoded === want)
  }
}
