package graft

import org.apache.spark.sql.functions._

import graft.model.Trade
import graft.sources.{ConfluentAvro, SchemaRegistry}
import graft.sources.SchemaRegistry.{Client, HttpRegistryTransport,
  InMemoryRegistryServer, RegistryException, RegistryHttpServer}

/** The Confluent registry PROTOCOL client, run as a MATRIX over both
  * transports: the in-memory fake AND the loopback HTTP path
  * (java.net.http client → 127.0.0.1 HttpServer → the same in-memory
  * protocol core), so the real wire mechanics — percent-encoded URL
  * segments surviving the socket, content types, status propagation,
  * non-JSON proxy error bodies — execute instead of being simulated
  * (round-15 directive #3; reference: registry_handler.rs:50-58,
  * producer.rs:43-51, consumer.rs:47-48).
  */
class RegistryClientSpec extends SparkSpec {
  import spark.implicits._

  private val v1Json =
    """{"type": "record", "name": "Thing", "namespace": "graft",
      | "fields": [{"name": "id", "type": "long"},
      |            {"name": "name", "type": "string"}]}""".stripMargin
  // v2 adds a field WITH default — backward compatible (a v2 reader can
  // read v1 data by filling the default)
  private val v2Json =
    """{"type": "record", "name": "Thing", "namespace": "graft",
      | "fields": [{"name": "id", "type": "long"},
      |            {"name": "name", "type": "string"},
      |            {"name": "score", "type": ["null", "double"],
      |             "default": null}]}""".stripMargin
  // incompatible: adds a REQUIRED field with no default — a reader of
  // this schema cannot read v1/v2 data
  private val badJson =
    """{"type": "record", "name": "Thing", "namespace": "graft",
      | "fields": [{"name": "id", "type": "long"},
      |            {"name": "name", "type": "string"},
      |            {"name": "must", "type": "string"}]}""".stripMargin

  private val servers = scala.collection.mutable.Buffer.empty[RegistryHttpServer]
  override def afterAll(): Unit = {
    servers.foreach(_.stop())
    super.afterAll()
  }

  /** One fresh, isolated registry per call, reached the named way. */
  private val transports: Seq[(String, () => Client)] = Seq(
    "in-memory" -> (() => new Client(new InMemoryRegistryServer)),
    "loopback-http" -> (() => {
      val srv = new RegistryHttpServer(new InMemoryRegistryServer)
      servers.synchronized { servers += srv }
      new Client(new HttpRegistryTransport(srv.baseUri))
    }))

  test("TopicNameStrategy subject naming matches the reference producer") {
    assert(SchemaRegistry.valueSubject("raw-trades") === "raw-trades-value")
    assert(SchemaRegistry.keySubject("raw-trades") === "raw-trades-key")
  }

  for ((kind, freshClient) <- transports) {

    test(s"[$kind] register is idempotent and ids are global + content-addressed") {
      val c = freshClient()
      val id1 = c.register("a-value", v1Json)
      assert(id1 === 1)
      // identical schema text under the same subject: same id, no new version
      assert(c.register("a-value", v1Json) === id1)
      assert(c.versions("a-value") === Seq(1))
      // same schema CONTENT under another subject: same global id, its own
      // version chain
      assert(c.register("b-value", v1Json) === id1)
      assert(c.versions("b-value") === Seq(1))
      // a different schema gets the next id
      assert(c.register("a-value", v2Json) === 2)
      assert(c.versions("a-value") === Seq(1, 2))
      assert(c.subjects().sorted === Seq("a-value", "b-value"))
    }

    test(s"[$kind] per-id and per-version resolution round-trip the schema text") {
      val c = freshClient()
      val id1 = c.register("t-value", v1Json)
      val id2 = c.register("t-value", v2Json)
      // resolution returns the parsed-canonical form; compare parsed
      val parse = (j: String) => new org.apache.avro.Schema.Parser().parse(j)
      assert(parse(c.schemaById(id1)) === parse(v1Json))
      assert(parse(c.schemaById(id2)) === parse(v2Json))
      val latest = c.version("t-value")
      assert(latest.version === 2 && latest.id === id2)
      assert(c.version("t-value", "1").id === id1)
      val snap = c.snapshot(Seq("t-value"))
      assert(snap.keySet === Set(id1, id2))
    }

    test(s"[$kind] protocol errors carry Confluent error codes") {
      val c = freshClient()
      val e1 = intercept[RegistryException] { c.schemaById(99) }
      assert(e1.errorCode === 40403)
      val e2 = intercept[RegistryException] { c.versions("nope-value") }
      assert(e2.errorCode === 40401)
      c.register("t-value", v1Json)
      val e3 = intercept[RegistryException] { c.version("t-value", "7") }
      assert(e3.errorCode === 40402)
      val e4 = intercept[RegistryException] {
        c.register("t-value", """{"type": "recor"}""")
      }
      assert(e4.status === 422)
      // a malformed VERSION argument arrives as one encoded segment and
      // is rejected as an unknown version — it must not re-route the
      // request (the round-14 seg()-the-version advisory, now executed
      // over the real URL path on the http leg)
      val e5 = intercept[RegistryException] { c.version("t-value", "1/2") }
      assert(e5.errorCode === 40402)
      val e6 = intercept[RegistryException] { c.version("t-value", "..") }
      assert(e6.errorCode === 40402)
    }

    test(s"[$kind] backward-compat gate: compatible evolution registers, " +
        "incompatible raises 409, testCompatibility predicts both") {
      val c = freshClient()
      c.register("t-value", v1Json)
      assert(c.testCompatibility("t-value", v2Json))
      assert(!c.testCompatibility("t-value", badJson))
      c.register("t-value", v2Json) // accepted as version 2
      val e = intercept[RegistryException] { c.register("t-value", badJson) }
      assert(e.status === 409)
      assert(c.versions("t-value") === Seq(1, 2))
    }

    test(s"[$kind] NONE compatibility mode (PUT /config) admits breaking changes") {
      val c = freshClient()
      c.register("t-value", v1Json)
      intercept[RegistryException] { c.register("t-value", badJson) }
      assert(c.setCompatibility("t-value", "NONE") === "NONE")
      assert(c.register("t-value", badJson) === 2)
      val e = intercept[RegistryException] {
        c.setCompatibility("t-value", "SIDEWAYS")
      }
      assert(e.status === 422)
    }

    test(s"[$kind] subjects with reserved path characters round-trip (client " +
        "percent-encodes segments; the server decodes them)") {
      val c = freshClient()
      val subject = "orders/v1 %special?-value"
      val id = c.register(subject, v1Json)
      assert(c.versions(subject) === Seq(1))
      assert(c.version(subject).id === id)
      assert(c.subjects() === Seq(subject)) // stored DECODED
      assert(c.testCompatibility(subject, v2Json))
      assert(c.snapshot(Seq(subject)).keySet === Set(id))
    }

    test(s"[$kind] end-to-end: registry-assigned ids frame the payloads and " +
        "the client-backed decoder resolves evolved writers through Spark") {
      val c = freshClient()
      val trades = Seq(
        Trade(1.5, "buy", 100.0, "BTC-PERP", Some(0.6), Some("M"), 99.5, 1L,
          1700000000000L, "t-1", 1L),
        Trade(2.0, "sell", 101.0, "BTC-PERP", None, None, 100.5, -1L,
          1700000000100L, "t-2", 2L))
      // producer path: register under the topic's value subject, encode
      // with the ASSIGNED id (not a hardcoded one)
      val (id1, enc1) = ConfluentAvro.registerAndEncoder(
        c, "raw-trades", Trade.schema, "TradesDataAvro")
      assert(c.version("raw-trades-value").id === id1)
      val df = spark.createDataset(trades).toDF()
      val framedV1 = df.select(
        enc1(struct(df.columns.map(col): _*)).as("value"))
      // evolve: REORDER the writer's fields (different canonical text →
      // new global id; Avro schema resolution matches by name, so the v1
      // reader decodes it bit-identically — the ConfluentAvroSpec
      // reordered-writer case, now driven through the protocol client)
      val writerV2 = {
        val parsed = new org.apache.avro.Schema.Parser()
          .parse(ConfluentAvro.avroSchemaJson(Trade.schema, "TradesDataAvro"))
        import scala.jdk.CollectionConverters._
        val fields = parsed.getFields.asScala.toSeq.reverse.map { f =>
          new org.apache.avro.Schema.Field(f.name(), f.schema(), f.doc(),
            f.defaultVal())
        }
        org.apache.avro.Schema.createRecord(parsed.getName,
          parsed.getDoc, parsed.getNamespace, false, fields.asJava).toString
      }
      val id2 = c.register("raw-trades-value", writerV2)
      assert(id2 !== id1)
      // the evolved producer writes v2-ORDERED bytes under the v2 id
      val framedV2 = df.select(ConfluentAvro.toConfluentAvroJson(writerV2, id2)(
        struct(df.columns.map(col): _*)).as("value"))
      // consumer path: snapshot via the protocol client, decode BOTH
      val mixed = framedV1.union(framedV2)
      val decoded = mixed.select(ConfluentAvro.decodeColRegistry(
          col("value"), Trade.schema, "TradesDataAvro",
          c.snapshot(Seq("raw-trades-value"))).as("t"))
        .select("t.*").as[Trade].collect().toSeq
      assert(decoded.sortBy(_.trade_seq) ===
        (trades ++ trades).sortBy(_.trade_seq))
      // an id OUTSIDE the snapshot is rejected, not misdecoded
      val rogue = df.limit(1).select(ConfluentAvro.encodeCol(
        struct(df.columns.map(col): _*), Trade.schema, 777, "TradesDataAvro")
        .as("value"))
      val ex = intercept[Exception] {
        rogue.select(ConfluentAvro.decodeColRegistry(
            col("value"), Trade.schema, "TradesDataAvro",
            c.snapshot(Seq("raw-trades-value"))).as("t")).collect()
      }
      assert(ex.getMessage != null)
      // the PERMISSIVE registry decoder nulls the unknown-id row instead —
      // the long-running-stream mode (a mid-stream schema registration or
      // one poisoned message must not kill the query)
      val safe = mixed.union(rogue).select(ConfluentAvro.decodeColRegistrySafe(
        col("value"), Trade.schema, "TradesDataAvro",
        c.snapshot(Seq("raw-trades-value"))).as("t"))
      assert(safe.filter(col("t").isNull).count() === 1)
      assert(safe.filter(col("t").isNotNull).count() === trades.size * 2L)
    }
  }

  test("registry errors surface as typed RegistryException even when the " +
      "transport returns a non-JSON error body") {
    val c = new Client(new SchemaRegistry.RegistryTransport {
      def send(method: String, path: String,
          body: Option[String]): (Int, String) =
        (502, "<html>Bad Gateway</html>")
    })
    val e = intercept[RegistryException] { c.subjects() }
    assert(e.status === 502 && e.errorCode === 502)
    assert(e.message.contains("Bad Gateway"))
  }

  test("[loopback-http] a proxy's HTML 502 travels the real wire into the " +
      "same typed RegistryException") {
    // a "registry" whose every answer is an HTML bad-gateway page — the
    // mid-deploy proxy failure a production client actually meets
    val srv = new RegistryHttpServer(new SchemaRegistry.RegistryTransport {
      def send(method: String, path: String,
          body: Option[String]): (Int, String) =
        (502, "<html>Bad Gateway</html>")
    })
    servers.synchronized { servers += srv }
    val c = new Client(new HttpRegistryTransport(srv.baseUri))
    val e = intercept[RegistryException] { c.subjects() }
    assert(e.status === 502 && e.errorCode === 502)
    assert(e.message.contains("Bad Gateway"))
  }
}
