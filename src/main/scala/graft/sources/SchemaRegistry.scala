package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.{Schema, SchemaCompatibility}
import org.apache.avro.SchemaCompatibility.SchemaCompatibilityType

/** Confluent Schema-Registry REST protocol client over a pluggable
  * transport.
  *
  * The reference registers each producer's value schema under the
  * TopicNameStrategy subject and resolves writer schemas per frame id on
  * the consumer side (reference: services/kstream-agg-rs/src/
  * registry_handler.rs:50-58 `register_schema` = POST
  * /subjects/{subject}/versions; producer.rs:43-51
  * TopicNameStrategyWithSchema; consumer.rs:47-48,76 per-id resolution
  * inside EasyAvroDecoder). This module implements that protocol —
  * subject naming, registration, per-id/per-version resolution,
  * compatibility checks — against a [[RegistryTransport]] seam, so the
  * SAME client runs over a real HTTP connection in production and over
  * [[InMemoryRegistryServer]] in this zero-egress container.
  *
  * Scale shape: the registry is control-plane state (tens-to-thousands of
  * schemas, NOT data-plane). Every client call is DRIVER-side; executors
  * never talk to the registry. The decode path materializes a bounded
  * id -> schema snapshot once at plan time and broadcasts it inside the
  * decoder closure ([[ConfluentAvro.decodeColRegistry]]) — unlike
  * the reference's per-message async fetch + cache, a 1000-executor job
  * issues ZERO registry requests from the hot path.
  */
object SchemaRegistry {

  /** The transport seam: one HTTP-shaped exchange. Implementations:
    * a real HTTP client in production; [[InMemoryRegistryServer]] here.
    */
  trait RegistryTransport {
    /** @return (httpStatus, responseBodyJson) — never throws for
      *         protocol-level errors (those travel as status + error
      *         body, the Confluent convention). */
    def send(method: String, path: String, body: Option[String]): (Int, String)
  }

  /** Typed protocol failure: Confluent error body {error_code, message}. */
  final case class RegistryException(status: Int, errorCode: Int, message: String)
    extends RuntimeException(s"registry error $status/$errorCode: $message")

  /** TopicNameStrategy: the reference's value-subject naming
    * (producer.rs:43-47 — `TopicNameStrategyWithSchema(topic, false)` =
    * `{topic}-value`).
    */
  def valueSubject(topic: String): String = s"$topic-value"
  def keySubject(topic: String): String = s"$topic-key"

  private val mapper = new ObjectMapper()

  private def quote(s: String): String = mapper.writeValueAsString(s)

  /** Percent-encode one PATH SEGMENT (subject names are arbitrary
    * strings — '/', '%', '?', spaces would mis-route a real HTTP
    * transport; identity for the usual [A-Za-z0-9._-] names). */
  private def seg(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private def unseg(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  final case class RegisteredVersion(subject: String, id: Int, version: Int,
      schemaJson: String)

  /** The protocol client. All methods are driver-side and synchronous. */
  final class Client(transport: RegistryTransport) {

    private def call(method: String, path: String,
        body: Option[String] = None): com.fasterxml.jackson.databind.JsonNode = {
      val (status, resp) = transport.send(method, path, body)
      if (status >= 400) {
        // a real HTTP transport can hand back a NON-JSON error body (a
        // proxy's HTML 502, a load balancer's plain-text timeout) — the
        // typed RegistryException must surface either way, carrying the
        // raw text when the Confluent error envelope is absent
        val node = try Some(mapper.readTree(resp)) catch { case _: Exception => None }
        val code = node.filter(_.has("error_code"))
          .map(_.get("error_code").asInt).getOrElse(status)
        val msg = node.filter(_.has("message"))
          .map(_.get("message").asText).getOrElse(resp)
        throw RegistryException(status, code, msg)
      }
      mapper.readTree(resp)
    }

    /** POST /subjects/{subject}/versions — register a schema, returning
      * its GLOBAL id (idempotent: re-registering an identical schema
      * returns the existing id; an incompatible schema raises 409).
      */
    def register(subject: String, schemaJson: String): Int =
      call("POST", s"/subjects/${seg(subject)}/versions",
        Some(s"""{"schema": ${quote(schemaJson)}}""")).get("id").asInt

    /** GET /schemas/ids/{id} — resolve a writer schema by global id. */
    def schemaById(id: Int): String =
      call("GET", s"/schemas/ids/$id").get("schema").asText

    /** GET /subjects/{subject}/versions — registered version numbers. */
    def versions(subject: String): Seq[Int] = {
      val node = call("GET", s"/subjects/${seg(subject)}/versions")
      (0 until node.size()).map(node.get(_).asInt)
    }

    /** GET /subjects/{subject}/versions/{version|latest}. The version
      * segment goes through [[seg]] like subjects do — a malformed
      * argument ("1/2", "../other") must arrive at the server as one
      * (rejectable) segment, not re-route the request.
      */
    def version(subject: String, version: String = "latest"): RegisteredVersion = {
      val node = call("GET", s"/subjects/${seg(subject)}/versions/${seg(version)}")
      RegisteredVersion(node.get("subject").asText, node.get("id").asInt,
        node.get("version").asInt, node.get("schema").asText)
    }

    /** GET /subjects — all subject names. */
    def subjects(): Seq[String] = {
      val node = call("GET", "/subjects")
      (0 until node.size()).map(node.get(_).asText)
    }

    /** POST /compatibility/subjects/{subject}/versions/latest — would
      * this schema be accepted, WITHOUT registering it?
      */
    def testCompatibility(subject: String, schemaJson: String): Boolean =
      call("POST", s"/compatibility/subjects/${seg(subject)}/versions/latest",
        Some(s"""{"schema": ${quote(schemaJson)}}"""))
        .get("is_compatible").asBoolean

    /** PUT /config/{subject} — set the subject's compatibility mode. */
    def setCompatibility(subject: String, mode: String): String =
      call("PUT", s"/config/${seg(subject)}",
        Some(s"""{"compatibility": ${quote(mode)}}"""))
        .get("compatibility").asText

    /** The bounded id -> writer-schema-JSON snapshot across the given
      * subjects (all subjects when empty) — the exact input
      * [[ConfluentAvro.decodeColRegistry]] consumes. Registry
      * size is control-plane-bounded, so this is a driver-side map of at
      * most a few thousand entries.
      */
    def snapshot(subjectFilter: Seq[String] = Seq.empty): Map[Int, String] = {
      val subs = if (subjectFilter.nonEmpty) subjectFilter else subjects()
      subs.flatMap { s =>
        versions(s).map { v =>
          val rv = version(s, v.toString)
          rv.id -> rv.schemaJson
        }
      }.toMap
    }
  }

  /** Real-wire transport on `java.net.http.HttpClient` — the production
    * face of [[RegistryTransport]] (reference: consumer.rs:47-48 wires
    * the registry URL into the decoder; registry_handler.rs:50-58 POSTs
    * registrations over HTTP). Protocol-level failures (4xx/5xx) travel
    * back as (status, body) per the transport contract — only
    * connection-level failures (refused, timeout) throw. `path` arrives
    * already percent-encoded by [[Client]]'s seg() discipline, so it is
    * appended to the base URI verbatim; bodies go out under Confluent's
    * `application/vnd.schemaregistry.v1+json` content type.
    */
  final class HttpRegistryTransport(
      baseUri: String,
      timeout: java.time.Duration = java.time.Duration.ofSeconds(30))
      extends RegistryTransport {
    private val base = baseUri.stripSuffix("/")
    private val http = java.net.http.HttpClient.newBuilder()
      .connectTimeout(timeout).build()

    override def send(method: String, path: String,
        body: Option[String]): (Int, String) = {
      val publisher = body
        .map(b => java.net.http.HttpRequest.BodyPublishers.ofString(b, java.nio.charset.StandardCharsets.UTF_8))
        .getOrElse(java.net.http.HttpRequest.BodyPublishers.noBody())
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
        .timeout(timeout)
        .header("Content-Type", "application/vnd.schemaregistry.v1+json")
        .method(method, publisher)
        .build()
      val resp = http.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString(java.nio.charset.StandardCharsets.UTF_8))
      (resp.statusCode(), resp.body())
    }
  }

  /** Loopback HTTP face for any [[RegistryTransport]]: binds a
    * `com.sun.net.httpserver.HttpServer` on an ephemeral 127.0.0.1 port
    * and routes each request's (method, RAW path, body) into the backend
    * — percent-encoding must SURVIVE the wire to the protocol layer
    * (`getRawPath`, not the decoded path), because the registry's own
    * unseg() is the single decode point; a proxy that pre-decoded would
    * corrupt subjects containing '/'. Pairs with [[HttpRegistryTransport]]
    * to execute the real wire path (URL encoding, content types, status
    * propagation) with zero egress — the test harness for R3/R6
    * fidelity, and a serviceable local dev registry.
    */
  final class RegistryHttpServer(backend: RegistryTransport) {
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) =>
      try {
        val bytes = exchange.getRequestBody.readAllBytes()
        val body = if (bytes.isEmpty) None
          else Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        val (status, resp) =
          try backend.send(exchange.getRequestMethod, exchange.getRequestURI.getRawPath, body)
          catch { case e: Exception =>
            (500, s"""{"error_code": 50001, "message": ${quote(String.valueOf(e.getMessage))}}""")
          }
        val out = resp.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        exchange.getResponseHeaders.set("Content-Type",
          "application/vnd.schemaregistry.v1+json")
        exchange.sendResponseHeaders(status, if (out.isEmpty) -1 else out.length.toLong)
        if (out.nonEmpty) { val os = exchange.getResponseBody; os.write(out); os.close() }
      } finally exchange.close())
    server.start()

    /** http://127.0.0.1:{boundPort} — feed to [[HttpRegistryTransport]]. */
    def baseUri: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  /** In-memory registry server speaking the same REST protocol — the
    * container's stand-in for a live Confluent deployment (zero egress).
    * Semantics mirrored from the public protocol:
    *
    *  - ids are GLOBAL and content-addressed: the same schema text
    *    registered under any subject yields one id;
    *  - per-subject versions are append-only, 1-based;
    *  - re-registering a subject's existing schema is idempotent;
    *  - registration enforces the subject's compatibility mode (default
    *    BACKWARD: each NEW schema must read data written by the LATEST
    *    registered one — checked with Avro's own
    *    SchemaCompatibility.checkReaderWriterCompatibility);
    *  - Confluent error codes: 40401 unknown subject, 40402 unknown
    *    version, 40403 unknown schema id, 409 incompatible, 422 invalid.
    *
    * Thread-safe via a single monitor — registration traffic is
    * control-plane, never hot-path.
    */
  final class InMemoryRegistryServer extends RegistryTransport {
    private val lock = new Object
    private val schemasById = mutable.LinkedHashMap.empty[Int, String]
    private val idByCanonical = mutable.HashMap.empty[String, Int]
    // subject -> ordered ids (index + 1 = version)
    private val subjectVersions = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
    private val compatModes = mutable.HashMap.empty[String, String]
    private var nextId = 1

    private def err(status: Int, code: Int, msg: String): (Int, String) =
      (status, s"""{"error_code": $code, "message": ${quote(msg)}}""")

    private def parseSchema(json: String): Either[(Int, String), Schema] =
      try Right(new Schema.Parser().parse(json))
      catch { case e: Exception =>
        Left(err(422, 42201, s"invalid Avro schema: ${e.getMessage}"))
      }

    private def backwardCompatible(newSchema: Schema, prior: Schema): Boolean =
      SchemaCompatibility.checkReaderWriterCompatibility(newSchema, prior)
        .getType == SchemaCompatibilityType.COMPATIBLE

    override def send(method: String, path: String,
        body: Option[String]): (Int, String) = lock.synchronized {
      val verRe = "^/subjects/([^/]+)/versions$".r
      val verNRe = "^/subjects/([^/]+)/versions/([^/]+)$".r
      val idRe = "^/schemas/ids/(\\d+)$".r
      val compatRe = "^/compatibility/subjects/([^/]+)/versions/latest$".r
      val configRe = "^/config/([^/]+)$".r
      (method, path) match {
        case ("POST", verRe(rawSubject)) =>
          val subject = unseg(rawSubject)
          val schemaJson = mapper.readTree(body.get).get("schema").asText
          parseSchema(schemaJson) match {
            case Left(e) => e
            case Right(schema) =>
              val canonical = schema.toString // parsed-normalized form
              val versionsBuf =
                subjectVersions.getOrElseUpdate(subject, mutable.ArrayBuffer.empty)
              idByCanonical.get(canonical) match {
                case Some(id) if versionsBuf.contains(id) =>
                  (200, s"""{"id": $id}""") // idempotent re-register
                case existing =>
                  val mode = compatModes.getOrElse(subject, "BACKWARD")
                  val ok = versionsBuf.isEmpty || mode == "NONE" || {
                    val prior = new Schema.Parser()
                      .parse(schemasById(versionsBuf.last))
                    backwardCompatible(schema, prior)
                  }
                  if (!ok)
                    err(409, 409,
                      s"schema is not backward compatible with subject " +
                        s"$subject version ${versionsBuf.length}")
                  else {
                    val id = existing.getOrElse {
                      val i = nextId; nextId += 1
                      schemasById(i) = canonical
                      idByCanonical(canonical) = i
                      i
                    }
                    versionsBuf += id
                    (200, s"""{"id": $id}""")
                  }
              }
          }
        case ("GET", idRe(idStr)) =>
          schemasById.get(idStr.toInt) match {
            case Some(s) => (200, s"""{"schema": ${quote(s)}}""")
            case None => err(404, 40403, s"schema id ${idStr.toInt} not found")
          }
        case ("GET", "/subjects") =>
          (200, subjectVersions.keys.map(quote).mkString("[", ",", "]"))
        case ("GET", verRe(rawSubject)) =>
          val subject = unseg(rawSubject)
          subjectVersions.get(subject) match {
            case Some(vs) => (200, vs.indices.map(_ + 1).mkString("[", ",", "]"))
            case None => err(404, 40401, s"subject $subject not found")
          }
        case ("GET", verNRe(rawSubject, verStr)) =>
          val subject = unseg(rawSubject)
          subjectVersions.get(subject) match {
            case None => err(404, 40401, s"subject $subject not found")
            case Some(vs) =>
              val v = if (verStr == "latest") vs.length else
                try verStr.toInt catch { case _: NumberFormatException => -1 }
              if (v < 1 || v > vs.length)
                err(404, 40402, s"version $verStr of subject $subject not found")
              else {
                val id = vs(v - 1)
                (200, s"""{"subject": ${quote(subject)}, "version": $v, """ +
                  s""""id": $id, "schema": ${quote(schemasById(id))}}""")
              }
          }
        case ("POST", compatRe(rawSubject)) =>
          val subject = unseg(rawSubject)
          subjectVersions.get(subject).filter(_.nonEmpty) match {
            case None => err(404, 40401, s"subject $subject not found")
            case Some(vs) =>
              val schemaJson = mapper.readTree(body.get).get("schema").asText
              parseSchema(schemaJson) match {
                case Left(e) => e
                case Right(schema) =>
                  val mode = compatModes.getOrElse(subject, "BACKWARD")
                  val prior = new Schema.Parser().parse(schemasById(vs.last))
                  val ok = mode == "NONE" || backwardCompatible(schema, prior)
                  (200, s"""{"is_compatible": $ok}""")
              }
          }
        case ("PUT", configRe(rawSubject)) =>
          val subject = unseg(rawSubject)
          val mode = mapper.readTree(body.get).get("compatibility").asText
          if (!Set("BACKWARD", "NONE").contains(mode))
            err(422, 42203, s"unsupported compatibility mode $mode " +
              "(this fake implements BACKWARD and NONE)")
          else { compatModes(subject) = mode
            (200, s"""{"compatibility": ${quote(mode)}}""") }
        case _ =>
          err(404, 404, s"unroutable: $method $path")
      }
    }
  }
}
