package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, WebCuration}
import graft.streaming.StreamingCrawl

/** The streaming crawl front door vs its batch composition
  * ([[WebCuration.crawlDocs]] — the q300 body), plus the per-record
  * streaming WARC reader ([[Multimodal.warcRecordIterator]] /
  * [[Multimodal.warcRecordsFromFiles]]) against the all-at-once
  * expression walker.
  */
class StreamingCrawlSpec extends SparkSpec {

  private lazy val dumps: DataFrame = Tables.table(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"))
    .limit(60)
    .withColumn("payload", Multimodal.warcBytes(col("doc_id"),
      WebCuration.htmlWrap(col("doc_id"), col("text"))))
    .select(col("doc_id"), col("payload"))

  private def keyOf(r: org.apache.spark.sql.Row): (Long, (String, Long)) =
    r.getLong(0) -> ((r.getString(1), r.getLong(2)))

  test("stream == batch: the foreachBatch door over any split of the " +
      "dump set stores exactly the batch composition's kept docs, and a " +
      "retried batch overwrites its own partition idempotently") {
    val twin = WebCuration.crawlDocs(dumps, "doc_id", "payload")
      .filter(col("gopher_pass"))
      .select(col("doc"), col("clean"), col("n_kept_lines"))
      .collect().map(keyOf).toMap
    assert(twin.nonEmpty, "fixture must keep at least one doc")

    val tmp = tempDir("graft-scrawl-")
    // two arrival files -> two micro-batches (maxFilesPerTrigger=1)
    val a = dumps.filter(col("doc_id") % 2 === 0)
    val b = dumps.filter(col("doc_id") % 2 =!= 0)
    a.coalesce(1).write.parquet(s"$tmp/in")
    Thread.sleep(20)
    b.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(dumps.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val q = StreamingCrawl.run(
      stream, "doc_id", "payload", s"$tmp/out", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamed = StreamingCrawl.readKept(spark, s"$tmp/out", upTo = 99L)
      .select(col("doc"), col("clean"), col("n_kept_lines"))
      .collect().map(keyOf).toMap
    assert(streamed === twin)

    // retry idempotence: re-running one batch replaces its partition
    StreamingCrawl.processBatch(a, 0L, "doc_id", "payload", s"$tmp/out")
    val retried = StreamingCrawl.readKept(spark, s"$tmp/out", upTo = 99L)
      .select(col("doc"), col("clean"), col("n_kept_lines"))
      .collect().map(keyOf).toMap
    assert(retried === twin)
  }

  test("crawl door -> curation funnel composed streams equal the q301 " +
      "one-shot crawl->corpus ladder on every gopher-passed doc") {
    import graft.operators.Dedup
    import graft.streaming.StreamingCurationFunnel
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val model = graft.Pipelines.funnelModel(spark, sfDir)
    val oneShot = SparkEntry.queries("q301_crawl_corpus")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    Dedup.releaseCaches()
    val gopherPassed = oneShot.filter(_._2.head == true).keySet
    assert(gopherPassed.nonEmpty && oneShot.size > gopherPassed.size,
      "fixture needs both gopher-passed and gopher-dropped crawled docs")

    val tmp = tempDir("graft-crawl2corpus-")
    // stage the dump in two id-ordered arrival batches (the funnel's
    // greedy-dedup associativity contract is id-ordered arrival)
    val dump = docs.filter(col("doc_id") >= 250)
      .select(col("doc_id"), Multimodal.warcBytes(col("doc_id"),
        WebCuration.htmlWrap(col("doc_id"), col("text"))).as("payload"))
    val splits = Seq(
      col("doc_id") >= 250 && col("doc_id") < 400, col("doc_id") >= 400)
    // door 1: the crawl front door stores each batch's gopher-passed
    // cleaned docs; door 2: the curation funnel decides each stored
    // crawl batch against the accepted base — two composed foreachBatch
    // stages, exactly how a deployment chains them
    StreamingCurationFunnel.seedIndex(
      docs.filter(col("doc_id") < 250), "text", "doc_id", 5, s"$tmp/idx")
    splits.zipWithIndex.foreach { case (pred, b) =>
      graft.streaming.StreamingCrawl.processBatch(
        dump.filter(pred), b.toLong, "doc_id", "payload", s"$tmp/crawl")
      val crawled = spark.read
        .parquet(s"$tmp/crawl/batch_id=$b")
        .select(col("doc").as("doc_id"), col("clean").as("text"))
      StreamingCurationFunnel.processBatch(
        crawled, b.toLong, "text", "doc_id", model, s"$tmp/idx", s"$tmp/out")
    }
    val streamed = spark.read.parquet(s"$tmp/out")
      .collect().map(r => r.getLong(0) ->
        r.toSeq.slice(1, oneShot.head._2.size + 1)).toMap
    Dedup.releaseCaches()
    assert(streamed.keySet === gopherPassed,
      "the crawl door must hand the funnel exactly the gopher-passed docs")
    // the funnel re-evaluates gopher on the cleaned text (pass, by
    // construction) and must reproduce q301's verdicts bit-for-bit
    streamed.foreach { case (d, row) =>
      assert(row === oneShot(d), s"doc $d: $row vs ${oneShot(d)}")
    }
  }

  test("warcRecordIterator: per-record streaming decode equals the " +
      "all-at-once expression walker on well-formed archives (gzip and " +
      "plain), throws on malformed input, enforces the per-record cap") {
    import spark.implicits._
    val payloads = dumps.limit(8).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload"))
    val viaExpr = Multimodal.warcRecords(dumps.limit(8), "doc_id")
      .select(col("doc"), col("record_no"), col("warc_type"),
        col("target_uri"), col("n_bytes"), md5(col("content")).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3), r.getLong(4), r.getString(5))))
      .toMap
    payloads.foreach { case (doc, payload) =>
      // gzip path
      val got = Multimodal.warcRecordIterator(
          new java.io.ByteArrayInputStream(payload)).zipWithIndex
        .map { case (r, i) =>
          (doc, i.toLong) -> ((r.warcType, r.targetUri.orNull,
            r.content.length.toLong,
            java.security.MessageDigest.getInstance("MD5")
              .digest(r.content).map("%02x".format(_)).mkString))
        }.toMap
      assert(got === viaExpr.filter(_._1._1 == doc), s"doc $doc (gzip)")
      // plain (pre-decompressed) path
      val raw = org.apache.spark.sql.graftvec.MediaExprs.gunzipRaw(payload)
      val n = Multimodal.warcRecordIterator(
        new java.io.ByteArrayInputStream(raw)).size
      assert(n === got.size, s"doc $doc (plain)")
    }
    // malformed classes throw (streaming readers can't null-gate a file
    // they have partially emitted — documented contract)
    val (_, p0) = payloads.head
    val truncated = p0.take(p0.length - 6)
    intercept[Exception] {
      Multimodal.warcRecordIterator(
        new java.io.ByteArrayInputStream(truncated)).toList
    }
    intercept[IllegalArgumentException] {
      Multimodal.warcRecordIterator(new java.io.ByteArrayInputStream(
        "HTTP/1.1 200 OK\r\n\r\n".getBytes("UTF-8"))).toList
    }
    // per-record cap: the response block of a real payload is over a
    // tiny cap -> IllegalArgumentException names the cap
    val capped = intercept[IllegalArgumentException] {
      Multimodal.warcRecordIterator(
        new java.io.ByteArrayInputStream(p0), perRecordCap = 8L).toList
    }
    assert(capped.getMessage.contains("per-record cap"))
    // empty stream: zero records, no throw
    assert(Multimodal.warcRecordIterator(
      new java.io.ByteArrayInputStream(Array.emptyByteArray)).isEmpty)
  }

  test("file-streamed crawl door: processBatchFromFiles over (doc, path) " +
      "listings stores exactly what the payload door stores for the same " +
      "archives (the crawlDocsFromRecords shared-tail pin)") {
    import spark.implicits._
    val tmp = tempDir("graft-scrawlfd-")
    val payloads = dumps.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload"))
    val listings = payloads.map { case (doc, payload) =>
      val p = java.nio.file.Paths.get(tmp, s"dump-$doc.warc.gz")
      java.nio.file.Files.write(p, payload)
      (doc, p.toString)
    }.toSeq.toDF("doc_id", "path")
    // payload door (control) and file door over the same two batches
    Seq(0, 1).foreach { b =>
      StreamingCrawl.processBatch(
        dumps.filter(col("doc_id") % 2 === b), b.toLong,
        "doc_id", "payload", s"$tmp/outP")
      StreamingCrawl.processBatchFromFiles(
        listings.filter(col("doc_id") % 2 === b), b.toLong,
        "doc_id", "path", s"$tmp/outF")
    }
    def kept(dir: String) = spark.read.parquet(dir)
      .select(col("doc"), col("clean"), col("n_kept_lines"))
      .collect().map(keyOf).toMap
    val p = kept(s"$tmp/outP")
    assert(p.nonEmpty && kept(s"$tmp/outF") === p)
  }

  test("warcRecordsFromFiles: (doc, path) rows stream records off " +
      "storage through Hadoop FS with the warcRecords schema and rows") {
    import spark.implicits._
    val tmp = tempDir("graft-scrawlf-")
    val payloads = dumps.limit(6).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload"))
    val files = payloads.map { case (doc, payload) =>
      val p = java.nio.file.Paths.get(tmp, s"dump-$doc.warc.gz")
      java.nio.file.Files.write(p, payload)
      (doc, p.toString)
    }.toSeq.toDF("doc_id", "path")
    val streamed = Multimodal.warcRecordsFromFiles(files, "doc_id", "path")
    val expr = Multimodal.warcRecords(dumps.limit(6), "doc_id")
    assert(streamed.columns.toSeq === expr.columns.toSeq)
    def keyed(df: DataFrame) = df
      .select(col("doc"), col("record_no"), col("warc_type"),
        col("target_uri"), col("n_bytes"), md5(col("content")).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(keyed(streamed) === keyed(expr))
  }
}
