package graft

import org.apache.spark.sql.functions._

import graft.operators.TextPipeline

/** The unigram model's serving path: train batch, broadcast the bounded
  * score map, apply as one stateless projection — proven equal to the
  * batch quality gate row-for-row, then run UNCHANGED on a streaming
  * frame (the trained-table serving pattern winsorizeCuts/applyEncoding
  * established).
  */
class StreamingUnigramServeSpec extends SparkSpec {

  private val params = (3, 16, 2) // maxPieceLen, nSeed, emRounds
  private lazy val docs = Tables.table(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"))

  private lazy val scores: Map[String, Long] = {
    val (maxLen, nSeed, rounds) = params
    TextPipeline.unigramTrain(docs, "text", maxLen, nSeed, rounds)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
  }

  private def key(r: org.apache.spark.sql.Row) =
    r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))

  test("unigramServe equals the batch quality gate row-for-row") {
    val (maxLen, nSeed, rounds) = params
    val thr = 3520000L
    val batch = TextPipeline
      .unigramQualityGate(docs, "text", "doc_id", thr, maxLen, nSeed, rounds)
      .collect().map(key).toMap
    val served = TextPipeline
      .unigramServe(docs, "text", "doc_id", scores, thr, maxLen)
      .collect().map(key).toMap
    assert(served === batch)
    assert(served.nonEmpty)
  }

  test("UnigramModel serve path equals the raw-map path and pins geometry") {
    val (maxLen, nSeed, rounds) = params
    val thr = 3520000L
    val model = TextPipeline.unigramTrainModel(docs, "text", maxLen, nSeed, rounds)
    assert(model.maxPieceLen === maxLen)
    assert(model.scores === scores)
    val viaModel = TextPipeline
      .unigramServe(docs, "text", "doc_id", model, thr)
      .collect().map(key).toMap
    val viaMap = TextPipeline
      .unigramServe(docs, "text", "doc_id", scores, thr, maxLen)
      .collect().map(key).toMap
    assert(viaModel === viaMap)
    // the drift class the model closes: scores trained at maxPieceLen=3
    // carry 3-char pieces, so wrapping them at maxPieceLen=2 is a loud
    // construction error instead of a silent mis-segmentation
    intercept[IllegalArgumentException] {
      TextPipeline.UnigramModel(model.scores, maxPieceLen = 2)
    }
    intercept[IllegalArgumentException] {
      TextPipeline.UnigramModel(Map.empty, maxPieceLen = 3)
    }
  }

  test("unigramServe runs unchanged on a streaming frame and matches batch") {
    val (maxLen, _, _) = params
    val thr = 3520000L
    val dir = tempDir("graft-usrv-")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/in")
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val streamed = TextPipeline.unigramServe(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "text", "doc_id", scores, thr, maxLen)
    val q = streamed.writeStream.format("memory").queryName("usrv")
      .outputMode("append").start()
    val got = try {
      q.processAllAvailable()
      spark.table("usrv").collect().map(key).toMap
    } finally q.stop()
    val batch = TextPipeline
      .unigramServe(docs, "text", "doc_id", scores, thr, maxLen)
      .collect().map(key).toMap
    assert(got === batch)
  }

  test("unigramServeByVocab equals the map-only serve row-for-row") {
    val (maxLen, nSeed, rounds) = params
    val thr = 3520000L
    val model = TextPipeline.unigramTrainModel(docs, "text", maxLen, nSeed, rounds)
    val byVocab = TextPipeline
      .unigramServeByVocab(docs, "text", "doc_id", model, thr)
      .collect().map(key).toMap
    val mapOnly = TextPipeline
      .unigramServe(docs, "text", "doc_id", model, thr)
      .collect().map(key).toMap
    assert(byVocab === mapOnly)
    assert(byVocab.nonEmpty)
    intercept[IllegalArgumentException] {
      TextPipeline.unigramServeByVocab(docs, "text", "doc_id", model, 0L)
    }
  }

  test("unigramServe guards: empty score map, bad threshold, bad maxLen") {
    intercept[IllegalArgumentException] {
      TextPipeline.unigramServe(docs, "text", "doc_id", Map.empty[String, Long], 1L, 3)
    }
    intercept[IllegalArgumentException] {
      TextPipeline.unigramServe(docs, "text", "doc_id", Map("a" -> -1L), 0L, 3)
    }
    intercept[IllegalArgumentException] {
      TextPipeline.unigramServe(docs, "text", "doc_id", Map("a" -> -1L), 1L,
        maxPieceLen = 1)
    }
  }
}
