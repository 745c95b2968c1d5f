package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.functions._

import graft.operators.TextClassify

/** Pins the offline-train / online-serve split for the Naive Bayes
  * router: a model trained in batch and served over a STREAM of
  * documents via foreachBatch (the streaming-SCD2 fold pattern — each
  * document is one input row, so per-micro-batch batch semantics are
  * exact) must route every document exactly as the batch apply does,
  * batch boundaries notwithstanding.
  */
class StreamingNbSpec extends SparkSpec {

  test("streamed naiveBayesApply == batch apply on the corpus") {
    val docs = Tables.table(spark, sfDir, "documents")
    val model = TextClassify.naiveBayesTrain(docs, "text", "doc_id", "lang")
    model.grid.cache()
    val batch = TextClassify.naiveBayesApply(model, docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val dir = tempDir("graft-snb-")
    val probe = docs.select(col("doc_id"), col("text"))
    probe.randomSplit(Array(0.5, 0.3, 0.2), seed = 7L)
      .foreach(_.coalesce(1).write.mode("append").parquet(s"$dir/in"))
    val streamed = TrieMap.empty[Long, String]
    val q = spark.readStream.schema(probe.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TextClassify.naiveBayesApply(model, b, "text", "doc_id")
          .collect().foreach(r => streamed.put(r.getLong(0), r.getString(1)))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(streamed.toMap === batch,
        "streamed routing must equal the batch routing row-for-row")
    } finally q.stop()
    model.grid.unpersist()
  }

  test("apply on docs with only unseen tokens falls back to the prior argmax") {
    import spark.implicits._
    val train = Seq((10L, "big", "cc dd"), (11L, "big", "cc dd"),
      (12L, "big", "cc dd"), (13L, "sml", "aa bb"))
      .toDF("doc_id", "lang", "text")
    val model = TextClassify.naiveBayesTrain(train, "text", "doc_id", "lang")
    val got = TextClassify.naiveBayesApply(model,
        Seq((99L, "zz qq ww")).toDF("doc_id", "text"), "text", "doc_id")
      .collect()
    assert(got.length === 1 && got(0).getString(1) === "big")
  }
}
