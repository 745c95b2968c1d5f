package graft

import org.apache.spark.sql.functions._

import graft.syntax._

/** The curation stages that are stateless projections (quality rules,
  * shard assignment without positions) compose directly into Structured
  * Streaming: the same operator code runs on a readStream frame with no
  * changes — this is the "filter at ingest" deployment shape, where raw
  * crawl batches stream through quality gating before ever landing in
  * the corpus store.
  */
class StreamingCurationSpec extends SparkSpec {

  test("gopherRules gates a document stream; results equal the batch run") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val dir = tempDir("graft-scur-")
    docs.coalesce(2).write.parquet(s"$dir/in")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .gopherFilter("text", "doc_id", minWords = 20)
      .select(col("doc"), col("n_words"), col("f_words"), col("keep"))
    val q = stream.writeStream.format("memory").queryName("scur")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        r.getAs[Long]("doc") -> ((r.getAs[Long]("n_words"),
          r.getAs[Boolean]("f_words"), r.getAs[Boolean]("keep")))
      val streamed = spark.table("scur").collect().map(key).toMap
      val batch = docs.gopherFilter("text", "doc_id", minWords = 20)
        .select(col("doc"), col("n_words"), col("f_words"), col("keep"))
        .collect().map(key).toMap
      assert(streamed === batch, "stream and batch gating must agree row-for-row")
      assert(streamed.size === docs.count())
      // the word-count rule actually discriminates on this corpus (the
      // required-stopword rule rejects the synthetic SQL-jargon docs
      // wholesale, so `keep` itself is all-false here)
      assert(streamed.values.exists(_._2) && streamed.values.exists(!_._2))
    } finally q.stop()
  }

  test("streaming bloom decontamination: stream hits equal batch hits, idempotent under redelivery") {
    import graft.operators.TextPipeline
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val probes = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    // the filter is built ONCE batch-side from the probe set; the stream
    // side is a pure map (no state, no shuffle) — the ingest-screening
    // deployment shape
    val words = TextPipeline.bloomWords(probes, "text", "doc_id")
    val dir = tempDir("graft-sbloom-")
    corpus.coalesce(3).write.parquet(s"$dir/in")

    val stream = TextPipeline.bloomProbe(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      words, "text", "doc_id")
    val q = stream.writeStream.format("memory").queryName("sbloom")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def hits() = spark.table("sbloom").collect()
        .map(r => r.getAs[Long]("doc") -> r.getAs[Long]("n_hits")).toSet
      val streamed = hits()
      val batch = TextPipeline.bloomProbe(corpus, words, "text", "doc_id")
        .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("n_hits")).toSet
      assert(streamed === batch, "stream and batch decontamination must agree")
      // redelivery: the same corpus arrives again as new files — a
      // stateless map emits duplicate ROWS, but every decision is
      // identical, so the decision SET is unchanged (idempotent)
      corpus.coalesce(2).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      assert(hits() === streamed, "redelivered batches must not change any decision")
    } finally q.stop()
  }

  test("streaming line dedup: cross-batch decisions reconstruct the batch operator's output") {
    import graft.operators.Curation
    import graft.streaming.StreamingLineDedup
    // planted duplication: originals (ascending ids, batch 1) + copies
    // with a unique tail line (batch 2) — the duplicate pair straddles
    // the micro-batch boundary, so keep/drop decisions REQUIRE state
    val base = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val copies = base.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit("\n"), concat(lit("tail "), col("doc_id").cast("string"))).as("text"))
    val dir = tempDir("graft-sline-")
    base.coalesce(1).write.parquet(s"$dir/in")       // arrives first
    copies.coalesce(1).write.mode("append").parquet(s"$dir/in")

    val stream = StreamingLineDedup.decisions(
      spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "text", "doc_id", minLen = 20)
    val q = stream.toDF().writeStream.format("memory").queryName("sline")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // reassemble clean text per doc from the kept decisions
      val rebuilt = spark.table("sline")
        .groupBy(col("doc"))
        .agg(
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
          concat_ws("\n", transform(
            array_sort(collect_list(when(col("keep"), struct(col("idx"), col("line"))))),
            s => s.getField("line"))).as("clean_text"))
        .collect().map(r => r.getAs[Long]("doc") ->
          ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
      val batch = Curation.dedupLines(base.unionByName(copies), "text", "doc_id", minLen = 20)
        .collect().map(r => r.getAs[Long]("doc") ->
          ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
      assert(rebuilt === batch,
        "ordered-arrival stream decisions must reconstruct the batch dedup exactly")
      assert(rebuilt.exists(_._2._1 > 0L), "copies must actually lose their duplicated line")
    } finally q.stop()
  }

  test("streaming count-min sketch: incremental cells equal the batch sketch") {
    import graft.functions.{TextFunctions => T}
    import graft.operators.Curation
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val dir = tempDir("graft-scms-")
    docs.coalesce(3).write.parquet(s"$dir/in")

    def cells(toks: org.apache.spark.sql.DataFrame) = toks
      .select(explode(array((0 until 4).map(j =>
        struct(lit(j).as("j"), Curation.cmsBucket(col("tok"), j, 256).as("b"))): _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("cell"))

    // sketch state is bounded by depth*width rows no matter how much
    // stream passes through — the always-on profile of an ingest firehose
    val stream = cells(spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .select(explode(T.tokens(col("text"))).as("tok")))
    val q = stream.writeStream.format("memory").queryName("scms")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Int]("j"), r.getAs[Long]("b")) -> r.getAs[Long]("cell")
      val streamed = spark.table("scms").collect().map(key).toMap
      val batch = cells(docs.select(explode(T.tokens(col("text"))).as("tok")))
        .collect().map(key).toMap
      assert(streamed === batch, "incremental sketch must equal the batch sketch")
      assert(streamed.size <= 4 * 256)
    } finally q.stop()
  }

  test("chunkDocuments runs UNCHANGED on a streaming frame (stateless " +
      "map-only) and equals the batch chunks row-for-row") {
    import graft.operators.Curation
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val batch = Curation.chunkDocuments(docs, "text", "doc_id", 64, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val dir = tempDir("graft-schunk-")
    docs.randomSplit(Array(0.6, 0.4), seed = 3L)
      .foreach(_.coalesce(1).write.mode("append").parquet(s"$dir/in"))
    val stream = Curation.chunkDocuments(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      "text", "doc_id", 64, 16)
    val q = stream.writeStream.format("memory").queryName("schunk")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("schunk")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      assert(streamed === batch,
        "streamed chunks must equal the batch splitter row-for-row")
    } finally q.stop()
  }
}
