package graft

import org.apache.spark.sql.functions._

import graft.syntax._

/** The whole training-data pipeline composed through the public fluent
  * API, corpus in -> packed training chunks out: proves the operator
  * surface actually chains (column contracts line up stage to stage),
  * which is the "a user of the reference could switch" claim in
  * executable form.
  */
class PipelineEndToEndSpec extends SparkSpec {

  test("corpus -> dedup -> decontaminate -> quality filter -> split -> chunk -> pack") {
    val docs = Tables.table(spark, sfDir, "documents")
    val total = docs.count()

    // 1. exact dedup, then near-dup pairs over the collapsed corpus
    val exactReps = docs.dedupExact("text", "doc_id")
    val collapsed = docs.join(
      exactReps.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    assert(collapsed.count() === exactReps.count())

    // 2. near-dup clusters -> keep one per cluster
    val pairs = collapsed.nearDupPairsJaccard("text", "doc_id")
    val kept = collapsed.keepOnePerCluster("doc_id", pairs)
      .filter(col("keep")).drop("component", "keep")
    assert(kept.count() <= collapsed.count())
    assert(kept.count() > 0)

    // 3. decontaminate against a held-out probe set
    val probes = docs.filter(col("doc_id") < 5)
    val contaminated = kept.contaminatedBy(probes, "text", "doc_id")
    val clean = kept.join(
      contaminated.select(col("doc").as("doc_id")), Seq("doc_id"), "left_anti")
    assert(clean.count() === kept.count() - contaminated.join(
      kept.select("doc_id"), contaminated("doc") === kept("doc_id"), "left_semi").count())

    // 4. quality-score and keep the usable tail
    val scored = clean.withTextStats("text")
    val usable = scored.filter(col("quality") >= 0.3 && col("n_tokens") >= 5)
    assert(usable.count() > 0, "quality gate must keep a non-trivial corpus")

    // 5. deterministic split, then chunk and pack ONLY the train side
    val split = usable.hashSplit("doc_id", trainBps = 9000)
    val train = split.filter(col("split") === "train")
    val chunks = train.chunkTokens("text", "doc_id", chunkSize = 64, stride = 48)
    val packs = train.packSequences("text", "doc_id", "lang", budget = 256)

    // every chunk and pack row traces back to a kept, clean, train doc
    assert(chunks.join(train.select(col("doc_id").as("doc")), Seq("doc"), "left_anti")
      .count() === 0L)
    assert(packs.join(train.select(col("doc_id").as("doc")), Seq("doc"), "left_anti")
      .count() === 0L)
    assert(chunks.count() > 0 && packs.count() > 0)

    // the funnel only ever narrows
    val counts = Seq(total, collapsed.count(), kept.count(), clean.count(), usable.count())
    assert(counts === counts.sorted.reverse, s"pipeline funnel must narrow: $counts")
  }

  test("fullCuration's row-local gates equal the join-based composition, " +
      "on a plan of at most 8 relation leaves") {
    import graft.operators.{Curation, Dedup, TextPipeline}
    val docs = Tables.table(spark, sfDir, "documents")
    // the reference: each gate joins the frame back onto a frame operator
    // on doc_id (the composition Pipelines.curationShards replaced)
    val rules = Curation.gopherRules(docs, "text", "doc_id", minWords = 20, maxWords = 100000)
    val gated = docs.join(
      rules.filter(col("f_words") && col("f_mean_len") && col("f_alpha"))
        .select(col("doc").as("doc_id")), Seq("doc_id"), "left_semi")
    val collapsed = gated.join(
      Dedup.exact(gated, "text", "doc_id").select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val index = Dedup.buildShingleIndex(collapsed, "text", "doc_id", 5)
    val kept = Dedup.keepRepresentatives(collapsed, "doc_id",
        Dedup.minhashNearDupsFromIndex(index, 0.8))
      .filter(col("keep")).drop("component", "keep")
    val words = TextPipeline.bloomWords(docs.filter(col("doc_id") < 10), "text", "doc_id")
    val clean = kept.join(
      TextPipeline.bloomProbe(kept, words, "text", "doc_id").select(col("doc").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val want = Curation.corpusShards(clean, "doc_id", nShards = 16).cache()

    Pipelines.curationShards(spark, sfDir) { shards =>
      // each self-join doubled the plan: 44 leaves composed that way
      val leaves = shards.queryExecution.analyzed.collectLeaves().size
      assert(leaves <= 8, s"the funnel's analyzed plan has $leaves relation leaves")
      val got = shards.cache()
      assert(want.count() > 0L)
      assert(got.exceptAll(want).count() === 0L)
      assert(want.exceptAll(got).count() === 0L)
      got.unpersist()
    }
    want.unpersist()
  }

  test("curation stages compose: rules -> weights -> spans -> shards -> sample") {
    val docs = Tables.table(spark, sfDir, "documents")

    // rule gate (the corpus fails the stopword rule wholesale, so gate on
    // the rules that discriminate here) joined back by id
    val rules = docs.gopherFilter("text", "doc_id", minWords = 20)
    val gated = docs.join(
      rules.filter(col("f_words") && col("f_mean_len") && col("f_alpha"))
        .select(col("doc").as("doc_id")),
      Seq("doc_id"), "left_semi")
    assert(gated.count() > 0 && gated.count() < docs.count())

    // annotate with importance weights and duplicated-span coverage
    val weights = gated.importanceWeights("text", "doc_id", col("lang") === "en")
    val spans = gated.dupSpans("text", "doc_id", gramLen = 32, stride = 8)
    val annotated = gated
      .join(weights.withColumnRenamed("doc", "doc_id"), Seq("doc_id"))
      .join(spans.withColumnRenamed("doc", "doc_id"), Seq("doc_id"), "left")
    assert(annotated.count() === gated.count(),
      "every gated doc must carry a weight; span stats may be null for short docs")

    // shard the survivors and draw a per-source QA sample
    val shards = annotated.corpusShards("doc_id", nShards = 8)
    assert(shards.count() === annotated.count())
    assert(shards.select("shard").distinct().count() === 8)
    val sample = annotated.groupHashSample("doc_id", "source", k = 2)
    assert(sample.groupBy("grp").count().filter(col("count") > 2).count() === 0)
    // sampled ids are survivors
    assert(sample.join(annotated.select(col("doc_id").as("doc")), Seq("doc"), "left_anti")
      .count() === 0L)
    graft.operators.Dedup.releaseCaches()
  }
}
