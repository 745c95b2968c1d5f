package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{CurationFunnel, Dedup, TextPipeline}
import graft.streaming.StreamingCurationFunnel

/** The composed streaming front door (gopher → stored-index dedup →
  * frozen bloom → frozen LM): pinned row-for-row to the one-shot batch
  * composition on the same id-ordered replay, plus the incremental
  * properties the batch body can't show — cross-batch dedup through the
  * growing stored index, fingerprints of DROPPED documents still
  * suppressing later copies (greedy first-arrival associativity), and
  * retry idempotence of the partition-overwrite sink.
  */
class StreamingCurationFunnelSpec extends SparkSpec {

  private def docsTable = Tables.table(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"))

  private lazy val model = CurationFunnel.FunnelModel(
    bloom = TextPipeline.bloomModel(
      docsTable.filter(col("doc_id") < 10), "text", "doc_id",
      shingleK = 5, mBits = 1 << 16, kHashes = 4),
    lm = TextPipeline.unigramTrainModel(
      docsTable, "text", maxPieceLen = 3, nSeed = 16, emRounds = 1),
    maxNllMicro = 3520000L)

  private def key(r: Row): (Long, Seq[Any]) =
    r.getLong(r.fieldIndex("doc")) ->
      Seq("gopher_pass", "near_dup", "contaminated", "lm_keep", "nll_micro",
        "keep", "verdict").map(c => r.get(r.fieldIndex(c)))

  private def decisionsIn(dir: String): Map[Long, Seq[Any]] =
    spark.read.parquet(dir)
      .drop("batch_id").collect().map(key).toMap

  test("streamed funnel equals the one-shot batch decide row-for-row") {
    val tmp = tempDir("graft-scf-")
    val base = docsTable.filter(col("doc_id") < 250)
    val delta = docsTable.filter(col("doc_id") >= 250)
    StreamingCurationFunnel.seedIndex(base, "text", "doc_id", 5, s"$tmp/idx")
    // two id-ordered files => two micro-batches (arrival order = id order,
    // the order under which the batch twin's id_a < id_b tiebreak and the
    // stream's first-arrival tiebreak coincide)
    delta.filter(col("doc_id") < 375).coalesce(1).write.parquet(s"$tmp/in")
    Thread.sleep(20) // distinct mtimes: file source replays oldest-first
    delta.filter(col("doc_id") >= 375).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val q = StreamingCurationFunnel.run(stream, "text", "doc_id", model,
      s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt")
    val streamed = try { q.processAllAvailable(); decisionsIn(s"$tmp/out") }
      finally q.stop()

    val (batchDec, _) = CurationFunnel.decide(
      delta, "text", "doc_id",
      Dedup.buildShingleIndex(base, "text", "doc_id", 5), model)
    val batch = batchDec.collect().map(key).toMap
    Dedup.releaseCaches()
    assert(streamed.size === 250)
    assert(streamed === batch)
    // the stored index grew by exactly the gated (gopher-passing) docs
    val idxDocs = spark.read.parquet(s"$tmp/idx")
      .select("doc").collect().map(_.getLong(0)).toSet
    val gated = batch.collect { case (d, v) if v.head == true => d }.toSet
    assert(idxDocs === (0L until 250L).toSet ++ gated)
    // decision coherence: keep == (verdict == kept); stage columns are
    // null exactly past the first failing stage
    streamed.foreach { case (d, Seq(gp, nd, con, lmk, nll, keep, v)) =>
      assert(keep == (v == "kept"), s"doc $d")
      if (gp == false) assert(Seq(nd, con, lmk, nll).forall(_ == null), s"doc $d")
      else if (nd == true) assert(Seq(con, lmk, nll).forall(_ == null), s"doc $d")
      else if (con == true) assert(lmk == null && nll == null, s"doc $d")
      else assert(lmk != null && nll != null, s"doc $d")
    }
  }

  // the q289 constants: base-trained LM, doc<10 bloom, probe delta 10..20
  private lazy val rLm0 = TextPipeline.unigramTrainModel(
    docsTable.filter(col("doc_id") < 250), "text",
    maxPieceLen = 3, nSeed = 32, emRounds = 2)
  private lazy val rBloom0 = TextPipeline.bloomModel(
    docsTable.filter(col("doc_id") < 10), "text", "doc_id",
    shingleK = 5, mBits = 1 << 16, kHashes = 4)
  private lazy val rBloomDelta = TextPipeline.bloomModel(
    docsTable.filter(col("doc_id") >= 10 && col("doc_id") < 20),
    "text", "doc_id", shingleK = 5, mBits = 1 << 16, kHashes = 4)
  private lazy val rModel0 =
    CurationFunnel.FunnelModel(rBloom0, rLm0, maxNllMicro = 3520000L)
  private def rBloomFor: Long => TextPipeline.BloomModel =
    e => if (e == 0L) rBloom0 else TextPipeline.bloomMerge(rBloom0, rBloomDelta)

  test("refresh cadence: streamed hot-swapped model epochs equal the q289 " +
      "batch composition row-for-row (counts/bloom folded between batches)") {
    StreamingCurationFunnel.clearRefreshMemo()
    val tmp = tempDir("graft-scfr-")
    val base = docsTable.filter(col("doc_id") < 250)
    val lm0 = rLm0
    val model0 = rModel0
    val bloomFor = rBloomFor
    StreamingCurationFunnel.seedIndex(base, "text", "doc_id", 5, s"$tmp/idx")
    StreamingCurationFunnel.seedCounts(base, "text", lm0, s"$tmp/cnt")
    // refreshEvery = 1: batch 0 = epoch 0, batch 1 = epoch 1 — exactly
    // the q289 split at doc_id 400
    Seq(col("doc_id") >= 250 && col("doc_id") < 400, col("doc_id") >= 400)
      .zipWithIndex.foreach { case (pred, b) =>
        StreamingCurationFunnel.processBatchWithRefresh(
          docsTable.filter(pred), b.toLong, "text", "doc_id", model0,
          refreshEvery = 1L, bloomFor, s"$tmp/idx", s"$tmp/out", s"$tmp/cnt")
      }
    val streamed = decisionsIn(s"$tmp/out")
    val batch = SparkEntry.queries("q289_funnel_refresh")(spark, sfDir)
      .collect().map(key).toMap
    Dedup.releaseCaches()
    assert(streamed.size === 250 && streamed === batch)
    // the refresh actually changed behavior: at least one epoch-1 doc's
    // nll differs from what the FROZEN model would have given it
    val frozen = {
      val (d, _) = CurationFunnel.decide(
        docsTable.filter(col("doc_id") >= 400), "text", "doc_id",
        spark.read.parquet(s"$tmp/idx").filter(col("batch_id") < 1)
          .select(col("doc"), col("sh"), col("bands")), model0)
      val m = d.collect().map(key).toMap
      Dedup.releaseCaches()
      m
    }
    val epoch1Docs = streamed.keySet.filter(_ >= 400L)
    assert(epoch1Docs.exists(d => streamed(d) != frozen(d)),
      "refresh was a no-op — the parity pin would be vacuous")
    // the driver-fold counts path is bit-identical to the Spark fold:
    // batch 0's stored partition equals unigramCounts over exactly the
    // kept batch-0 documents under the frozen counter
    val storedCnt0 = spark.read.parquet(s"$tmp/cnt").filter(col("batch_id") === 0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept0 = docsTable.filter(col("doc_id") >= 250 && col("doc_id") < 400)
      .join(spark.read.parquet(s"$tmp/out").filter(col("batch_id") === 0)
        .filter(col("keep")).select(col("doc").as("doc_id")),
        Seq("doc_id"), "left_semi")
    val sparkCnt0 = TextPipeline.unigramCounts(kept0, "text", lm0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(storedCnt0 === sparkCnt0)
    assert(sparkCnt0.values.sum > 0, "batch 0 kept nothing — pin vacuous")

    // retry idempotence extends to the counts partition: re-running
    // batch 1 reproduces identical decisions AND counts
    val cntBefore = spark.read.parquet(s"$tmp/cnt").filter(col("batch_id") === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    StreamingCurationFunnel.processBatchWithRefresh(
      docsTable.filter(col("doc_id") >= 400), 1L, "text", "doc_id", model0,
      refreshEvery = 1L, bloomFor, s"$tmp/idx", s"$tmp/out", s"$tmp/cnt")
    Dedup.releaseCaches()
    assert(decisionsIn(s"$tmp/out") === streamed)
    val cntAfter = spark.read.parquet(s"$tmp/cnt").filter(col("batch_id") === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cntAfter === cntBefore)
  }

  test("refreshedLm: the one-scan driver-priced fold is bit-identical to " +
      "unigramRefreshModel over the same stored partitions") {
    val tmp = tempDir("graft-scflm-")
    val base = docsTable.filter(col("doc_id") < 250)
    StreamingCurationFunnel.seedCounts(base, "text", rLm0, s"$tmp/cnt")
    TextPipeline.unigramCounts(
        docsTable.filter(col("doc_id") >= 250 && col("doc_id") < 400),
        "text", rLm0)
      .write.parquet(s"$tmp/cnt/batch_id=0")
    TextPipeline.unigramCounts(
        docsTable.filter(col("doc_id") >= 400), "text", rLm0)
      .write.parquet(s"$tmp/cnt/batch_id=1")
    val fast = StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 2L, rLm0)
    val all = spark.read.parquet(s"$tmp/cnt")
    val slow = TextPipeline.unigramRefreshModel(
      all.filter(col("batch_id") === -1L).select(col("piece"), col("cnt")),
      all.filter(col("batch_id") >= 0L && col("batch_id") < 2L)
        .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt")),
      rLm0)
    assert(fast.maxPieceLen === slow.maxPieceLen)
    assert(fast.scores === slow.scores)
    // and the epoch-1 boundary (only batch 0 folded) differs from epoch-2
    // — the pin is not vacuous
    val e1 = StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 1L, rLm0)
    assert(e1.scores !== fast.scores)
  }

  test("compactCounts: the summed segment re-prices bit-identically " +
      "through the manifest, an uncommitted segment is invisible, folded " +
      "partitions are GC'd, below-horizon reads are refused") {
    val tmp = tempDir("graft-scfcc-")
    val base = docsTable.filter(col("doc_id") < 250)
    StreamingCurationFunnel.seedCounts(base, "text", rLm0, s"$tmp/cnt")
    TextPipeline.unigramCounts(
        docsTable.filter(col("doc_id") >= 250 && col("doc_id") < 400),
        "text", rLm0)
      .write.parquet(s"$tmp/cnt/batch_id=0")
    TextPipeline.unigramCounts(
        docsTable.filter(col("doc_id") >= 400), "text", rLm0)
      .write.parquet(s"$tmp/cnt/batch_id=1")
    val e2Before =
      StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 2L, rLm0)
    val e1Before =
      StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 1L, rLm0)
    // CRASH INJECTION — stage a summed segment by hand, do NOT commit:
    // readers must re-price off the live partitions exactly
    StreamingCurationFunnel.readCounts(spark, s"$tmp/cnt", 1L)
      .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
      .write.mode("overwrite").parquet(s"$tmp/cnt/.segments/compact-g0")
    assert(graft.streaming.Manifests.read(s"$tmp/cnt").isEmpty)
    assert(StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 2L, rLm0)
      .scores === e2Before.scores)
    // recovery = rerun: fold seed + batch 0, keep batch 1 live
    StreamingCurationFunnel.compactCounts(spark, s"$tmp/cnt", 0L)
    assert(!new java.io.File(s"$tmp/cnt/batch_id=-1").exists()
      && !new java.io.File(s"$tmp/cnt/batch_id=0").exists(),
      "folded partitions must be GC'd after the commit")
    assert(new java.io.File(s"$tmp/cnt/batch_id=1").exists())
    assert(StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 2L, rLm0)
      .scores === e2Before.scores,
      "epoch 2 must re-price bit-identically off segment + live delta")
    assert(StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 1L, rLm0)
      .scores === e1Before.scores,
      "epoch 1 (exactly the horizon) must re-price off the segment alone")
    // fold everything; epoch 2 still re-prices, epoch 1 is now BELOW the
    // horizon and must refuse rather than silently over-fold
    StreamingCurationFunnel.compactCounts(spark, s"$tmp/cnt", 1L)
    assert(StreamingCurationFunnel.refreshedLm(spark, s"$tmp/cnt", 2L, rLm0)
      .scores === e2Before.scores)
    intercept[IllegalArgumentException] {
      StreamingCurationFunnel.readCounts(spark, s"$tmp/cnt", 1L).count()
    }
  }

  test("compactSegments + mid-stream compaction of all three stores " +
      "(index, counts, segments): the continued stream decides " +
      "bit-identically off the compacted state") {
    val base = docsTable.filter(col("doc_id") < 250)
    val preds = Seq(
      col("doc_id") >= 250 && col("doc_id") < 400, col("doc_id") >= 400)
    def runOne(compactAfterBatch0: Boolean): Map[Long, Seq[Any]] = {
      StreamingCurationFunnel.clearRefreshMemo()
      val tmp = tempDir(s"graft-scfsc$compactAfterBatch0-")
      StreamingCurationFunnel.seedIndex(base, "text", "doc_id", 5, s"$tmp/idx")
      StreamingCurationFunnel.seedCounts(base, "text", rLm0, s"$tmp/cnt")
      StreamingCurationFunnel.seedSegments(base, "text", rLm0, s"$tmp/seg")
      preds.zipWithIndex.foreach { case (pred, b) =>
        if (compactAfterBatch0 && b == 1) {
          // the maintenance window between micro-batches: fold every
          // completed partition of every store through its manifest
          StreamingCurationFunnel.compactIndex(spark, s"$tmp/idx", 0L)
          StreamingCurationFunnel.compactCounts(spark, s"$tmp/cnt", 0L)
          StreamingCurationFunnel.compactSegments(spark, s"$tmp/seg", 0L)
          // a restarted driver resolves epochs/segments from storage
          StreamingCurationFunnel.clearRefreshMemo()
        }
        StreamingCurationFunnel.processBatchWithRefresh(
          docsTable.filter(pred), b.toLong, "text", "doc_id", rModel0,
          refreshEvery = 1L, rBloomFor, s"$tmp/idx", s"$tmp/out", s"$tmp/cnt",
          segDir = Some(s"$tmp/seg"))
      }
      if (compactAfterBatch0) {
        // folded partitions are gone; the segment store still resolves
        // every word exactly once (uniqueness survives compaction)
        assert(!new java.io.File(s"$tmp/seg/batch_id=-1").exists()
          && !new java.io.File(s"$tmp/seg/batch_id=0").exists())
        val ws = StreamingCurationFunnel.readSegments(spark, s"$tmp/seg", 2L)
          .select(col("w")).collect().map(_.getString(0))
        assert(ws.distinct.length === ws.length,
          "compacted segment store must keep words unique")
      }
      val out = decisionsIn(s"$tmp/out")
      Dedup.releaseCaches()
      out
    }
    val control = runOne(compactAfterBatch0 = false)
    val compacted = runOne(compactAfterBatch0 = true)
    assert(compacted === control)
  }

  test("segDir-backed refresh (incremental vocabulary): decisions and " +
      "counts bit-identical to the direct path; per-batch DP covers only " +
      "words the store has never seen") {
    StreamingCurationFunnel.clearRefreshMemo()
    val base = docsTable.filter(col("doc_id") < 250)
    val preds = Seq(
      col("doc_id") >= 250 && col("doc_id") < 400, col("doc_id") >= 400)
    def runOne(seg: Boolean): (Map[Long, Seq[Any]], Map[(Long, String), Long]) = {
      val tmp = tempDir(s"graft-scfs$seg-")
      StreamingCurationFunnel.seedIndex(base, "text", "doc_id", 5, s"$tmp/idx")
      StreamingCurationFunnel.seedCounts(base, "text", rLm0, s"$tmp/cnt")
      if (seg)
        StreamingCurationFunnel.seedSegments(base, "text", rLm0, s"$tmp/seg")
      preds.zipWithIndex.foreach { case (pred, b) =>
        StreamingCurationFunnel.processBatchWithRefresh(
          docsTable.filter(pred), b.toLong, "text", "doc_id", rModel0,
          refreshEvery = 1L, rBloomFor, s"$tmp/idx", s"$tmp/out", s"$tmp/cnt",
          segDir = if (seg) Some(s"$tmp/seg") else None)
      }
      val counts = spark.read.parquet(s"$tmp/cnt")
        .filter(col("batch_id") >= 0)
        .collect().map(r => (r.getAs[Long]("batch_id"), r.getString(0)) ->
          r.getLong(1)).toMap
      if (seg) {
        // the incremental claim: a word segmented in batch b never
        // appears in any partition below b (DP work is new-words-only)
        val segRows = spark.read.parquet(s"$tmp/seg")
          .select(col("w"), col("batch_id").cast("long").as("b"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        val firstSeen = segRows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        firstSeen.foreach { case (w, bs) =>
          assert(bs.distinct.size === bs.size, s"word $w segmented twice: $bs")
        }
      }
      (decisionsIn(s"$tmp/out"), counts)
    }
    val (dDirect, cDirect) = runOne(seg = false)
    StreamingCurationFunnel.clearRefreshMemo()
    val (dSeg, cSeg) = runOne(seg = true)
    assert(dSeg === dDirect)
    assert(cSeg === cDirect)
  }

  test("runWithRefresh: the foreachBatch wiring replays the same epochs " +
      "from a real stream with checkpointed batch ids") {
    StreamingCurationFunnel.clearRefreshMemo()
    val tmp = tempDir("graft-scfw-")
    val base = docsTable.filter(col("doc_id") < 250)
    val lm0 = rLm0
    val model0 = rModel0
    StreamingCurationFunnel.seedIndex(base, "text", "doc_id", 5, s"$tmp/idx")
    StreamingCurationFunnel.seedCounts(base, "text", lm0, s"$tmp/cnt")
    val delta = docsTable.filter(col("doc_id") >= 250)
    delta.filter(col("doc_id") < 400).coalesce(1).write.parquet(s"$tmp/in")
    Thread.sleep(20)
    delta.filter(col("doc_id") >= 400).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val q = StreamingCurationFunnel.runWithRefresh(stream, "text", "doc_id",
      model0, refreshEvery = 1L, _ => rBloom0,
      s"$tmp/idx", s"$tmp/out", s"$tmp/cnt", s"$tmp/ckpt")
    val streamed = try { q.processAllAvailable(); decisionsIn(s"$tmp/out") }
      finally q.stop()
    // same-epoch batch twin (bloom held constant here; the merge path is
    // covered by the parity test above)
    val (dec0, idx0) = CurationFunnel.decide(
      delta.filter(col("doc_id") < 400), "text", "doc_id",
      Dedup.buildBandedIndex(
        Dedup.buildShingleIndex(base, "text", "doc_id", 5)), model0)
    val kept0 = delta.filter(col("doc_id") < 400).join(
      dec0.filter(col("keep")).select(col("doc").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val lm1 = TextPipeline.unigramRefreshModel(
      TextPipeline.unigramCounts(base, "text", lm0),
      TextPipeline.unigramCounts(kept0, "text", lm0), lm0)
    val (dec1, _) = CurationFunnel.decide(
      delta.filter(col("doc_id") >= 400), "text", "doc_id",
      Dedup.buildBandedIndex(
        Dedup.buildShingleIndex(base, "text", "doc_id", 5)).unionByName(idx0),
      model0.copy(lm = lm1))
    val batch = (dec0.collect() ++ dec1.collect()).map(key).toMap
    Dedup.releaseCaches()
    assert(streamed === batch)
  }

  // synthetic corpus with controlled Jaccard structure: 30 distinct words
  // per doc (26 distinct 5-shingles); swapping 2 edge words moves exactly
  // 2 shingles, so J(one swap apart) = 24/28 ~ 0.857 >= 0.8 and
  // J(two swaps apart) = 22/30 ~ 0.733 < 0.8
  private def words(tag: String): IndexedSeq[String] =
    (0 until 30).map(i => f"$tag$i%02d") // 7 chars: mean word len in-gate
  private def text(ws: Seq[String]): String = ws.mkString(" ")
  private val xs = words("alpha")
  private val tX = text(xs)
  private val tDupTail = text(xs.dropRight(2) ++ Seq("zetaqa", "zetaqb"))
  private val tDupBoth = text(
    Seq("yotaqa", "yotaqb") ++ xs.slice(2, 28) ++ Seq("zetaqa", "zetaqb"))
  private val tFresh = text(words("omega"))
  private val tSeed = text(words("kappa"))

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private lazy val synthModel = CurationFunnel.FunnelModel(
    bloom = TextPipeline.bloomModel(
      df(900L -> text(words("probe"))), "text", "doc_id",
      shingleK = 5, mBits = 1 << 16, kHashes = 4),
    lm = TextPipeline.unigramTrainModel(
      df(901L -> tSeed, 902L -> tX), "text", maxPieceLen = 3,
      nSeed = 8, emRounds = 1),
    // LM gate wide open (above the -1e12 unseen-piece floor): dedup and
    // bloom are under test here, not the LM
    maxNllMicro = 10000000000000L)

  test("cross-batch dedup: dropped docs' fingerprints still suppress later copies") {
    val tmp = tempDir("graft-scf2-")
    StreamingCurationFunnel.seedIndex(
      df(1L -> tSeed), "text", "doc_id", 5, s"$tmp/idx")
    // batch 0: 10 is fresh, 11 near-dups 10 (same batch, J=0.857)
    StreamingCurationFunnel.processBatch(
      df(10L -> tX, 11L -> tDupTail), 0L, "text", "doc_id",
      synthModel, s"$tmp/idx", s"$tmp/out")
    // batch 1: 20 near-dups ONLY 11 (J=0.857; J(20,10)=0.733) — and 11
    // was itself DROPPED as a dup in batch 0; 21 is fresh
    StreamingCurationFunnel.processBatch(
      df(20L -> tDupBoth, 21L -> tFresh), 1L, "text", "doc_id",
      synthModel, s"$tmp/idx", s"$tmp/out")
    val got = decisionsIn(s"$tmp/out")
    assert(got.keySet === Set(10L, 11L, 20L, 21L))
    assert(got(10L)(6) === "kept")
    assert(got(11L)(6) === "near_dup") // vs 10, same batch, id order
    assert(got(20L)(6) === "near_dup") // vs 11: previous batch AND dropped
    assert(got(21L)(6) === "kept")
    // greedy associativity: the one-shot batch over the union decides
    // identically (id order == arrival order)
    val (batchDec, _) = CurationFunnel.decide(
      df(10L -> tX, 11L -> tDupTail, 20L -> tDupBoth, 21L -> tFresh),
      "text", "doc_id",
      Dedup.buildShingleIndex(df(1L -> tSeed), "text", "doc_id", 5),
      synthModel)
    val batch = batchDec.collect().map(key).toMap
    Dedup.releaseCaches()
    assert(got === batch)
  }

  test("retried micro-batch is idempotent and never self-dups") {
    val tmp = tempDir("graft-scf3-")
    StreamingCurationFunnel.seedIndex(
      df(1L -> tSeed), "text", "doc_id", 5, s"$tmp/idx")
    val batch = df(10L -> tX, 11L -> tDupTail)
    StreamingCurationFunnel.processBatch(
      batch, 0L, "text", "doc_id", synthModel, s"$tmp/idx", s"$tmp/out")
    val first = decisionsIn(s"$tmp/out")
    // redelivery of the SAME batch id (sink failure after the index
    // write): readIndex must not see batch 0's own fingerprints as base,
    // or doc 10 would near-dup itself
    StreamingCurationFunnel.processBatch(
      batch, 0L, "text", "doc_id", synthModel, s"$tmp/idx", s"$tmp/out")
    val second = decisionsIn(s"$tmp/out")
    assert(second === first)
    assert(second(10L)(6) === "kept")
    val idxDocs = spark.read.parquet(s"$tmp/idx")
      .select("doc").collect().map(_.getLong(0)).toSeq
    assert(idxDocs.sorted === Seq(1L, 10L, 11L)) // no duplicate partitions
  }

  test("restart from checkpoint: a second run continues batch ids past " +
      "the stored partitions and decides only the new arrivals") {
    val tmp = tempDir("graft-scf5-")
    StreamingCurationFunnel.seedIndex(
      df(1L -> tSeed), "text", "doc_id", 5, s"$tmp/idx")
    val schema = df(0L -> "x").schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val q = StreamingCurationFunnel.run(stream, "text", "doc_id",
        synthModel, s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    df(10L -> tX, 11L -> tDupTail).coalesce(1).write.parquet(s"$tmp/in")
    runOnce()
    val afterFirst = decisionsIn(s"$tmp/out")
    assert(afterFirst.keySet === Set(10L, 11L))
    // new arrivals land while the query is DOWN; the restarted query must
    // resume from the checkpointed offset (not re-decide 10/11) and dedup
    // the new docs against the index grown by the first run
    Thread.sleep(20)
    df(20L -> tDupBoth, 21L -> tFresh).coalesce(1)
      .write.mode("append").parquet(s"$tmp/in")
    runOnce()
    val afterSecond = decisionsIn(s"$tmp/out")
    assert(afterSecond.keySet === Set(10L, 11L, 20L, 21L))
    afterFirst.foreach { case (d, v) => assert(afterSecond(d) === v) }
    assert(afterSecond(20L)(6) === "near_dup") // vs 11, across the restart
    assert(afterSecond(21L)(6) === "kept")
    // batch ids continued: exactly seed + one partition per micro-batch
    val idxParts = spark.read.parquet(s"$tmp/idx")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(idxParts === Seq(-1L, 0L, 1L))
  }

  test("batching associativity fuzz: ANY id-ordered micro-batch split " +
      "decides identically to the one-shot batch (6 random splits)") {
    val rnd = new scala.util.Random(4242)
    // synthetic corpus with a dense dup structure: clusters of texts one
    // or two edge-swaps apart (J 0.857 / 0.733 around the 0.8 threshold)
    // plus fresh docs, shuffled across ids so splits cut through clusters
    val variants = Seq(tX, tDupTail, tDupBoth, tFresh) ++
      (0 until 6).map(i => text(words(s"w$i")))
    val corpus = (0 until 24).map { i =>
      (100L + i, variants(rnd.nextInt(variants.length)))
    }
    val (batchDec, _) = CurationFunnel.decide(
      df(corpus: _*), "text", "doc_id",
      Dedup.buildShingleIndex(df(1L -> tSeed), "text", "doc_id", 5),
      synthModel)
    val oneShot = batchDec.collect().map(key).toMap
    Dedup.releaseCaches()
    for (trial <- 1 to 6) {
      val tmp = tempDir(s"graft-scf6-$trial-")
      StreamingCurationFunnel.seedIndex(
        df(1L -> tSeed), "text", "doc_id", 5, s"$tmp/idx")
      // random id-ordered split into 1..5 batches
      val cuts = (0 until rnd.nextInt(5)).map(_ => rnd.nextInt(corpus.size))
      val bounds = (Seq(0, corpus.size) ++ cuts).distinct.sorted
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(a, b), bid) =>
        if (b > a) StreamingCurationFunnel.processBatch(
          df(corpus.slice(a, b): _*), bid.toLong, "text", "doc_id",
          synthModel, s"$tmp/idx", s"$tmp/out")
      }
      assert(decisionsIn(s"$tmp/out") === oneShot,
        s"trial $trial bounds $bounds")
    }
  }

  test("compactIndex: atomic manifest-pointer commit — later decisions " +
      "bit-for-bit, injected crashes on BOTH sides of the rename leave " +
      "either the old or the new state (never duplicates), recovery is " +
      "a plain rerun") {
    val tmp = tempDir("graft-scf7-")
    StreamingCurationFunnel.seedIndex(
      df(1L -> tSeed), "text", "doc_id", 5, s"$tmp/idx")
    StreamingCurationFunnel.processBatch(
      df(10L -> tX, 11L -> tDupTail), 0L, "text", "doc_id",
      synthModel, s"$tmp/idx", s"$tmp/out")
    // uncompacted control: batch 1 against the per-batch partitions
    val controlDir = tempDir("graft-scf7c-")
    def cp(src: String, dst: String): Unit = {
      val s = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(s).forEach { p =>
        val t = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) t.toFile.mkdirs()
        else java.nio.file.Files.copy(p, t)
      }
    }
    cp(s"$tmp/idx", s"$controlDir/idx"); cp(s"$tmp/out", s"$controlDir/out")
    StreamingCurationFunnel.processBatch(
      df(20L -> tDupBoth, 21L -> tFresh), 1L, "text", "doc_id",
      synthModel, s"$controlDir/idx", s"$controlDir/out")
    val control = decisionsIn(s"$controlDir/out")

    // CRASH INJECTION 1 — die between the segment write and the manifest
    // rename: stage a consolidated segment by hand (exactly what a
    // crashed compactIndex leaves) and do NOT commit. Readers must serve
    // the OLD state bit-for-bit; the dot-prefixed dir is invisible.
    val preCrash = StreamingCurationFunnel
      .readIndex(spark, s"$tmp/idx", 1L)
      .collect().map(_.getLong(0)).sorted
    StreamingCurationFunnel.readIndex(spark, s"$tmp/idx", 1L)
      .dropDuplicates("doc")
      .write.mode("overwrite").parquet(s"$tmp/idx/.segments/compact-g0")
    assert(graft.streaming.Manifests.read(s"$tmp/idx").isEmpty)
    assert(StreamingCurationFunnel.readIndex(spark, s"$tmp/idx", 1L)
      .collect().map(_.getLong(0)).sorted === preCrash,
      "an uncommitted segment must be invisible")
    assert(StreamingCurationFunnel.duplicateDocs(spark, s"$tmp/idx") === 0L)

    // recovery = rerun: the retry overwrites its own staging generation,
    // commits the manifest atomically, and GCs the folded partitions
    StreamingCurationFunnel.compactIndex(spark, s"$tmp/idx", 0L)
    val m0 = graft.streaming.Manifests.read(s"$tmp/idx")
    assert(m0.exists(m => m.upTo === 0L && m.generation === 0L))
    assert(!new java.io.File(s"$tmp/idx/batch_id=-1").exists()
      && !new java.io.File(s"$tmp/idx/batch_id=0").exists(),
      "folded partitions must be GC'd after the commit")
    assert(StreamingCurationFunnel.duplicateDocs(spark, s"$tmp/idx") === 0L)
    StreamingCurationFunnel.processBatch(
      df(20L -> tDupBoth, 21L -> tFresh), 1L, "text", "doc_id",
      synthModel, s"$tmp/idx", s"$tmp/out")
    assert(decisionsIn(s"$tmp/out") === control)

    // CRASH INJECTION 2 — die after the commit, before GC finishes: a
    // superseded partition lingers on disk. With the manifest pointer it
    // is INVISIBLE (no duplicates, identical reads); the next compaction
    // GCs it.
    StreamingCurationFunnel.compactIndex(spark, s"$tmp/idx", 1L)
    val visible = StreamingCurationFunnel
      .readIndex(spark, s"$tmp/idx", 2L)
      .collect().map(_.getLong(0)).sorted
    cp(s"$controlDir/idx/batch_id=0", s"$tmp/idx/batch_id=0") // GC-crash relic
    assert(StreamingCurationFunnel.duplicateDocs(spark, s"$tmp/idx") === 0L,
      "a superseded partition below the horizon must be invisible")
    assert(StreamingCurationFunnel.readIndex(spark, s"$tmp/idx", 2L)
      .collect().map(_.getLong(0)).sorted === visible)
    StreamingCurationFunnel.compactIndex(spark, s"$tmp/idx", 1L) // GC rerun
    assert(!new java.io.File(s"$tmp/idx/batch_id=0").exists())
    val m1 = graft.streaming.Manifests.read(s"$tmp/idx")
    assert(m1.exists(m => m.upTo === 1L && m.generation === 2L))
    val idxDocs = StreamingCurationFunnel.readIndex(spark, s"$tmp/idx", 99L)
      .select("doc").collect().map(_.getLong(0)).sorted
    assert(idxDocs === Seq(1L, 10L, 11L, 20L, 21L)) // gated set intact
  }

  test("Manifests versioned log (Hadoop FS port): a legacy unversioned " +
      "_graft_manifest still reads; a commit lands as a fresh-generation " +
      "file, wins by max generation, and GCs superseded pointers") {
    import graft.streaming.Manifests
    val tmp = tempDir("graft-scf8-")
    // pre-port store: the round-17 layout wrote ONE unversioned file
    val legacy = new java.io.File(tmp, "_graft_manifest")
    val w = new java.io.FileWriter(legacy)
    try w.write("generation=3\ndir=.segments/compact-g3\nupTo=7\n")
    finally w.close()
    assert(Manifests.read(tmp) ===
      Some(Manifests.Manifest(3L, ".segments/compact-g3", 7L)))
    // a staged tmp file is invisible to readers
    val staged = new java.io.File(tmp, "_graft_manifest.g9.tmp")
    val w2 = new java.io.FileWriter(staged)
    try w2.write("generation=9\ndir=x\nupTo=9\n") finally w2.close()
    assert(Manifests.read(tmp).map(_.generation) === Some(3L))
    // commit the next generation: read resolves the max, the legacy
    // pointer (superseded, invisible) is GC'd
    val (gen, seg) = Manifests.nextSegment(Manifests.read(tmp))
    assert((gen, seg) === ((4L, ".segments/compact-g4")))
    Manifests.commit(tmp, Manifests.Manifest(gen, seg, 8L))
    assert(Manifests.read(tmp) === Some(Manifests.Manifest(4L, seg, 8L)))
    assert(new java.io.File(tmp, "_graft_manifest.g4").isFile)
    assert(!legacy.exists(), "superseded pointers are GC'd post-commit")
    // same-commit retry (rename already succeeded, caller lost the ack):
    // idempotent — the pointer file is replaced with identical content
    Manifests.commit(tmp, Manifests.Manifest(gen, seg, 8L))
    assert(Manifests.read(tmp) === Some(Manifests.Manifest(4L, seg, 8L)))
  }

  test("funnel stages: bloom contamination and lm gate surface in verdicts") {
    val tmp = tempDir("graft-scf4-")
    // bloom trained ON tX's own shingles => doc 30 (a copy of tX's text
    // under a fresh id against an EMPTY base) is contaminated
    val m = synthModel.copy(
      bloom = TextPipeline.bloomModel(
        df(900L -> tX), "text", "doc_id",
        shingleK = 5, mBits = 1 << 16, kHashes = 4))
    StreamingCurationFunnel.seedIndex(
      df(1L -> tSeed), "text", "doc_id", 5, s"$tmp/idx")
    StreamingCurationFunnel.processBatch(
      df(30L -> tX, 31L -> "tiny", 32L -> tFresh,
        33L -> null.asInstanceOf[String]), 0L, "text", "doc_id",
      m, s"$tmp/idx", s"$tmp/out")
    val got = decisionsIn(s"$tmp/out")
    assert(got(30L)(6) === "contaminated")
    assert(got(31L)(6) === "gopher") // 1 word < minWords=20
    assert(got(32L)(6) === "kept")
    // NULL text is a gopher drop — not a null-flag fall-through to "kept"
    assert(got(33L)(0) === false && got(33L)(6) === "gopher")
    assert(got(33L)(5) === false) // keep
  }

  test("oversized tokens (ADVICE r17): a >MaxWordChars token in a doc the " +
      "bloom stage DROPS no longer fails the whole batch (the serve table " +
      "masks it); a doc that REACHES pricing with one still raises — the " +
      "staged failure contract, scoped to LM-evaluated docs") {
    // the giant token must ride through the gopher gate, which bounds
    // MEAN word length to [3, 10]: dilute it with 30k short words
    val giant = "z" * 70000 // > TextPipeline's 65536-char DP bound
    def padded(tag: String): String =
      ((0 until 30000).map(i => f"$tag$i%05d") :+ giant).mkString(" ")
    val contaminatedText = padded("w")
    val m = synthModel.copy(
      bloom = TextPipeline.bloomModel(
        df(900L -> contaminatedText), "text", "doc_id",
        // 30k shingles need a wide table — 2^16 bits saturates and
        // false-positives every doc
        shingleK = 5, mBits = 1 << 22, kHashes = 4))
    // doc 40 is gopher-passed but bloom-DROPPED (its shingles are the
    // benchmark's): before the fix, its giant token entered the serve
    // DP's vocabulary and raise_error failed the ENTIRE batch
    val (dec, _) = CurationFunnel.decide(
      df(40L -> contaminatedText, 41L -> tFresh), "text", "doc_id",
      Dedup.buildShingleIndex(df(1L -> tSeed), "text", "doc_id", 5), m)
    val got = dec.collect().map(key).toMap
    Dedup.releaseCaches()
    assert(got(40L)(6) === "contaminated")
    assert(got(41L)(6) === "kept")
    // doc 50 passes every gate, so pricing DOES evaluate its tokens: the
    // masked giant token is missing from the serve table and the price
    // fold raises — same failure the staged funnel had, now scoped
    val (dec2, _) = CurationFunnel.decide(
      df(50L -> padded("v")), "text", "doc_id",
      Dedup.buildShingleIndex(df(1L -> tSeed), "text", "doc_id", 5), m)
    val ex = intercept[Exception] { dec2.collect() }
    Dedup.releaseCaches()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("missing from the serve table")),
      s"expected the serve-table miss raise, got: ${messages(ex)}")
  }
}
