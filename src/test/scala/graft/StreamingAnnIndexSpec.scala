package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamingAnnIndex
import graft.streaming.StreamingAnnIndex.AnnParams

/** The streaming ANN retrain loop (the operator acting on q291's
  * verdict) against its q298 batch composition: same md5-banded arrival,
  * same frozen curve, same floor — ledgers, stored model epochs, coded
  * rows, and probe answers must all line up.
  */
class StreamingAnnIndexSpec extends SparkSpec {

  private lazy val emb = graft.Tables.table(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private def h = substring(md5(col("vec_id").cast("string")), 1, 4)
  private val g80 = "3333" // Similarity.baseGateHex(8000) — 20% seed
  private val g50 = "8000" // Similarity.baseGateHex(5000)
  private val p = AnnParams()

  // a SYNTHETIC curve with a known crossing (the loop's behavior must
  // not depend on the corpus-measured curve being in any particular
  // place): recall 400000 at 2000 bps, 300000 at 8000 bps, floor
  // 350000 → max_safe = 2000 + 6000*(400000-350000)/(400000-300000) = 5000.
  private def syntheticCurve: DataFrame = {
    import spark.implicits._
    Seq((2000L, 10L, 10L, 400000L), (8000L, 10L, 10L, 300000L))
      .toDF("delta_bps", "n_base", "n_delta", "mean_recall_ppm")
  }

  private def runStream(tmp: String): Seq[StreamingAnnIndex.LedgerRow] = {
    StreamingAnnIndex.clearModelMemo()
    StreamingAnnIndex.seed(emb.filter(h < lit(g80)), "embedding", "vec_id", p,
      s"$tmp/vec", s"$tmp/model", s"$tmp/coded")
    Seq(
      StreamingAnnIndex.processBatch(
        emb.filter(h >= lit(g80) && h < lit(g50)), 0L, "embedding", "vec_id",
        p, syntheticCurve, 350000L, s"$tmp/vec", s"$tmp/model", s"$tmp/coded"),
      StreamingAnnIndex.processBatch(
        emb.filter(h >= lit(g50)), 1L, "embedding", "vec_id",
        p, syntheticCurve, 350000L, s"$tmp/vec", s"$tmp/model", s"$tmp/coded"))
  }

  test("trigger-driven retrain: batch 0 (6000 bps > 5000 max-safe) fires " +
      "and hot-swaps; batch 1 (5000 bps, not >) does not; ledger matches " +
      "the composition arithmetic") {
    val tmp = tempDir("graft-sann-")
    val ledger = runStream(tmp)
    val nSeed = emb.filter(h < lit(g80)).count()
    val nB0 = emb.filter(h >= lit(g80) && h < lit(g50)).count()
    val nB1 = emb.filter(h >= lit(g50)).count()
    val l0 = ledger(0)
    assert((l0.nBase, l0.nDelta) === ((nSeed, nB0)))
    assert(l0.currentDeltaBps === 10000L * nB0 / (nSeed + nB0))
    assert(l0.maxSafeDeltaBps === 5000L)
    assert(l0.retrain && l0.boundaryAfter === 1L,
      s"batch 0 at ${l0.currentDeltaBps} bps must fire")
    val l1 = ledger(1)
    assert((l1.nBase, l1.nDelta) === ((nSeed + nB0, nB1)))
    assert(l1.currentDeltaBps === 10000L * nB1 / (nSeed + nB0 + nB1))
    assert(!l1.retrain && l1.boundaryAfter === 1L,
      s"batch 1 at ${l1.currentDeltaBps} bps must not fire")
    // the retrain actually re-encoded: boundary=1 holds the FULL ingested
    // corpus at batch_id=0 (the re-encode) plus batch 1's append
    val b1Rows = spark.read.parquet(s"$tmp/coded/boundary=1")
    assert(b1Rows.filter(col("batch_id") === 0).count() === nSeed + nB0)
    assert(b1Rows.filter(col("batch_id") === 1).count() === nB1)
    // and the epoch-1 model differs from epoch 0 (hot-swap non-vacuous)
    val m0 = Similarity.ivfPqModelFromTables(
      spark.read.parquet(s"$tmp/model/boundary=0/centroids"),
      spark.read.parquet(s"$tmp/model/boundary=0/codebooks"))
    val m1 = Similarity.ivfPqModelFromTables(
      spark.read.parquet(s"$tmp/model/boundary=1/centroids"),
      spark.read.parquet(s"$tmp/model/boundary=1/codebooks"))
    assert(!m0.coarse.flatten.toSeq.equals(m1.coarse.flatten.toSeq),
      "retrained coarse centroids must differ")
    Dedup.releaseCaches()
  }

  test("stream ≡ batch composition at the retrain boundary: stored coded " +
      "rows and probe answers equal the inline train/encode twin") {
    val tmp = tempDir("graft-sann2-")
    runStream(tmp)
    // batch twin of the post-retrain state: epoch 1 trains on the 50%
    // gate, encodes everything (ingested ≤ batch 1 = the full corpus)
    val m1 = Similarity.ivfPqTrain(
      emb.filter(h < lit(g50)), "embedding", "vec_id",
      p.nClusters, p.coarseIters, p.m, p.nCentroids, p.pqIters)
    val twin = Similarity.ivfPqEncode(m1, emb, "embedding", "vec_id")
      .select(col("neighbor_id"), col("bucket"), col("code"))
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getSeq[Long](2)))).toMap
    val (servedModel, servedIndex) =
      StreamingAnnIndex.current(spark, s"$tmp/model", s"$tmp/coded", 1L)
    val stored = servedIndex
      .select(col("neighbor_id"), col("bucket"), col("code"))
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getSeq[Long](2)))).toMap
    assert(stored === twin,
      "streamed coded index must equal the epoch-split batch encode")
    // probe parity: the serving surface answers exactly like the twin
    val queries = emb.filter(col("vec_id") < 5)
    val streamedTopK = Similarity.ivfPqProbeIndex(
        servedModel, servedIndex, queries, "embedding", "vec_id",
        k = 5, nProbe = 3, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val twinTopK = Similarity.ivfPqProbeIndex(
        m1, Similarity.ivfPqEncode(m1, emb, "embedding", "vec_id"),
        queries, "embedding", "vec_id", k = 5, nProbe = 3, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamedTopK === twinTopK)
    assert(streamedTopK.nonEmpty)
    Dedup.releaseCaches()
  }

  test("retried batch is idempotent: re-running batch 0 after its retrain " +
      "reproduces the SAME ledger row, epoch, and coded rows (the stored " +
      "boundary=1 is invisible to a retry of batch 0)") {
    val tmp = tempDir("graft-sann3-")
    val first = runStream(tmp)
    val csBefore = spark.read.parquet(s"$tmp/coded/boundary=1")
      .agg(sum(col("bucket").cast("long")).as("s")).collect()(0).getLong(0)
    // retry batch 0 (crash-after-commit replay): boundaryAt(0) must still
    // resolve to 0, the verdict must re-fire, and every rewrite is
    // idempotent
    StreamingAnnIndex.clearModelMemo() // simulate a fresh driver
    val retried = StreamingAnnIndex.processBatch(
      emb.filter(h >= lit(g80) && h < lit(g50)), 0L, "embedding", "vec_id",
      p, syntheticCurve, 350000L, s"$tmp/vec", s"$tmp/model", s"$tmp/coded")
    assert(retried === first(0))
    val csAfter = spark.read.parquet(s"$tmp/coded/boundary=1")
      .agg(sum(col("bucket").cast("long")).as("s")).collect()(0).getLong(0)
    assert(csAfter === csBefore)
    Dedup.releaseCaches()
  }

  test("retireEpochs GCs superseded model/coded epochs through the " +
      "manifest-GC discipline: the serving surface answers identically, " +
      "a crash mid-retire leaves unread garbage, the rerun is idempotent") {
    val tmp = tempDir("graft-sann6-")
    runStream(tmp) // batch 0 fires a retrain -> boundary 1 supersedes 0
    val (servedModel, servedIndex) =
      StreamingAnnIndex.current(spark, s"$tmp/model", s"$tmp/coded", 1L)
    val queries = emb.filter(col("vec_id") < 5)
    def topK(m: Similarity.IvfPqModel, idx: DataFrame) =
      Similarity.ivfPqProbeIndex(m, idx, queries, "embedding", "vec_id",
          k = 5, nProbe = 3, rerank = 20)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val before = topK(servedModel, servedIndex)
    // CRASH INJECTION — die mid-retire: only the coded side of epoch 0
    // got deleted. The leftover model dir is garbage, never read: every
    // future batch resolves max stored boundary <= N, and batches <= 1
    // are checkpoint-committed.
    def fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/coded/boundary=0"), true)
    val (mAfterCrash, idxAfterCrash) =
      StreamingAnnIndex.current(spark, s"$tmp/model", s"$tmp/coded", 1L)
    assert(topK(mAfterCrash, idxAfterCrash) === before,
      "a half-retired epoch must be invisible to the serving surface")
    // rerun = recovery: idempotent, retires the remaining model dir
    val retired = StreamingAnnIndex.retireEpochs(
      s"$tmp/model", s"$tmp/coded", upToBatch = 1L)
    assert(retired === Seq(0L))
    assert(!new java.io.File(s"$tmp/model/boundary=0").exists())
    assert(!new java.io.File(s"$tmp/coded/boundary=0").exists())
    assert(new java.io.File(s"$tmp/model/boundary=1").exists()
      && new java.io.File(s"$tmp/coded/boundary=1").exists(),
      "the serving epoch must survive")
    val (mAfter, idxAfter) =
      StreamingAnnIndex.current(spark, s"$tmp/model", s"$tmp/coded", 1L)
    assert(topK(mAfter, idxAfter) === before,
      "retiring superseded epochs must not move a single answer")
    // rerun on a fully-retired store: nothing left below serving
    assert(StreamingAnnIndex.retireEpochs(
      s"$tmp/model", s"$tmp/coded", upToBatch = 1L) === Seq.empty)
    // and the raw corpus of record is untouched (vecDir is never GC'd)
    assert(spark.read.parquet(s"$tmp/vec").count() === emb.count())
    Dedup.releaseCaches()
  }

  test("runWithRetrain wiring: the foreachBatch stream replays the same " +
      "ledger state from real checkpointed batches") {
    val tmp = tempDir("graft-sann4-")
    StreamingAnnIndex.clearModelMemo()
    StreamingAnnIndex.seed(emb.filter(h < lit(g80)), "embedding", "vec_id", p,
      s"$tmp/vec", s"$tmp/model", s"$tmp/coded")
    emb.filter(h >= lit(g80) && h < lit(g50)).coalesce(1)
      .write.parquet(s"$tmp/in")
    Thread.sleep(20)
    emb.filter(h >= lit(g50)).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val stream = spark.readStream
      .schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val q = StreamingAnnIndex.run(stream, "embedding", "vec_id", p,
      syntheticCurve, 350000L, s"$tmp/vec", s"$tmp/model", s"$tmp/coded",
      s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    // the stream produced the same epochs + stored rows as the direct run
    assert(StreamingAnnIndex.boundaryAt(s"$tmp/model", 2L) === 1L)
    val direct = tempDir("graft-sann5-")
    runStream(direct)
    def codedSet(root: String) = spark.read.parquet(s"$root/coded/boundary=1")
      .select(col("neighbor_id"), col("bucket"), col("code"))
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getSeq[Long](2)))).toMap
    assert(codedSet(tmp) === codedSet(direct))
    Dedup.releaseCaches()
  }
}
