package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{TextFunctions => T}

/** Streaming MinHash-LSH near-dup CANDIDATE detection: flags incoming
  * documents that collide with ANY previously-seen document — across
  * micro-batches — in at least one LSH band. The streaming analog of
  * [[graft.operators.Dedup.minhashLshCandidates]], for deduplicating a
  * crawl/ingest stream against everything already accepted.
  *
  * Architecture mirrors the batch path: signatures and band keys come
  * from the same codegen expressions (so batch and stream agree on what
  * collides), candidate generation is per-bucket state, and exact
  * verification stays a downstream batch concern (candidates are cheap
  * to verify against a corpus store; an in-stream exact verify would
  * require keeping every shingle set in state).
  *
  * Scale design:
  *  - state is keyed by (band, bucket), value = the doc ids seen in that
  *    bucket — the stream-side inverted index. Per-key state is bounded
  *    by `maxBucket` (newest ids win): the streaming analog of the batch
  *    path's df cap, bounding both state size and the per-arrival O(f)
  *    pair fan-out in a hot bucket.
  *  - emission is incremental: a new doc pairs only against its bucket's
  *    existing ids, never all history; re-sent ids (at-least-once
  *    upstream) are absorbed idempotently.
  *  - the same pair may surface from several bands (exactly like the
  *    batch pre-distinct candidates); downstream dedup/verify collapses
  *    them.
  */
object StreamingLshDedup {

  final case class BandHit(doc: Long, band: Int, bkey: Long)
  final case class BucketState(ids: Seq[Long])
  final case class CandidatePair(id_a: Long, id_b: Long)

  /** The literal per-bucket fold the streaming store steps with: pair each
    * first-seen doc against the bucket's members (and earlier first-seens
    * of this batch, id-sorted for determinism), append to the bucket,
    * keep the newest `maxBucket`. Returns (emitted pairs, new bucket ids,
    * changed?).
    */
  def fold(seen: Seq[Long], incoming: Seq[Long], maxBucket: Int)
      : (Seq[CandidatePair], Seq[Long], Boolean) = {
    val seenSet = seen.toSet
    val fresh = incoming.distinct.sorted.filterNot(seenSet)
    val out = Seq.newBuilder[CandidatePair]
    var acc = seen
    fresh.foreach { n =>
      acc.foreach { s =>
        out += (if (s < n) CandidatePair(s, n) else CandidatePair(n, s))
      }
      acc = acc :+ n
    }
    (out.result(), acc.takeRight(maxBucket), fresh.nonEmpty)
  }

  /** Per-bucket update: [[fold]] behind a GroupState handle. */
  def update(maxBucket: Int)(
      key: (Int, Long),
      rows: Iterator[BandHit],
      state: GroupState[BucketState]): Iterator[CandidatePair] = {
    val seen = state.getOption.map(_.ids).getOrElse(Seq.empty)
    val (out, acc, changed) = fold(seen, rows.map(_.doc).toSeq, maxBucket)
    if (changed) state.update(BucketState(acc))
    out.iterator
  }

  /** (doc, band, bkey) hits via the SAME codegen signature/banding
    * expressions for batch and stream inputs — the agreement that makes
    * [[initialBuckets]] seeding and half-batch/half-stream equivalence
    * (StreamingLshDedupSpec) hold.
    */
  private[streaming] def bandHits(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int, bands: Int, rowsPerBand: Int): Dataset[BandHit] = {
    implicit val hitEnc = Encoders.product[BandHit]
    docs
      .withColumn("__tok", T.hashAll(T.tokens(col(textCol))))
      .withColumn("__sh", array_distinct(
        org.apache.spark.sql.graftvec.TextExprs.shingleHashCol(col("__tok"), shingleK)))
      .withColumn("__sig", T.minhashSignatureFromHashes(col("__sh"), bands * rowsPerBand))
      .select(col(idCol).cast("long").as("doc"),
        posexplode(T.lshBandKeys(col("__sig"), bands, rowsPerBand)).as(Seq("band", "bkey")))
      .as[BandHit]
  }

  /** Wire the stateful candidate stream over a streaming (id, text) frame.
    * Emits (id_a, id_b) with id_a < id_b, possibly repeated across bands.
    *
    * `initialCorpus`: an already-accepted BATCH corpus whose documents
    * seed the per-bucket state BEFORE the first micro-batch — deploy the
    * dedup stream against an existing corpus store without replaying it
    * through the stream. Seeded docs emit no pairs among themselves
    * (they are history, exactly as if they had streamed through earlier);
    * arrivals pair against them normally, so batch(half1) ∪ stream(half2)
    * candidates equal the full-batch candidate set.
    */
  def candidates(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 1000,
      initialCorpus: Option[DataFrame] = None): Dataset[CandidatePair] = {
    require(maxBucket >= 1, "maxBucket must be >= 1")
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[CandidatePair]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    val grouped = bandHits(docs, textCol, idCol, shingleK, bands, rowsPerBand)
      .groupByKey(h => (h.band, h.bkey))
    initialCorpus match {
      case None =>
        grouped.flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(update(maxBucket))
      case Some(corpus) =>
        val seed = initialBuckets(
          corpus, textCol, idCol, shingleK, bands, rowsPerBand, maxBucket)
        grouped.flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.NoTimeout(), seed)(update(maxBucket))
    }
  }

  /** Batch-side bucket seed for [[candidates]]: each (band, bkey) bucket
    * holds the corpus doc ids banded by the shared expressions, id-sorted
    * (so the `maxBucket` trim keeps the largest ids, matching the
    * newest-wins stream policy under monotone ingest ids).
    */
  def initialBuckets(
      corpus: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 1000): org.apache.spark.sql.KeyValueGroupedDataset[(Int, Long), BucketState] = {
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    implicit val rowEnc = Encoders.tuple(
      Encoders.scalaInt, Encoders.scalaLong, Encoders.product[BucketState])
    bandHits(corpus, textCol, idCol, shingleK, bands, rowsPerBand)
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_set(col("doc"))).as("ids"))
      .withColumn("ids", when(size(col("ids")) <= maxBucket, col("ids"))
        .otherwise(slice(col("ids"),
          size(col("ids")) - (maxBucket - 1), lit(maxBucket))))
      .select(col("band"), col("bkey"), struct(col("ids")).as("state"))
      .as[(Int, Long, BucketState)]
      .groupByKey(t => (t._1, t._2))
      .mapValues(_._3)
  }
}
