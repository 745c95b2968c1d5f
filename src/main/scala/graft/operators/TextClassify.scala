package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Token-level text classification — the trainable cousin of the
  * stopword-ratio language-ID heuristic (`TextPipeline.languageId`) and
  * the embedding-space nearest-centroid classifier
  * (`Similarity.nearestCentroidClassify`): a multinomial Naive Bayes
  * model trained and served entirely inside the engine. A corpus
  * pipeline uses this as the cheap first-pass router (language, domain,
  * quality tier) before anything expensive runs; the audit loop closes
  * through `ModelEval.classificationReport` on the held-out split.
  *
  * Exactness contract (the q74/q82 ln convention): every log-probability
  * is rounded to integer MICRO-NATS at the vocabulary-table level —
  * `w(c,t) = round(1e6 · ln((cnt(c,t)+1)/(N_c+V)))` — so document scores
  * are exact integer sums of a deterministic weight table and the argmax
  * (ties → smallest class label) is bit-reproducible at any parallelism
  * in any engine. The one `ln` per (class, term) cell carries the usual
  * 1-ulp libm caveat, corpus-validated per SF.
  */
object TextClassify {

  /** A trained Naive Bayes model: the distributed vocab×classes weight
    * grid `(t, y, w)` plus the |classes|-bounded literal prior pairs
    * `(class, prior_micro)`. The grid is an ordinary DataFrame — persist
    * it (or write it to storage) for repeated serving; the priors are
    * driver-held literals (the IVF-centroid bounded-state pattern).
    * `gridCells` is the driver-known vocab×classes row count (the train
    * scalars collect already pays for it) — the serve join broadcasts
    * the grid when it is under [[BroadcastGridMaxCells]], so the token
    * side is never shuffled for a small model; an unknown size
    * (Long.MaxValue default) keeps the shuffle join.
    */
  final case class NbModel(grid: DataFrame, priors: Seq[(String, Long)],
      gridCells: Long = Long.MaxValue)

  /** Grid-size gate for broadcasting the serve join (the
    * [[Graph.DriverMaxEdges]] bounded-state pattern): 10⁶
    * (term, class, weight) rows is tens of MB framed — comfortably
    * inside executor broadcast budgets; larger vocabularies keep the
    * term-keyed shuffle join, so the 100 TB path is untouched.
    */
  private[operators] val BroadcastGridMaxCells = 1000000L

  /** Train a multinomial Naive Bayes model with add-1 (Laplace)
    * smoothing over whitespace tokens on the GIVEN rows (no split — pair
    * with [[naiveBayesPredict]] for the md5-gated eval loop):
    *
    *   w(c, t)  = round(10⁶·ln((cnt(c,t)+1) / (N_c + V)))
    *   prior(c) = round(10⁶·ln(docs_c / docs))
    *
    * Scale shape: one explode + (class, term) count with map-side
    * combine; the class-bounded scalars (doc counts, token totals, vocab
    * size) ship to the driver as ONE tagged-union job and re-enter as
    * literals, so the dense vocab×classes grid builds in one aggregation
    * (per-term class→count map exploded over the literal class list —
    * absent cells take the smoothed floor: absence from a class is
    * evidence, the chiSquareTerms a=0 rule). No crossJoin, no broadcast
    * subquery — at local scale this operator is stage-count bound, and
    * each avoided exchange is one fewer serial AQE job.
    */
  def naiveBayesTrain(
      docs: DataFrame, textCol: String, idCol: String,
      labelCol: String): NbModel = {
    val base = docs.select(col(idCol).cast("bigint").as("did"),
      col(labelCol).cast("string").as("y"),
      T.tokens(col(textCol)).as("toks"))
    val tok = base.select(col("y"), explode(col("toks")).as("t"))
    val cnt = tok.groupBy(col("y"), col("t")).agg(count(lit(1)).as("c"))
    val cntP = Dedup.persistTracked(cnt)
    val scalars = base.groupBy(col("y"))
      .agg(count(lit(1)).as("v")).select(lit("cls").as("tag"), col("y"), col("v"))
      .unionByName(cntP.groupBy(col("y")).agg(sum(col("c")).as("v"))
        .select(lit("ny").as("tag"), col("y"), col("v")))
      .unionByName(cntP.select(col("t")).distinct()
        .agg(count(lit(1)).as("v"))
        .select(lit("voc").as("tag"), lit("").as("y"), col("v")))
      .collect()
    val clsRows = scalars.filter(_.getString(0) == "cls")
      .map(r => (r.getString(1), r.getLong(2)))
    require(clsRows.nonEmpty, "naiveBayesTrain: training set is empty")
    require(clsRows.length <= 10000,
      "naiveBayesTrain: at most 10000 classes (driver-held class table)")
    val nyRows = scalars.filter(_.getString(0) == "ny")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val vocV = scalars.find(_.getString(0) == "voc").get.getLong(2)
    val nTrain = clsRows.map(_._2).sum
    val classes = clsRows.map(_._1).sorted.toSeq
    val nyLit = typedLit(nyRows)
    val priors = clsRows.map { case (y, nd) =>
      (y, math.round(math.log(nd.toDouble / nTrain) * 1e6))
    }.toSeq.sortBy(_._1)
    val grid = cntP.groupBy(col("t"))
      .agg(map_from_entries(collect_list(struct(col("y"), col("c")))).as("m"))
      .select(col("t"), explode(typedLit(classes)).as("y"), col("m"))
      .select(col("t"), col("y"),
        round(log((coalesce(element_at(col("m"), col("y")), lit(0L)) + lit(1.0))
          / (element_at(nyLit, col("y")) + lit(vocV))) * lit(1e6))
          .cast("bigint").as("w"))
    NbModel(grid, priors, gridCells = vocV * classes.length)
  }

  /** Score documents with a trained model: one `(did, predicted)` row
    * per input document. Tokens outside the train vocabulary are
    * SKIPPED (no weight row exists) — the standard open-vocabulary
    * convention; a doc with zero in-vocabulary tokens falls back to the
    * prior argmax (ties → smallest class label).
    *
    * Scale shape: exploded tokens join the grid ON TERM (broadcast when
    * the model is under the [[BroadcastGridMaxCells]] gate — the token
    * side is then never shuffled; shuffle hash join keyed by term
    * otherwise; per-occurrence fan-out = |classes|, never |vocab|),
    * (doc, class) partial sums with map-side combine, then the per-doc
    * argmax as `min(struct(-score, cand))` — an aggregate, not a window
    * sort. The grid is DENSE over the literal class list, so every doc
    * with ≥ 1 in-vocabulary token already carries ALL class candidates
    * after the aggregate; the prior enters as a literal map lookup
    * (no prior-explode scan, no (doc, class) join). Docs with zero
    * in-vocabulary tokens fall back to the DRIVER-computed prior argmax
    * through one skinny left join on the doc ids. Stop-word skew is
    * absorbed by partial aggregation exactly like any hot-key count.
    * Pure batch dataflow — serve a STREAM by folding micro-batches
    * through this in foreachBatch (the streaming-SCD2 pattern; each doc
    * is one row, so batch semantics are exact).
    */
  def naiveBayesApply(
      model: NbModel, docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val base = docs.select(col(idCol).cast("bigint").as("did"),
      T.tokens(col(textCol)).as("toks"))
    val best = candScores(model, base)
      .groupBy(col("did"))
      .agg(min(struct((-col("score")).as("ns"), col("cand"))).as("best"))
    val d0 = priorOnlyRanked(model).head
    base.select(col("did")).distinct()
      .join(best, Seq("did"), "left")
      .select(col("did"),
        coalesce(col("best.cand"), lit(d0._2)).as("predicted"))
  }

  /** Serve-side grid: broadcast under the cell gate, plain frame above. */
  private def maybeBroadcastGrid(model: NbModel): DataFrame =
    if (model.gridCells <= BroadcastGridMaxCells) broadcast(model.grid)
    else model.grid

  /** `(did, cand, score)` for every document with ≥ 1 in-vocabulary
    * token. The grid is dense over the literal class list, so the token
    * join fans every in-vocab occurrence out to ALL classes and the
    * (did, y) aggregate already carries every candidate; the prior is a
    * literal map lookup on the aggregated rows.
    */
  private def candScores(model: NbModel, base: DataFrame): DataFrame = {
    val priLit = typedLit(model.priors.toMap)
    base.select(col("did"), explode(col("toks")).as("t"))
      .join(maybeBroadcastGrid(model), Seq("t"))
      .groupBy(col("did"), col("y"))
      .agg(sum(col("w")).as("s"))
      .select(col("did"), col("y").as("cand"),
        (element_at(priLit, col("y")) + col("s")).as("score"))
  }

  /** The prior-only candidate ranking `(-prior, class)` sorted exactly
    * like the Spark-side `struct(ns, cand)` aggregate: longs ascending,
    * then labels by UNSIGNED UTF-8 BYTE order (UTF8String's comparison —
    * Java String order differs for supplementary-plane labels).
    */
  private def priorOnlyRanked(model: NbModel): Seq[(Long, String)] = {
    val utf8 = new Ordering[String] {
      def compare(a: String, b: String): Int = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        while (i < x.length && i < y.length) {
          val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(x.length, y.length)
      }
    }
    model.priors.map { case (y, pw) => (-pw, y) }
      .sorted(Ordering.Tuple2(Ordering.Long, utf8))
  }

  /** [[naiveBayesApply]] with the CONFIDENCE MARGIN: per document, the
    * winning class plus `margin_micro` = best score − runner-up score
    * (≥ 0, exact integer — scores are integer sums). The margin is the
    * cascade-routing signal: a corpus router sends low-margin documents
    * to the expensive model and keeps high-margin ones on the cheap
    * path, so the margin distribution decides the cascade's cost.
    * Single-class models emit margin 2^62 (infinitely confident by
    * construction — nothing to be confused with).
    *
    * Same plan as [[naiveBayesApply]] except the final argmax aggregates
    * the TWO smallest (-score, cand) structs via a sorted slice of the
    * |classes|-bounded collected list — still one aggregation, no
    * window sort.
    */
  def naiveBayesApplyWithMargin(
      model: NbModel, docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val base = docs.select(col(idCol).cast("bigint").as("did"),
      T.tokens(col(textCol)).as("toks"))
    val top2 = candScores(model, base)
      .groupBy(col("did"))
      .agg(slice(sort_array(collect_list(
        struct((-col("score")).as("ns"), col("cand")))), 1, 2).as("top2"))
    val pri = priorOnlyRanked(model)
    val d0margin = if (pri.size < 2) 1L << 62 else pri(1)._1 - pri(0)._1
    base.select(col("did")).distinct()
      .join(top2, Seq("did"), "left")
      .select(col("did"),
        coalesce(col("top2").getItem(0).getField("cand"), lit(pri.head._2))
          .as("predicted"),
        when(col("top2").isNull, lit(d0margin))
          .when(size(col("top2")) < 2, lit(1L << 62))
          .otherwise(col("top2").getItem(1).getField("ns")
            - col("top2").getItem(0).getField("ns"))
          .as("margin_micro"))
  }

  /** The eval loop: md5-hash-gated train/test split (the
    * `DataPrep.hashSplit` convention, same gate as
    * `nearestCentroidClassify`), [[naiveBayesTrain]] on the train side,
    * [[naiveBayesApply]] on the held-out side. Returns one row per TEST
    * document: `(did, y, predicted)` — actual and predicted label, the
    * frame `ModelEval.classificationReport` grades.
    */
  def naiveBayesPredict(
      docs: DataFrame, textCol: String, idCol: String, labelCol: String,
      trainBps: Int = 8000): DataFrame = {
    require(trainBps >= 1 && trainBps <= 9999,
      "naiveBayesPredict: trainBps in [1, 9999] (a held-out test split must exist)")
    val gate = f"${trainBps.toLong * 65536 / 10000}%04x"
    val split = docs.select(col(idCol).cast("bigint").as("did"),
        col(labelCol).cast("string").as("y"), col(textCol).as("__text"))
      .withColumn("tr",
        (substring(md5(col("did").cast("string")), 1, 4) < lit(gate))
          .cast("int"))
    val model = naiveBayesTrain(
      split.filter(col("tr") === 1), "__text", "did", "y")
    naiveBayesApply(model, split.filter(col("tr") === 0), "__text", "did")
      .join(split.filter(col("tr") === 0).select(col("did"), col("y")),
        Seq("did"))
      .select(col("did"), col("y"), col("predicted"))
  }
}
