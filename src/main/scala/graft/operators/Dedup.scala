package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MaterializeOps

import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for the training-data pipeline.
  *
  * Scale design (the 100 TB contract):
  *  - exact dedup is a hash aggregation on the dedup key — one shuffle,
  *    partial map-side combine for free;
  *  - MinHash-LSH never compares all pairs: docs are exploded to
  *    (band-key, doc) and only same-bucket docs meet, so the join cost is
  *    sum over buckets of |bucket|^2, not |corpus|^2;
  *  - SimHash uses 4x16-bit pigeonhole bands: hamming<=3 guarantees at
  *    least one identical band, so candidate generation is again an
  *    equi-join, not a cross join;
  *  - embedding near-dup buckets by sign-LSH signature before the exact
  *    cosine check.
  *
  * Pipeline ordering contract at scale: run [[exact]] BEFORE any near-dup
  * pass. A corpus with f byte-identical copies of one document puts all f
  * in the same LSH bucket (they share every band — that f^2 is inherent,
  * not a banding defect); exact dedup collapses them to one
  * representative first, so the near-dup stages only ever compare
  * distinct texts.
  */
object Dedup {

  /** Shingle-index frames persisted by [[minhashNearDups]] /
    * [[ngramJaccardPairs]]. The returned pair frames are LAZY, so the
    * functions themselves cannot unpersist (the cache must outlive the
    * caller's action on the result); in a long-lived session each call
    * would otherwise pin its index for the application lifetime. Every
    * persist is registered here and [[releaseCaches]] frees them all —
    * call it once the pair frames have been consumed (Bench does so
    * after every query).
    *
    * SCOPING: every persist registers under the ambient [[CacheScope]]
    * (a thread-inheritable dynamic variable; default = a shared root
    * scope). [[releaseCaches]] frees ONLY the current scope's entries,
    * so two concurrent pipelines that each run inside their own
    * [[inScope]] block cannot unpersist each other's indexes
    * (DedupSpec pins this); [[releaseAllCaches]] is the global
    * harness-teardown free. Two caveats remain Spark semantics, not
    * registry semantics: (a) cache identity is LOGICAL-PLAN-based, so
    * two pipelines persisting the SAME plan share one cache entry and
    * either's release drops it for both (correctness unaffected — the
    * index silently rebuilds on next use); (b) callers that need a
    * lifetime the registry can't see should [[buildShingleIndex]] once,
    * persist/WRITE it themselves (a written table has a new scan plan)
    * and use the `*FromIndex` variants, which never touch this registry
    * — also the cheaper shape for several dedup passes over one corpus.
    */
  final class CacheScope

  private val rootScope = new CacheScope
  private val currentScope =
    new scala.util.DynamicVariable[CacheScope](rootScope)

  /** A fresh scope token for [[inScope]]. */
  def newScope(): CacheScope = new CacheScope

  /** Runs `f` with all tracked persists registered under `scope`, so a
    * later `inScope(scope) { releaseCaches() }` (or
    * [[releaseScope]]`(scope)`) frees exactly that pipeline's indexes.
    * The dynamic variable is inherited by child threads, covering the
    * per-partition tasks a pipeline spawns.
    */
  def inScope[T](scope: CacheScope)(f: => T): T =
    currentScope.withValue(scope)(f)

  private val trackedCaches =
    scala.collection.mutable.ArrayBuffer.empty[(CacheScope, DataFrame)]

  private[graft] def persistTracked(df: DataFrame): DataFrame = trackedCaches.synchronized {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackedCaches += ((currentScope.value, df))
    df
  }

  /** Unpersist the CURRENT scope's tracked indexes (the shared root
    * scope when no [[inScope]] is active — the single-pipeline default).
    * Safe to call at any time: results computed afterwards rebuild.
    */
  def releaseCaches(): Unit = releaseScope(currentScope.value)

  /** Unpersist exactly `scope`'s tracked indexes, leaving other scopes'
    * entries cached.
    */
  def releaseScope(scope: CacheScope): Unit = trackedCaches.synchronized {
    val (mine, rest) = trackedCaches.partition(_._1 eq scope)
    mine.foreach(_._2.unpersist(blocking = false))
    trackedCaches.clear()
    trackedCaches ++= rest
  }

  /** Unpersist EVERY tracked index regardless of scope — the bench /
    * harness teardown free.
    */
  def releaseAllCaches(): Unit = trackedCaches.synchronized {
    trackedCaches.foreach(_._2.unpersist(blocking = false))
    trackedCaches.clear()
  }

  /** Exact dedup: one representative (min id) per identical `key` value. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The rows of `df` that [[exact]] names: per identical `keyCol` value
    * (NULL is one value), the row whose `idCol` is the minimum. One window
    * over `keyCol` — one shuffle, where a semi-join of `df` onto
    * [[exact]]'s `keep_id` is an aggregate plus a join. Precondition:
    * `idCol` is a key of `df`; with a repeated id the semi-join would also
    * keep the other rows carrying a representative's id. Like the
    * semi-join, drops rows whose `idCol` is NULL.
    */
  def exactRows(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.withColumn("__rep", col(idCol) === min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))))
      .filter(col("__rep"))
      .drop("__rep")

  /** FUZZY-KEY near-dup pairs at edit distance ≤ 1 via FastSS
    * deletion-neighborhood blocking: every key joins its candidates
    * through the set {key} ∪ {key minus one character} — two keys within
    * one substitution/insertion/deletion ALWAYS share a variant (the
    * FastSS completeness property for k = 1), so blocking loses nothing;
    * survivors are verified with the exact `levenshtein` (codegen'd in
    * Spark, built in to the oracle engine — unit edit costs, identical
    * everywhere). The typo-dedup primitive for short keys (titles, URLs,
    * product names) where shingle Jaccard has nothing to grab.
    *
    * Emits `(id_a, id_b, key_a, key_b, dist)` with `id_a < id_b`,
    * deduplicated across the (up to |key|+1 shared) variants. Identical
    * keys pair at dist 0 — run [[exact]] first if exact dups are handled
    * elsewhere.
    *
    * Scale shape: the variant posting list is (|key|+1)·rows and the
    * pair join is variant-keyed — per-variant fan-out is postings², so
    * hot variants (short common prefixes) are df-capped at `maxDf`
    * exactly like [[ngramJaccardPairs]]'s stop-shingle cap (documented
    * recall trade: a pair bridged ONLY by a capped variant is lost).
    * One explode, one capped equi-join, one distinct — no all-pairs.
    */
  def fuzzyKeyPairs(
      df: DataFrame, keyCol: String, idCol: String,
      maxDf: Int = 1000): DataFrame = {
    require(maxDf >= 2, "fuzzyKeyPairs: maxDf >= 2")
    val base = df.select(col(idCol).cast("bigint").as("id"),
        col(keyCol).cast("string").as("key"))
      .filter(col("key").isNotNull && length(col("key")) >= 1)
    val posting = base.select(col("id"), col("key"), explode(concat(
        array(col("key")),
        transform(sequence(lit(1), length(col("key"))), i =>
          concat(col("key").substr(lit(1), i - 1),
            col("key").substr(i + 1, length(col("key"))))))).as("v"))
      .distinct()
    val capped = posting.join(
      posting.groupBy(col("v")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("v")), Seq("v"))
    capped.as("a").join(capped.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.key").as("key_a"), col("b.key").as("key_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")).cast("bigint"))
      .filter(col("dist") <= 1L)
  }

  /** (id, distinct HASHED shingle set) projection, staged so each array is
    * computed exactly once per row: tokens -> per-token xxhash64 -> codegen
    * rolling k-window chain hash -> distinct. Shingle STRINGS are never
    * materialized — Jaccard/MinHash only need set identity, which 64-bit
    * hashes preserve up to negligible collision odds, and the downstream
    * explode/join shuffles 8-byte longs instead of ~30-byte strings.
    */
  private[graft] def shingleSets(
      docs: DataFrame, textCol: String, idCol: String, shingleK: Int): DataFrame =
    docs
      .withColumn("__tok", T.hashAll(T.tokens(col(textCol))))
      .withColumn("__sh", shingleSetOfHashed(col("__tok"), shingleK))
      .select(col(idCol).as("doc"), col("__sh").as("sh"))

  /** The fingerprint kernel over an already-hashed token column — the
    * exact [[shingleSets]] `sh` expression, exposed (with
    * [[bandKeysCol]]) so a composed operator ([[CurationFunnel.decide]])
    * can fuse fingerprinting into an existing scan instead of paying a
    * separate tokenize pass. Callers hash tokens with
    * `TextFunctions.hashAll(tokens)` first.
    */
  def shingleSetOfHashed(hashedToks: Column, shingleK: Int): Column =
    array_distinct(
      org.apache.spark.sql.graftvec.TextExprs.shingleHashCol(hashedToks, shingleK))

  /** Public face of the banding kernel (see [[shingleSetOfHashed]]). */
  def bandKeysCol(sh: Column, bands: Int, rowsPerBand: Int): Column =
    bandKeysOf(sh, bands, rowsPerBand)

  /** LSH banding candidates from an (doc, sh) shingle-set frame. */
  private def lshCandidatesFromSets(
      sets: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = sets
      .select(col("doc"),
        posexplode(bandKeysOf(col("sh"), bands, rowsPerBand)).as(Seq("band", "bkey")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs from an (doc, sh) frame. */
  private def jaccardVerifyFromSets(
      candidates: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    val s = sets.select(col("doc").as("jid"), col("sh"))
    candidates
      .join(s.withColumnsRenamed(Map("jid" -> "jid_a", "sh" -> "sh_a")), col("id_a") === col("jid_a"))
      .join(s.withColumnsRenamed(Map("jid" -> "jid_b", "sh" -> "sh_b")), col("id_b") === col("jid_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Materialize-once shingle index for the whole dedup family: the
    * (doc, sh) hashed-shingle frame that [[ngramJaccardPairsFromIndex]],
    * [[minhashNearDupsFromIndex]] and (via their pair lists)
    * [[keepRepresentatives]] all consume. The CALLER owns its lifecycle:
    * persist it (or write it to storage — the production shape at
    * 100 TB, where the index is a table built once per corpus snapshot)
    * and run every dedup pass against it, so the dominant
    * tokenize→hash→distinct corpus scan happens ONCE instead of once per
    * operator. Nothing is registered with [[releaseCaches]].
    */
  def buildShingleIndex(
      docs: DataFrame, textCol: String, idCol: String, shingleK: Int = 5): DataFrame =
    shingleSets(docs, textCol, idCol, shingleK)

  /** LSH band keys of a shingle-set column: key i hashes rows
    * [i·rowsPerBand, (i+1)·rowsPerBand) of the MinHash signature — a pure
    * function of `sh`, so storing the keys next to the fingerprints is a
    * cache, never a semantic change. One codegen pass (signature + band
    * hashing fused — [[org.apache.spark.sql.graftvec.TextExprs]]
    * MinHashBandKeys, bit-identical to the staged sig→lshBandKeys HOF
    * formulation, which re-evaluates the signature per band when the
    * optimizer inlines it into the interpreted lambda).
    */
  private def bandKeysOf(sh: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graftvec.TextExprs
      .minhashBandKeysCol(sh, bands, rowsPerBand)

  /** PRE-BANDED index: [[buildShingleIndex]]'s (doc, sh) plus the stored
    * LSH band keys (`bands` — array of `bands` longs). The MinHash
    * signature (bands·rowsPerBand hash-min reductions over the shingle
    * array — the dominant per-document banding cost) is computed ONCE at
    * index-build/compaction time instead of by every consumer:
    * [[minhashNearDupsAgainstBase]] detects the column and turns the
    * stored side's banding into a plain posexplode scan, which is what
    * makes a per-micro-batch front door ([[CurationFunnel]]) pay
    * delta-sized banding only. Because band keys are a pure function of
    * `sh`, results are bit-identical to the unbanded path (DedupSpec
    * pins it).
    *
    * SCHEMA CONTRACT (index format v2/v3): the stored `bands` column is
    * only valid for the (bands, rowsPerBand) geometry it was built with
    * — geometry is not recoverable from the data (any rowsPerBand yields
    * `bands` longs). v3 therefore stamps the geometry alongside the keys
    * (`bands_geom` = [[bandGeomCode]], a constant per partition) and
    * consumers VALIDATE it per-row, silently falling back to on-the-fly
    * key computation on mismatch — a stale store degrades to v1-cost
    * correctness instead of silently missing near-duplicates (LSH only
    * prunes, so wrong keys would drop real pairs with no error; ADVICE
    * r16). Legacy v2 stores (no `bands_geom`) get the weaker band-COUNT
    * check (`size(bands) = bands`); a rowsPerBand mismatch is
    * undetectable there, which is exactly why v3 stamps the code. v1
    * (doc, sh) indexes remain readable everywhere: consumers compute
    * keys on the fly.
    */
  def buildBandedIndex(
      index: DataFrame, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    index
      .withColumn("bands", bandKeysOf(col("sh"), bands, rowsPerBand))
      .withColumn("bands_geom", lit(bandGeomCode(bands, rowsPerBand)))

  /** Geometry fingerprint stored in v3 indexes: `(bands << 32) | rowsPerBand`. */
  def bandGeomCode(bands: Int, rowsPerBand: Int): Long =
    (bands.toLong << 32) | rowsPerBand.toLong

  /** [[minhashNearDups]] against a prebuilt [[buildShingleIndex]] frame
    * (persist it first — both the banding and the verify join read it).
    */
  def minhashNearDupsFromIndex(
      index: DataFrame, threshold: Double = 0.8,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    jaccardVerifyFromSets(
      lshCandidatesFromSets(index, bands, rowsPerBand), index, threshold)

  /** [[ngramJaccardPairs]] against a prebuilt [[buildShingleIndex]] frame
    * (persist it first). Same df-cap skew guard; see that scaladoc.
    *
    * Verification runs ON THE POSTINGS, not on re-exploded full sets: the
    * candidate self-join's output rows ARE the pair's shared rare
    * shingles, so `groupBy(pair).count()` yields |A∩B ∩ rare| at the cost
    * the old `.distinct()` already paid, and the df-capped (hot) shingles
    * — few distinct values by construction — are added back by a small
    * correction join, keeping the Jaccard EXACT. The old shape joined
    * every candidate pair back to both full shingle arrays
    * (pairs × 2 × |sh| longs shipped, then array_intersect per pair) —
    * superlinear in the candidate count, the round-9 q31 regression.
    */
  def ngramJaccardPairsFromIndex(
      index: DataFrame, threshold: Double = 0.8, maxDf: Int = 1000): DataFrame =
    pairIntersectionsFromIndex(index, maxDf,
      // conservative prune: jaccard is monotone in inter (numerator grows,
      // denominator shrinks; IEEE division is monotone both ways), so a
      // pair whose overlap UPPER BOUND already fails the gate cannot pass
      pruneKeep = Some((ub, szA, szB) =>
        ub.cast("double") / (szA + szB - ub) >= threshold))
      .withColumn("interd", col("inter").cast("double"))
      .withColumn("jaccard",
        col("interd") / (col("sz_a") + col("sz_b") - col("interd")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Exact per-pair shingle intersections from a [[buildShingleIndex]]
    * frame: `(id_a, id_b, inter, sz_a, sz_b)` for every id_a < id_b pair
    * sharing at least one RARE (df <= maxDf) shingle. The shared core of
    * [[ngramJaccardPairsFromIndex]] and [[containmentPairsFromIndex]] —
    * candidates come from the df-capped inverted-index self-join (the f²
    * stop-shingle skew guard), intersections are made exact again by the
    * bounded hot-shingle correction join. Pairs whose overlap is ONLY
    * hot shingles never surface — by construction boilerplate-only
    * overlap is not duplication evidence.
    *
    * `pruneKeep(interUpperBound, szA, szB)` is the threshold-aware
    * candidate prune (round-11, the q171 superlinear-tail fix): a pair's
    * final intersection can never exceed `cnt_rare + min(hot_a, hot_b)`
    * (hot_x = doc x's count of df-capped shingles), so a caller whose
    * gate is monotone in `inter` can reject candidates BEFORE the
    * hot-correction join pays for them — candidate pairs outnumber
    * passing pairs by orders of magnitude, and the prune is provably
    * lossless (the bound over-counts, so only guaranteed-failing pairs
    * drop). Sizes/hot-counts ride doc-keyed joins the output needed
    * anyway.
    */
  private def pairIntersectionsFromIndex(
      index: DataFrame, maxDf: Int,
      pruneKeep: Option[(Column, Column, Column) => Column] = None): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val sizes = index.select(col("doc"), size(col("sh")).cast("long").as("sz"))
    val posting = index.select(col("doc"), explode(col("sh")).as("s"))
    val dfs = posting.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val rare = dfs.filter(col("df") <= maxDf).select(col("s"))
    val capped = posting.join(rare, Seq("s"), "left_semi")
    val a = capped.as("a")
    val b = capped.as("b")
    // one row per shared rare shingle -> count = |A∩B ∩ rare|; exact
    // because the index arrays are array_distinct'd
    val cntRare = a
      .join(b, col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("cnt_rare"))
    // hot shingles (df > maxDf) are EXCLUDED from candidate generation —
    // the f² skew guard — but still count toward the exact intersection;
    // per-pair shared-hot count via posting joins (each doc carries at
    // most a handful of hot shingles, so this is pairs × small)
    val hot = posting.join(
      dfs.filter(col("df") > maxDf).select(col("s")), Seq("s"), "left_semi")
    val hotPerDoc = hot.groupBy(col("doc")).agg(count(lit(1)).as("hot_cnt"))
    // one (doc, sz, hot_cnt) side table instead of four separate doc-keyed
    // joins: same values (hot_cnt null ⇒ 0 via the left join), half the
    // join/barrier count on the pair frame
    val docStats = sizes.join(hotPerDoc, Seq("doc"), "left")
    val withSizes = cntRare
      .join(docStats.select(col("doc").as("id_a"), col("sz").as("sz_a"),
        col("hot_cnt").as("hot_a")), Seq("id_a"))
      .join(docStats.select(col("doc").as("id_b"), col("sz").as("sz_b"),
        col("hot_cnt").as("hot_b")), Seq("id_b"))
      .withColumn("__ub", col("cnt_rare") +
        least(coalesce(col("hot_a"), lit(0L)), coalesce(col("hot_b"), lit(0L))))
    val survivors = pruneKeep match {
      case Some(keep) =>
        withSizes.filter(keep(col("__ub"), col("sz_a"), col("sz_b")))
      case None => withSizes
    }
    val cntHot = survivors.select(col("id_a"), col("id_b"))
      .join(hot.select(col("doc").as("id_a"), col("s")), Seq("id_a"))
      .join(hot.select(col("doc").as("id_b"), col("s")), Seq("id_b", "s"), "left_semi")
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("cnt_hot"))
    survivors
      .join(cntHot, Seq("id_a", "id_b"), "left")
      .withColumn("inter", col("cnt_rare") + coalesce(col("cnt_hot"), lit(0L)))
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"))
  }

  /** ASYMMETRIC near-dup detection: shingle CONTAINMENT pairs —
    * `C(A→B) = |A∩B| / |A|` — the measure that catches a document
    * EMBEDDED in a larger one (quote farms, aggregator pages, a README
    * pasted into a 100-page manual), which symmetric Jaccard structurally
    * misses: a 50-shingle doc fully contained in a 5000-shingle doc has
    * J ≈ 0.01 but C = 1.0. The dedup policy downstream usually drops the
    * CONTAINED side and keeps the superset.
    *
    * Output: one row per id_a < id_b candidate pair with BOTH directions
    * as exact integer ppm — `c_ab_ppm = (1e6·|A∩B|) DIV |A|` (how much of
    * A is inside B) and `c_ba_ppm` — kept when either direction reaches
    * `thresholdPpm`. Integer arithmetic end to end: the gate and the
    * emitted ratios are exact in any engine (no float Jaccard boundary).
    *
    * Scale shape: identical to [[ngramJaccardPairsFromIndex]] — df-capped
    * inverted-index self-join for candidates (no all-pairs, stop-shingle
    * f² guard), bounded hot-correction join for exactness, and the
    * threshold-aware candidate prune BEFORE the correction join: the
    * gate `max(c_ab, c_ba) ≥ t` is equivalent to
    * `10⁶·inter ≥ t·min(|A|,|B|)` (the larger direction divides by the
    * smaller set), which is monotone in `inter`, so candidates whose
    * overlap upper bound already fails drop losslessly — containment has
    * no Jaccard-style size-ratio bound (a tiny doc inside a huge one is
    * exactly the target), making this per-pair prune the one that
    * matters. Pass a persisted/materialized [[buildShingleIndex]] frame.
    */
  def containmentPairsFromIndex(
      index: DataFrame, thresholdPpm: Long = 800000L,
      maxDf: Int = 1000): DataFrame = {
    require(thresholdPpm >= 1L && thresholdPpm <= 1000000L,
      "containmentPairsFromIndex: thresholdPpm in [1, 1e6]")
    pairIntersectionsFromIndex(index, maxDf,
      // floor(10⁶·i / m) ≥ t  ⟺  10⁶·i ≥ t·m (m > 0, t integer)
      pruneKeep = Some((ub, szA, szB) =>
        lit(1000000L) * ub >= lit(thresholdPpm) * least(szA, szB)))
      .withColumn("c_ab_ppm", expr("(1000000 * inter) DIV sz_a"))
      .withColumn("c_ba_ppm", expr("(1000000 * inter) DIV sz_b"))
      .filter(greatest(col("c_ab_ppm"), col("c_ba_ppm")) >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("c_ab_ppm"), col("c_ba_ppm"))
  }

  /** [[containmentPairsFromIndex]] with the index built (and cache-
    * registered) in place — the self-contained form for one-shot runs.
    */
  def containmentPairs(
      docs: DataFrame, textCol: String, idCol: String, shingleK: Int = 5,
      thresholdPpm: Long = 800000L, maxDf: Int = 1000): DataFrame =
    containmentPairsFromIndex(
      persistTracked(shingleSets(docs, textCol, idCol, shingleK)),
      thresholdPpm, maxDf)

  /** Per-document SHINGLE NOVELTY: the fraction of a document's distinct
    * word-k-shingles whose corpus-wide FIRST occurrence (smallest doc id
    * — the deterministic corpus order; compose with `Curation.
    * corpusShards` ids for shard-order novelty) is this document. The
    * pair-free dedup PRIORITIZATION signal: near-dup pair enumeration
    * says who matches whom, novelty says how much NEW text each doc
    * contributes — the number a curation pipeline sorts on when it keeps
    * one doc per cluster or budgets crawl snapshots ("this page is 97%
    * already-seen content"). `novelty_ppm = (10⁶·n_novel) DIV n_shingles`
    * — exact integers.
    *
    * Scale shape: one (shingle → min doc) aggregation with map-side
    * combine, one shingle-keyed join of postings against that 1-row-per-
    * shingle table (hot shingles cost per-occurrence rows, not f²: the
    * aggregated side is single-row), one per-doc reduce. No pair
    * enumeration anywhere — this is the operator that stays linear when
    * the near-dup pair set explodes.
    */
  def shingleNoveltyFromIndex(index: DataFrame): DataFrame = {
    val posting = index.select(col("doc"), explode(col("sh")).as("s"))
    val firsts = posting.groupBy(col("s")).agg(min(col("doc")).as("first_doc"))
    posting.join(firsts, Seq("s"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc"), col("n_shingles"), col("n_novel"),
        expr("(1000000 * n_novel) DIV n_shingles").as("novelty_ppm"))
  }

  /** [[shingleNoveltyFromIndex]] with the index built in place. */
  def shingleNovelty(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5): DataFrame =
    shingleNoveltyFromIndex(
      persistTracked(shingleSets(docs, textCol, idCol, shingleK)))

  /** CROSS-SOURCE overlap matrix: for every pair of corpus sources, how
    * many distinct word-k-shingles they share and the Jaccard between
    * their shingle sets — the corpus-analytics view of contamination
    * ("how much of source X is republished in source Y"), the first
    * report run when a new source is onboarded into a training mix.
    *
    * Scale shape: postings are collapsed to DISTINCT (source, shingle)
    * BEFORE the self-join, so per-shingle fan-out is bounded by the
    * SOURCE cardinality (dozens), never document frequency — no df cap
    * needed, unlike the per-document join in [[ngramJaccardPairs]]. One
    * corpus scan, one distinct, one bounded self-join; output is
    * sources², a report table.
    */
  def sourceOverlapMatrix(
      docs: DataFrame, textCol: String, groupCol: String,
      shingleK: Int = 5): DataFrame = {
    val posting = docs
      .withColumn("__tok", T.hashAll(T.tokens(col(textCol))))
      .withColumn("__sh", array_distinct(
        org.apache.spark.sql.graftvec.TextExprs.shingleHashCol(col("__tok"), shingleK)))
      .select(col(groupCol).as("grp"), explode(col("__sh")).as("s"))
      .distinct()
    val sizes = posting.groupBy(col("grp")).agg(count(lit(1)).as("sz"))
    val inter = posting.as("a")
      .join(posting.as("b"), col("a.s") === col("b.s") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("grp").as("grp_a"), col("sz").as("sz_a"))), Seq("grp_a"))
      .join(broadcast(sizes.select(col("grp").as("grp_b"), col("sz").as("sz_b"))), Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_shared"), col("sz_a"), col("sz_b"),
        round(col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared")), 6).as("jaccard"))
  }

  /** INCREMENTAL near-dup detection: MinHash-LSH near-dups of a NEW batch
    * of documents (`deltaIndex`) against an EXISTING corpus (`baseIndex`)
    * plus the batch itself — the production dedup shape at 100 TB, where
    * the historical shingle index is a stored table built once per corpus
    * snapshot and each day's crawl is deduped against it WITHOUT
    * rescanning (or re-pairing) the history. Band keys for the base side
    * are exactly the ones [[minhashNearDupsFromIndex]] computes, so a
    * materialized banded index is reusable as-is; only delta×base and
    * delta×delta collisions are enumerated — never base×base, which is
    * the whole point (|delta| ≪ |base|).
    *
    * Doc ids must be disjoint across the two indexes, with base ids
    * ordering below delta ids if the caller wants (id_a < id_b) output
    * like the batch operators. Pairs are exact-Jaccard verified against
    * the union index, so reported values are exact (LSH only prunes).
    *
    * Either side may arrive PRE-BANDED ([[buildBandedIndex]] — a stored
    * `bands` column, which MUST have been built with this call's
    * (bands, rowsPerBand) geometry): its banding stage becomes a plain
    * posexplode of stored keys instead of re-running the MinHash
    * signature per document — the stored-base front-door win.
    */
  def minhashNearDupsAgainstBase(
      baseIndex: DataFrame, deltaIndex: DataFrame,
      threshold: Double = 0.8, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // NO input persist here (changed round 16): each side feeds banding
    // AND the verify join, i.e. exactly two scans — and the base side is
    // a STORED corpus-scale table in the production shape, which must
    // never be pulled into executor cache per batch (a 100 TB
    // MEMORY_AND_DISK persist is strictly worse than two table scans,
    // and pre-banded v2 indexes make the second scan's banding free).
    // Callers that pass COMPUTED frames persist them themselves, like
    // every other *FromIndex consumer ([[CurationFunnel.decide]] does —
    // its delta fingerprints also feed the stored-index append).
    def banded(sets: DataFrame) = {
      // per-row coalesce, not a schema-level switch: a store whose seed
      // predates the banded format can hold v1 partitions (bands reads
      // as NULL) next to v2/v3 ones, and a NULL handed to posexplode would
      // silently drop that document from candidate generation.
      // GEOMETRY GUARD (ADVICE r16): stored keys are trusted only when
      // their recorded geometry matches this call's (v3 `bands_geom`
      // stamp; legacy v2 stores get the weaker band-count check) —
      // otherwise the row falls back to computed keys. `when(...)` yields
      // NULL on a false/NULL guard, which coalesce resolves to the
      // computed expression, so a mismatched or mixed store degrades to
      // v1 cost instead of silently missing near-duplicates.
      val keys =
        if (sets.columns.contains("bands")) {
          val geomOk =
            if (sets.columns.contains("bands_geom"))
              col("bands_geom") === lit(bandGeomCode(bands, rowsPerBand))
            else size(col("bands")) === lit(bands)
          coalesce(when(geomOk, col("bands")),
            bandKeysOf(col("sh"), bands, rowsPerBand))
        } else bandKeysOf(col("sh"), bands, rowsPerBand)
      sets.select(col("doc"), posexplode(keys).as(Seq("band", "bkey")))
    }
    // ONE candidate join instead of two (base×delta ∪ delta×delta): the
    // left side is the tagged union of both banded frames, the RIGHT side
    // is delta-only — so base×base collisions remain structurally
    // impossible (a base row can never appear on the probe side), while
    // the join, its shuffle, and the cross-frame distinct consolidate
    // into one exchange. Base rows pair unordered (the flag short-circuits
    // the id comparison, matching the old baseHits), delta×delta keeps
    // id_a < id_b — the emitted pair set is identical (DedupSpec pins
    // incremental == batch-restricted).
    val db = banded(baseIndex).withColumn("is_base", lit(true))
    val dd = banded(deltaIndex).withColumn("is_base", lit(false))
    val candidates = db.unionByName(dd).as("a")
      .join(dd.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          (col("a.is_base") || col("a.doc") < col("b.doc")))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
    // (doc, sh) projection before the union: either side may carry the
    // stored bands column, which the verify join does not read
    jaccardVerifyFromSets(candidates,
      baseIndex.select(col("doc"), col("sh"))
        .unionByName(deltaIndex.select(col("doc"), col("sh"))), threshold)
  }

  /** DUP-BLAME ATTRIBUTION for incremental dedup — the "why was my
    * document dropped" report a front door owes its producers: for each
    * delta document flagged by [[minhashNearDupsAgainstBase]], the
    * EARLIEST fingerprint it collides with (`dup_of` = min colliding id,
    * the first-arrival keeper under id order), that pair's exact
    * Jaccard, and the total collision count. One bounded aggregation
    * over the verified pair frame — the pair enumeration (delta-sized,
    * never base×base) dominates, exactly as in the flag-only path.
    *
    * RECALL CONTRACT — strictly tighter than the flag-only operator's:
    * `n_matches` counts LSH-SURVIVING pairs (and `dup_of`/`jaccard`
    * follow from that surviving set), so a single banding miss on ONE
    * pair changes this report even when the victim stays flagged
    * through another pair — the flag-only path only needs ANY pair per
    * victim to survive. At the default 16×4 banding the per-pair miss
    * probability is ~1e-4 at J ≥ 0.857 (corpus-validated per SF), but
    * a caller whose report must be exact per-pair should compute blame
    * from the exact inverted-index path instead
    * ([[ngramJaccardPairsFromIndex]] over the union index, then the
    * same per-victim argmin) and pay its df-cap contract.
    */
  def nearDupBlame(
      baseIndex: DataFrame, deltaIndex: DataFrame,
      threshold: Double = 0.8, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    minhashNearDupsAgainstBase(baseIndex, deltaIndex, threshold, bands, rowsPerBand)
      .groupBy(col("id_b").as("doc"))
      .agg(
        min(col("id_a")).as("dup_of"),
        min_by(col("jaccard"), col("id_a")).as("jaccard"),
        count(lit(1)).as("n_matches"))

  /** All candidate near-dup pairs from MinHash-LSH banding (id_a < id_b),
    * deduplicated across bands. `sigLen = bands * rowsPerBand` hashes.
    */
  def minhashLshCandidates(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    lshCandidatesFromSets(shingleSets(docs, textCol, idCol, shingleK), bands, rowsPerBand)

  /** Exact word-k-shingle Jaccard for given pairs (verification stage). */
  def jaccardVerify(
      candidates: DataFrame, docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int, threshold: Double): DataFrame =
    jaccardVerifyFromSets(
      candidates, shingleSets(docs, textCol, idCol, shingleK), threshold)

  /** MinHash-LSH near-dup pairs with exact Jaccard verification.
    *
    * The shingle index is built ONCE and persisted for the run: lazy
    * evaluation would otherwise re-scan the tokenize->hash->distinct
    * pipeline for the banding stage and for EACH side of the verify join
    * (3x the dominant corpus scan). At production scale the index would
    * be materialized to storage instead; MEMORY_AND_DISK is the local
    * equivalent (it spills rather than OOMs). The cache is registered for
    * [[releaseCaches]] — call it once the result has been consumed.
    */
  def minhashNearDups(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, threshold: Double = 0.8,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    minhashNearDupsFromIndex(
      persistTracked(shingleSets(docs, textCol, idCol, shingleK)),
      threshold, bands, rowsPerBand)

  /** n-gram Jaccard near-dup pairs via an INVERTED-INDEX join: docs
    * explode to (shingle, doc) and only docs sharing a shingle ever meet —
    * cost is sum over shingles of |postings|^2, not |corpus|^2.
    *
    * Skew guard (the 100 TB killer): a "stop shingle" shared by f docs
    * would create one f^2 hot bucket in the self-join, so postings with
    * document frequency above `maxDf` are DROPPED before candidate
    * generation (standard near-dup practice; the MinHash banding path is
    * immune by construction because its signature is bounded). Candidate
    * pairs are then verified against the FULL shingle sets, so every
    * reported Jaccard value stays exact — the cap can only cost recall,
    * and only for pairs whose every shared shingle occurs in more than
    * `maxDf` documents. At threshold 0.8 such a pair is overwhelmingly
    * boilerplate made of ubiquitous shingles — exactly the pairs a
    * near-dup pass should not be spending f^2 work on.
    *
    * The shingle index is persisted like [[minhashNearDups]]'s and
    * registered for [[releaseCaches]].
    */
  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, threshold: Double = 0.8, maxDf: Int = 1000): DataFrame =
    ngramJaccardPairsFromIndex(
      persistTracked(shingleSets(docs, textCol, idCol, shingleK)),
      threshold, maxDf)

  /** MINHASH SKETCH-QUALITY EVAL: per exact near-dup pair, the
    * signature-estimated Jaccard (`matches / nHashes` over an
    * `nHashes`-permutation MinHash) next to the true Jaccard, plus the
    * absolute error — the calibration audit run before trusting a
    * signature width for LSH dedup at scale ("is 16 hashes enough at
    * t = 0.8, or do we pay for 64?"). Expected |error| ≈
    * √(J(1−J)/nHashes) ≈ 0.1 at J = 0.8, nHashes = 16 — the spec pins
    * the bound, this operator shows the per-pair reality.
    *
    * Portability: hash j of shingle s is `md5(s || '_' || j)` compared
    * AS A HEX STRING — fixed-width lowercase hex compares
    * lexicographically exactly like the number it encodes, so min-hash
    * signatures are bit-identical in any engine (md5 everywhere; the
    * engine's production path [[minhashNearDups]] keeps xxhash64 — this
    * eval deliberately uses the portable family so the DuckDB oracle
    * replays it verbatim).
    *
    * Scale shape: signatures are one map-only pass (nHashes·|shingles|
    * md5s per doc, then a bounded array compare per pair); the pair set
    * is the exact near-dup output, so the join is |pairs|-bounded.
    * Candidate generation reuses [[ngramJaccardPairs]] wholesale.
    */
  def minhashEstimateErrors(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, threshold: Double = 0.8,
      nHashes: Int = 16): DataFrame = {
    require(nHashes >= 1 && nHashes <= 256, "nHashes in [1, 256]")
    val pairs = ngramJaccardPairs(docs, textCol, idCol, shingleK, threshold)
    // ONE compiled pass per document for all nHashes permutations
    // (TextExprs.MinHashSigMd5 — bit-identical to the staged
    // transform/array_min HOF formulation, which pays nHashes×|shingles|
    // interpreted lambda dispatches and allocates a 32-char hex string
    // per (shingle, permutation); ExtensionsSpec pins equality)
    val sigs = docs
      .withColumn("__w", T.tokens(col(textCol)))
      .withColumn("__sh",
        array_distinct(T.wordShinglesFromTokens(col("__w"), shingleK)))
      .select(col(idCol).as("doc"),
        org.apache.spark.sql.graftvec.TextExprs
          .minhashSigMd5Col(col("__sh"), nHashes).as("sig"))
    pairs
      .join(sigs.select(col("doc").as("id_a"), col("sig").as("sa")), Seq("id_a"))
      .join(sigs.select(col("doc").as("id_b"), col("sig").as("sb")), Seq("id_b"))
      .withColumn("matches",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          b => b)).cast("bigint"))
      .select(col("id_a"), col("id_b"),
        round(col("jaccard") * lit(1e6)).cast("bigint").as("exact_ppm"),
        expr(s"(1000000 * matches) DIV $nHashes").as("est_ppm"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("exact_ppm")))
  }

  /** SimHash near-dup pairs: hamming(sig_a, sig_b) <= maxHamming.
    * Pigeonhole banding into 4x16-bit chunks makes candidate generation an
    * equi-join (any pair with hamming <= 3 shares at least one chunk).
    * `sigOf` picks the signature function — the codegen'd xxhash64 default
    * or [[graft.functions.TextFunctions.simhash64Md5]] when the pair set
    * must be reproducible outside Spark.
    */
  def simhashNearDups(
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3,
      sigOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = T.simhash64): DataFrame = {
    val withSig = docs.select(col(idCol).as("doc"), sigOf(col(textCol)).as("sig"))
    val banded = withSig.select(
      col("doc"), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("band", "chunk")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        T.hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair list (id_a, id_b) via
    * alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round:
    *
    *  - LARGE-STAR: every node connects its strictly-larger neighbors to
    *    the minimum of its closed neighborhood — long chains collapse
    *    geometrically, so rounds are O(log n) in the worst case (vs the
    *    O(component-diameter) rounds of naive min-label propagation).
    *  - SMALL-STAR: with all edges oriented large→small, every node and
    *    its smaller neighbors re-attach to the smallest of them.
    *
    * The fixpoint is a forest of stars rooted at each component's minimum
    * id. Every round is two keyed aggregations + two joins (no driver-side
    * graph state), the edge frame is materialized ([[Materialize.checkpoint]]) per round so
    * lineage and planning cost stay O(1), and convergence is ONE cheap
    * aggregate over the already-materialized frame — (count, xor-of-edge-
    * hashes) equality with the previous round — instead of a changed-row
    * count over an uncached join chain. A graph that somehow fails to
    * converge within `maxIter` rounds THROWS rather than silently
    * returning split labels; at O(log n) rounds the default 50 covers
    * graphs far beyond any conceivable corpus (a path graph needs about
    * log2(diameter) rounds — measured: a 100k-node chain converges in
    * well under 30).
    *
    * Graphs of at most [[Graph.DriverMaxEdges]] distinct edges with
    * `bigint` ids skip the rounds: one bounded collect feeds a driver
    * union-find whose labels are the same component minimums, replacing
    * ~4 jobs + 2 checkpoints PER STAR ROUND. Near-dup pair graphs are
    * pair-thresholded, so this is the common case.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // ONE evaluation of the pair frame (in a pipeline, an LSH self-join
    // over the shingle index) feeds both the edges and the self-loops
    val distinctPairs = pairs.select(col("id_a"), col("id_b")).distinct().materialize
    val edges = distinctPairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst"))
    // nodes whose only edges are self-loops still deserve a label
    val selfOnly = distinctPairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as("id"), col("id_a").as("comp"))
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val stars =
      (if (longIds) Graph.collectIfSmall(edges, Graph.LongPairs) else None)
        .map(unionFindComponents(pairs.sparkSession, _))
        .getOrElse(starComponents(edges, maxIter))
    // self-loop-only nodes label themselves; a node with BOTH a self-loop
    // and real edges must keep only its star label (anti-join, not union —
    // a blind union would hand it two different label rows)
    stars.union(selfOnly.join(stars.select(col("id")), Seq("id"), "left_anti"))
  }

  /** Driver twin of [[starComponents]]: union-find with path halving
    * over the collected edges, each root resolved to its component's
    * MIN id afterwards to match the star fixpoint's min-rooted labels.
    */
  private def unionFindComponents(
      spark: org.apache.spark.sql.SparkSession,
      collected: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def ix(v: Long): Int = idx.getOrElseUpdate(v, {
      ids += v; parent += ids.length - 1; ids.length - 1
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    collected.foreach { case (s, d) =>
      val rs = find(ix(s)); val rd = find(ix(d))
      if (rs != rd) parent(rs) = rd
    }
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    while (i < ids.length) {
      val r = find(i).toLong
      val cur = minOfRoot.getOrElse(r, Long.MaxValue)
      if (ids(i) < cur) minOfRoot(r) = ids(i)
      i += 1
    }
    val labels = Array.tabulate(ids.length)(j => (ids(j), minOfRoot(find(j).toLong)))
    spark.createDataset(labels.toIndexedSeq).toDF("id", "comp")
  }

  /** The distributed [[connectedComponents]] rounds over a materialized
    * `(src, dst)` frame of distinct non-self edges: `(id, comp)` for
    * every node on an edge.
    */
  private[graft] def starComponents(pairEdges: DataFrame, maxIter: Int): DataFrame = {
    var edges = pairEdges
    var converged = false
    var iter = 0
    var prevSig: (Long, Long) = null
    while (!converged && iter < maxIter) {
      // large-star: m(u) = min over u's closed neighborhood; each edge
      // {u, v} with v > u is replaced by (v, m(u)). Result invariant:
      // src > dst on every emitted edge, no self-loops.
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val largeMins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      // no distinct here: duplicate (v, m) edges are harmless inside the
      // round (smallMins aggregates them away, the round's final distinct
      // cleans the rest) and dropping it saves one full shuffle per round
      val large = sym.join(largeMins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // small-star: edges are large→small, so min(dst) is the minimum of
      // the strictly-smaller neighborhood; re-attach src and every smaller
      // neighbor to it. Orientation src > dst is preserved.
      val smallMins = large.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val next = large.join(smallMins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(smallMins.select(col("src"), col("m").as("dst")))
        .distinct()
        .materialize
      val sigRow = next
        .agg(count(lit(1)), expr("bit_xor(xxhash64(src, dst))")).head()
      val sig = (sigRow.getLong(0), if (sigRow.isNullAt(1)) 0L else sigRow.getLong(1))
      // The (count, xor-of-hashes) signature alone could collide — or xor
      // could cancel across a symmetric difference of edge sets — and
      // declare convergence on a non-star graph, silently emitting
      // duplicate labels per node. Guard: only trust a signature match
      // after verifying the star invariant itself (runs at most once per
      // true convergence, so the extra job is off the per-round path);
      // a collision just keeps iterating until the real fixpoint.
      converged = sig == prevSig && isStarForest(next)
      prevSig = sig
      edges = next
      iter += 1
    }
    if (!converged && prevSig != null && prevSig._1 > 0) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds; see scaladoc")
    // star fixpoint: every non-root node has exactly one edge (node → root)
    edges.select(col("src").as("id"), col("dst").as("comp"))
      .union(edges.select(col("dst").as("id"), col("dst").as("comp")))
      .distinct()
  }

  /** Star-forest invariant of the large-star/small-star fixpoint: every
    * edge points node→root, so no node may appear on both sides — the
    * src and dst node sets must be disjoint. One semi-join + isEmpty over
    * the already-checkpointed edge frame.
    */
  private[graft] def isStarForest(edges: DataFrame): Boolean =
    edges.select(col("dst").as("n"))
      .join(edges.select(col("src").as("n")), Seq("n"), "left_semi")
      .isEmpty

  /** Keep one representative (min id) per near-dup cluster: every doc not
    * in any pair keeps itself; clustered docs keep the cluster minimum.
    */
  def keepRepresentatives(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    docs.join(comps.withColumnsRenamed(Map("id" -> idCol)), Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn("keep", col(idCol) === min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("component"))))
  }

  /** QUALITY-AWARE representative selection: keep the BEST-scoring doc
    * per near-dup cluster instead of [[keepRepresentatives]]'s min-id —
    * the production dedup policy (min-id keeps whichever copy happened
    * to be crawled first; a curation pipeline wants the highest-quality
    * copy: longest, best Gopher score, most recent). Ties on score break
    * to the smallest id, so the choice is deterministic at any
    * parallelism. Every doc not in any pair keeps itself.
    *
    * `scored` must carry `idCol` and `scoreCol` (higher = better, any
    * numeric type; cast to bigint — pass micro-scaled fixed point for
    * fractional scores). Output: `scored`'s rows plus `component` and
    * `keep`.
    *
    * Scale shape: [[connectedComponents]]' O(log n) star rounds on the
    * PAIR graph only, one join back to the corpus, one per-component
    * max-struct window — same plan class as keepRepresentatives with the
    * argmin key swapped for (score desc, id asc).
    */
  def keepBestRepresentatives(
      scored: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    scored.join(comps.withColumnsRenamed(Map("id" -> idCol)), Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn("__key",
        struct((-col(scoreCol).cast("bigint")).as("ns"), col(idCol).cast("bigint").as("i")))
      .withColumn("keep", col("__key") === min(col("__key")).over(w))
      .drop("__key")
  }

  /** Embedding near-dup pairs: cosine >= threshold. `bucketed=true` prunes
    * the pair space by sign-LSH signature equality (scale path — only
    * near-identical directions collide on all sign bits); `false` is the
    * exact all-pairs reference used by the oracle at test scale.
    */
  def embeddingNearDups(
      emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, bucketed: Boolean = false, lshBits: Int = 16): DataFrame = {
    // cast + norm ONCE per row before the pairwise join; the per-pair work
    // is then a single codegen'd dot product
    val base = emb.select(col(idCol).as("vid"), V.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", V.norm(col("v")))
    val withB =
      if (bucketed) base.withColumn("bucket", V.signLshSignature(col("v"), lshBits))
      else base.withColumn("bucket", lit(0L))
    val a = withB.as("a")
    val b = withB.as("b")
    val joined =
      if (bucketed)
        a.join(b, col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      else a.join(b, col("a.vid") < col("b.vid"))
    joined
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        (V.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Sparse TF-IDF cosine near-dup pairs over an inverted term index —
    * the lexical cousin of [[embeddingNearDups]] for corpora with no
    * embeddings: docs are tf-idf vectors over the df-capped vocabulary
    * (terms in more than `maxDf` docs are stopwords and leave BOTH the
    * numerator and the norms — a true cosine over the filtered
    * vocabulary) and a pair qualifies when cos ≥ p/q, decided by the
    * EXACT integer clear-denominator gate (q93 pattern):
    *
    *   q² · S² ≥ p² · SSa · SSb   (with S > 0)
    *
    * where S = Σ_shared wa·wb, SS = Σ w², w = min(tf, tfCap) ·
    * idf_milli, idf_milli = round(1000·ln((N+1)/(df+1))) — one ln per
    * distinct df, rounded to integer BEFORE any sum (the q74/q82
    * portability pattern), so S and SS are order-independent integer
    * sums any engine reproduces.
    *
    * Numeric window: tfCap ≤ 255 and idf_milli ≤ ~32000 keep w ≤ 8.2e6,
    * so SS and S stay under ~1.2e18 for ≤ 10^4 shared terms and the
    * gate's products stay inside decimal(38,0) exactly. Scale shape:
    * inverted-index equi-join on the term (per-term fan-out df² bounded
    * by the df cap — never all-pairs), one pair-keyed aggregation for S,
    * and a broadcast-sized join of the per-doc SS table.
    */
  def tfidfCosinePairs(
      docs: DataFrame, textCol: String, idCol: String,
      thresholdP: Int = 4, thresholdQ: Int = 5,
      maxDf: Int = 1000, tfCap: Int = 255): DataFrame = {
    require(thresholdP >= 1 && thresholdQ >= 1 && thresholdP <= thresholdQ,
      "threshold p/q must be a fraction in (0, 1]")
    // Gate products: q²·S² and p²·SS_a·SS_b with S, SS ≤ ~1.2e18 (the
    // documented numeric window above), so q²·(1.2e18)² ≤ 10^38 needs
    // q ≤ 8 — beyond that the decimal(38,0) product overflows to NULL
    // (non-ANSI) and qualifying pairs would be silently dropped.
    require(thresholdP <= 8 && thresholdQ <= 8,
      "keep p, q <= 8: the gate computes q^2*S^2 with S up to ~1.2e18, and " +
        "q > 8 pushes the product past decimal(38,0) (overflow -> NULL -> " +
        "silently dropped pairs)")
    require(maxDf >= 1, "maxDf must be >= 1")
    require(tfCap >= 1 && tfCap <= 255, "tfCap in [1, 255] (numeric window)")
    val tf = docs
      .select(col(idCol).as("doc"), explode(T.tokens(col(textCol))).as("tok"))
      .groupBy(col("doc"), col("tok"))
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tf"))
    val n1 = docs.select((count(lit(1)) + 1).as("n1"))
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .crossJoin(broadcast(n1))
      .select(col("tok"),
        round(lit(1000.0) * log(col("n1") / (col("df") + 1))).cast("bigint")
          .as("idf_milli"))
      // ln((N+1)/(df+1)) < 0 would mean df+1 > N+1 — impossible; 0-weight
      // terms (df = N) contribute nothing and are dropped for free
      .filter(col("idf_milli") > 0)
    val w = persistTracked(
      tf.join(dfTab, Seq("tok"))
        .select(col("doc"), col("tok"), (col("tf") * col("idf_milli")).as("w")))
    val ss = w.groupBy(col("doc"))
      .agg(sum((col("w") * col("w")).cast("decimal(38,0)")).as("ss"))
    val s = w.as("a")
      .join(w.as("b"), col("a.tok") === col("b.tok") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(sum((col("a.w") * col("b.w")).cast("decimal(38,0)")).as("s"))
    val p2 = thresholdP.toLong * thresholdP
    val q2 = thresholdQ.toLong * thresholdQ
    s.join(ss.select(col("doc").as("id_a"), col("ss").as("ss_a")), Seq("id_a"))
      .join(ss.select(col("doc").as("id_b"), col("ss").as("ss_b")), Seq("id_b"))
      .filter(col("s") > 0 &&
        lit(q2) * col("s") * col("s") >= lit(p2) * col("ss_a") * col("ss_b"))
      .select(col("id_a"), col("id_b"), col("s").cast("bigint").as("dot"),
        col("ss_a").cast("bigint").as("ss_a"), col("ss_b").cast("bigint").as("ss_b"))
  }

  /** FUZZY equi-join at edit distance <= 1 via deletion neighborhoods
    * (the SymSpell construction): two words are within one
    * insert/delete/substitute iff their deletion neighborhoods — the word
    * itself plus every single-character-deleted variant — intersect
    * (substitution: delete the differing position from both; ins/del: the
    * shorter word IS a deletion of the longer; equality: the word
    * itself). Candidates are therefore an ordinary EQUI-join on deletion
    * keys; a final `levenshtein` check kills the false positives the
    * intersection admits (e.g. "ab"/"ba" share deletions {a, b} at
    * distance 2). Returns distinct (w1, w2, dist in {0, 1}).
    *
    * Scale: each side is distinct-ified to its vocabulary, then exploded
    * to len(w)+1 keys — neighborhood size is word length, independent of
    * corpus size, and the join is hash-partitioned by key with bucket
    * sizes bounded by how many vocabulary words share a deletion (the
    * SymSpell bucket bound), never |vocab|^2. The all-pairs alternative
    * the DuckDB oracle runs is quadratic and only viable at test scale.
    */
  def fuzzyJoinEd1(
      left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String): DataFrame = {
    def keyed(df: DataFrame, c: String, out: String): DataFrame = {
      val w = col(out)
      // deletion variant i (0-based): chars [1..i] ++ chars [i+2..n]
      val dels = transform(sequence(lit(0), length(w) - 1),
        i => concat(w.substr(lit(1), i), w.substr(i + lit(2), length(w) - i - 1)))
      df.select(col(c).as(out)).filter(length(w) >= 1).distinct()
        .select(w, explode(array_distinct(
          concat(array(w), dels))).as("k"))
    }
    keyed(left, leftCol, "w1")
      .join(keyed(right, rightCol, "w2"), Seq("k"))
      .select(col("w1"), col("w2")).distinct()
      .withColumn("dist", levenshtein(col("w1"), col("w2")).cast("bigint"))
      .filter(col("dist") <= 1)
  }

  /** CONTENT-DEFINED CHUNKING (the LBFS/rsync/FastCDC construction):
    * chunk boundaries are placed where the rolling hash of the `window`
    * chars ENDING at a position clears a rarity threshold, so boundaries
    * move WITH the content — inserting a prefix shifts every byte offset
    * but leaves the boundary CONTENT positions (and therefore every
    * interior chunk hash) intact, which fixed-size blocking destroys.
    * This is the storage-layer dedup primitive; the position-based
    * splitter ([[Curation.chunkDocuments]]) answers retrieval, this one
    * answers "which char ranges are literally shared across documents".
    *
    * Mechanics: position `i` (1-based, `window <= i < len`) is a
    * boundary iff the first two hex chars of `md5` of the window ending
    * at `i` compare below `boundaryHex` — expected boundary rate
    * `parseInt(boundaryHex, 16) / 256` (default 8/256 ≈ one per 32
    * chars). md5 instead of a Gear/Rabin table keeps the predicate
    * PORTABLE (the DuckDB oracle computes the identical hex — the q44
    * fingerprint convention). Chunks tile the document exactly:
    * segments between consecutive boundaries, the last chunk closed at
    * the end of the doc; empty docs contribute no rows. Deliberately NO
    * min/max-chunk clamps: a clamp makes boundary k depend on boundary
    * k−1 (a sequential fold over the doc), killing both the map-only
    * array shape and SQL replayability — the rarity threshold plays the
    * min-size role statistically, and the no-boundary tail case closes
    * at doc end.
    *
    * Scale: ONE map-only pass — per-doc arrays (position filter, zip to
    * segments, posexplode), no shuffle, no window function; per-doc work
    * is O(len · window) hashed bytes. Output:
    * `(doc, chunk_no, c_start, chunk_len, chunk_hash)`.
    */
  def cdcChunks(
      docs: DataFrame, textCol: String, idCol: String,
      window: Int = 8, boundaryHex: String = "08"): DataFrame = {
    require(window >= 2, "cdcChunks: window >= 2")
    require(boundaryHex.length == 2 && boundaryHex.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      "cdcChunks: boundaryHex is two lowercase hex chars")
    val t = col("__text")
    docs
      .select(col(idCol).as("doc"), col(textCol).as("__text"))
      .withColumn("__len", length(t))
      // boundary END positions; i = len excluded (an empty final chunk).
      // One compiled pass (TextExprs.CdcBoundaries) — bit-identical to
      // the HOF formulation
      //   filter(sequence(window, len-1), i =>
      //     substring(md5(substring(t, i-window+1, window)), 1, 2) < hex)
      // which interpreted its lambda and built a substring + hex string
      // per character position (ExtensionsSpec pins the equality)
      .withColumn("__bnds",
        org.apache.spark.sql.graftvec.TextExprs
          .cdcBoundariesCol(t, window, boundaryHex))
      .withColumn("__starts",
        concat(array(lit(1)), transform(col("__bnds"), b => b + 1)))
      .withColumn("__ends", concat(col("__bnds"), array(col("__len"))))
      .select(col("doc"), t,
        posexplode(zip_with(col("__starts"), col("__ends"),
          (s, e) => struct(s.as("s"), (e - s + 1).as("n"))))
          .as(Seq("chunk_no", "__c")))
      .filter(col("__c.n") >= 1) // the empty-doc degenerate segment
      .select(col("doc"), col("chunk_no").cast("bigint").as("chunk_no"),
        col("__c.s").cast("bigint").as("c_start"),
        col("__c.n").cast("bigint").as("chunk_len"),
        md5(substring(t, col("__c.s"), col("__c.n"))).as("chunk_hash"))
  }

  /** Cross-document duplicate-chunk coverage over [[cdcChunks]] — the
    * SHIFT-RESISTANT analogue of [[Curation.dupSpans]]: a chunk is
    * duplicated when its `(chunk_hash, chunk_len)` occurs in ≥ 2
    * distinct docs, and each doc reports how much of its text lives in
    * shared chunks. A copy with an inserted prefix still scores ~full
    * coverage (interior boundaries are content-positioned), the case
    * fixed-offset L-gram sampling degrades on. Within-doc repeats do
    * NOT count as duplication (cross-doc df only).
    *
    * Output: `(doc, n_chunks, n_dup_chunks, total_chars, dup_chars,
    * dup_bps)` — exact integers, `dup_bps = (10⁴·dup)DIV total`.
    *
    * Scale: the chunk-frequency table is ONE hash-keyed aggregation
    * with map-side partial combine (boilerplate chunks skew-absorbed
    * exactly like q73's grams), then one equi-join back and one
    * doc-keyed aggregation — never any pairwise comparison.
    */
  /** Incremental [[cdcDedup]]: score a DELTA batch's chunks against a
    * STORED base chunk table plus the delta itself — `delta×base` and
    * `delta×delta`, NEVER `base×base` (the [[minhashNearDupsAgainstBase]]
    * shape applied to content-defined chunks). A delta chunk is
    * `dup_base` when its `(chunk_hash, chunk_len)` exists anywhere in
    * the base table, `dup_delta` when it doesn't but ≥ 2 distinct delta
    * docs share it; `dup_bps` counts both classes. This is the crawl
    * front door's storage-dedup question — "how much of this fetch is
    * already in the corpus, byte-for-byte, regardless of alignment".
    *
    * Output: `(doc, n_chunks, n_dup_chunks, dup_base_chunks,
    * dup_delta_chunks, total_chars, dup_chars, dup_bps)`.
    *
    * Scale: the base side is read ONCE through a key-distinct
    * aggregation (the stored table is corpus-scale and is never
    * persisted here — the r16 against-base caching contract); the
    * delta side is chunked map-only and meets base and its own
    * frequency table through two hash equi-joins keyed by
    * `(chunk_hash, chunk_len)` — join cost tracks the DELTA size.
    * The delta chunk frame is recomputed for its two consumers rather
    * than cached: chunking is one md5 pass over delta text, cheaper
    * than an executor-cache round trip at batch scale.
    */
  def cdcDedupAgainstBase(
      baseChunks: DataFrame, deltaDocs: DataFrame,
      textCol: String, idCol: String,
      window: Int = 8, boundaryHex: String = "08"): DataFrame =
    cdcScoreAgainstBase(baseChunks,
      cdcChunks(deltaDocs, textCol, idCol, window, boundaryHex))

  /** [[cdcDedupAgainstBase]] over an ALREADY-CHUNKED delta frame — the
    * seam the streaming door uses so one chunking pass feeds both the
    * score and the store append. Same output and scale shape. */
  def cdcScoreAgainstBase(
      baseChunks: DataFrame, deltaChunks: DataFrame): DataFrame = {
    val dch = deltaChunks
    val baseKeys = baseChunks
      .select(col("chunk_hash"), col("chunk_len")).distinct()
      .withColumn("__in_base", lit(true))
    val deltaShared = dch
      .groupBy(col("chunk_hash"), col("chunk_len"))
      .agg(countDistinct(col("doc")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("chunk_hash"), col("chunk_len"), lit(true).as("__in_delta"))
    val inBase = coalesce(col("__in_base"), lit(false))
    val inDelta = coalesce(col("__in_delta"), lit(false))
    val isDup = inBase || inDelta
    dch
      .join(baseKeys, Seq("chunk_hash", "chunk_len"), "left")
      .join(deltaShared, Seq("chunk_hash", "chunk_len"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(isDup, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(inBase, 1L).otherwise(0L)).as("dup_base_chunks"),
        sum(when(!inBase && inDelta, 1L).otherwise(0L))
          .as("dup_delta_chunks"),
        sum(col("chunk_len")).as("total_chars"),
        sum(when(isDup, col("chunk_len")).otherwise(0L)).as("dup_chars"))
      .withColumn("dup_bps", expr("(10000 * dup_chars) DIV total_chars"))
  }

  def cdcDedup(
      docs: DataFrame, textCol: String, idCol: String,
      window: Int = 8, boundaryHex: String = "08"): DataFrame = {
    val ch = cdcChunks(docs, textCol, idCol, window, boundaryHex)
    val dup = ch.groupBy(col("chunk_hash"), col("chunk_len"))
      .agg(countDistinct(col("doc")).as("__ndocs"))
      .filter(col("__ndocs") >= 2)
      .select(col("chunk_hash"), col("chunk_len"), lit(true).as("__dup"))
    ch.join(dup, Seq("chunk_hash", "chunk_len"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("chunk_len")).as("total_chars"),
        sum(when(col("__dup"), col("chunk_len")).otherwise(0L))
          .as("dup_chars"))
      .withColumn("dup_bps", expr("(10000 * dup_chars) DIV total_chars"))
  }
}
