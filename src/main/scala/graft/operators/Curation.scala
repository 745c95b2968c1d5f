package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Corpus-curation stages for large-scale training-data pipelines:
  * rule-based quality filtering, deterministic shard assignment ("the
  * global shuffle"), cross-document duplicated-span detection, importance
  * weighting against a target distribution, count-min-sketch heavy
  * hitters, and per-group hash sampling.
  *
  * Every operator is either a map-only projection or a bounded number of
  * keyed aggregations — no driver-side loops, no collected state — and
  * every emitted number is integer (ppm / bps / micro units) or
  * fixed-rounded, so results are bit-identical across engines and across
  * rerun/repartition (the portability contract the DuckDB oracle checks).
  */
object Curation {

  /** First 8 md5 hex chars as a non-negative long in [0, 2^32). */
  private def md5Head8(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  // The eight "required word" stopwords of the Gopher rules (Rae et al.
  // 2021, table A1): a document should contain at least two of these.
  private val RequiredStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality-rule evaluation: per document, the raw signals
    * and one boolean per rule plus the conjunctive `keep`. Signals are
    * integer bps/centi units (10000 bps = 100%, 100 centi = 1 char) so
    * thresholds compare exactly in any engine.
    *
    * Rules (defaults follow the published heuristics, scaled to the test
    * corpus via `minWords`):
    *   - word count in [minWords, maxWords]
    *   - mean word length in [3, 10] chars
    *   - >= 80% of words contain an alphabetic character
    *   - < 90% of lines start with a bullet
    *   - < 30% of lines end with an ellipsis
    *   - >= 2 distinct required stopwords present
    *
    * Map-only: one projection per document, no shuffle — at 100 TB this
    * runs at scan speed and the `keep` predicate pushes into downstream
    * plans as an ordinary column filter.
    */
  def gopherRules(
      docs: DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    docs
      .select(col(idCol).as("doc"), col(textCol).as("txt"))
      .withColumn("w", T.tokens(col("txt")))
      .withColumn("lines", split(col("txt"), "\n", -1))
      // ONE compiled pass over the raw text for the three token counters
      // — tokenization fused in, so the word-rule columns never build the
      // token array (bit-identical to the HOF aggregate + filter/rlike
      // formulation over tokens(); TextExprs scaladoc + CurationSpec pin
      // equality). The per-token interpreted lambda + regex dispatch was
      // the dominant map-side cost of the curation front door's stage-1
      // gate; `w` survives only for the stopword rule, and plans that
      // read just the word flags (the front door) prune it entirely.
      .withColumn("__gs",
        org.apache.spark.sql.graftvec.TextExprs.gopherTextStatsCol(col("txt")))
      .withColumn("n_words", col("__gs").getItem(0))
      .withColumn("n_lines", size(col("lines")).cast("bigint"))
      .withColumn("mean_word_len_centi",
        when(col("n_words") === 0, 0L)
          .otherwise(expr("__gs[1] * 100 DIV n_words")))
      .withColumn("n_alpha_words", col("__gs").getItem(2))
      .withColumn("n_bullet_lines",
        size(filter(col("lines"), l => l.rlike("^\\s*[-*•]"))).cast("bigint"))
      .withColumn("n_ellipsis_lines",
        size(filter(col("lines"), l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("bigint"))
      .withColumn("alpha_word_bps",
        when(col("n_words") === 0, 0L)
          .otherwise(expr("n_alpha_words * 10000 DIV n_words")))
      .withColumn("bullet_line_bps", expr("n_bullet_lines * 10000 DIV n_lines"))
      .withColumn("ellipsis_line_bps", expr("n_ellipsis_lines * 10000 DIV n_lines"))
      .withColumn("req_stopword_hits",
        // array_intersect already returns the distinct intersection
        size(array_intersect(col("w"),
          array(RequiredStopwords.map(lit): _*))).cast("bigint"))
      .withColumn("f_words", col("n_words").between(minWords, maxWords))
      .withColumn("f_mean_len", col("mean_word_len_centi").between(300L, 1000L))
      .withColumn("f_alpha", col("alpha_word_bps") >= 8000L)
      .withColumn("f_bullet", col("bullet_line_bps") < 9000L)
      .withColumn("f_ellipsis", col("ellipsis_line_bps") < 3000L)
      .withColumn("f_stopwords", col("req_stopword_hits") >= 2L)
      .withColumn("keep",
        col("f_words") && col("f_mean_len") && col("f_alpha") &&
          col("f_bullet") && col("f_ellipsis") && col("f_stopwords"))
      .drop("txt", "w", "lines", "__gs", "n_alpha_words", "n_bullet_lines", "n_ellipsis_lines")
  }

  /** The WORD-RULE conjunction of [[gopherRules]] (f_words ∧ f_mean_len
    * ∧ f_alpha, with NULL text reading FALSE) as one map expression over
    * the raw text — the exact rule arithmetic of the flag columns above,
    * shared so the curation front door's stage-1 gate
    * ([[CurationFunnel.decide]]) cannot drift from the reported flags
    * (the q285 oracle and CurationFunnelReplicaSpec both replay this
    * arithmetic). One [[org.apache.spark.sql.graftvec.TextExprs]]
    * GopherTextStats pass per document, no token array, no join.
    */
  def gopherWordGate(text: Column, minWords: Int, maxWords: Int): Column = {
    require(minWords >= 1, "gopherWordGate: minWords >= 1 (the division-" +
      "free rewrite relies on n >= 1 whenever the word-count flag holds)")
    val gs = org.apache.spark.sql.graftvec.TextExprs.gopherTextStatsCol(text)
    val n = gs.getItem(0)
    val s = gs.getItem(1)
    val a = gs.getItem(2)
    // division-free exact rewrites of the flag arithmetic (conjunction-
    // equivalent because f_words pins n >= minWords >= 1):
    //   floor(100·s DIV n) ∈ [300, 1000] ⟺ 100s ≥ 300n ∧ 100s < 1001n
    //   floor(10000·a DIV n) ≥ 8000     ⟺ 10000a ≥ 8000n ⟺ 5a ≥ 4n
    coalesce(
      n.between(minWords.toLong, maxWords.toLong) &&
        s * 100L >= n * 300L && s * 100L < n * 1001L &&
        a * 5L >= n * 4L,
      lit(false))
  }

  /** RELATIVE length gate: keep documents whose token count lies inside
    * their OWN source's [loBps, hiBps] discrete length percentiles — the
    * per-source outlier trim that [[gopherRules]]' absolute min/max words
    * cannot express (a 50-word doc is normal in a chat source and an
    * outlier in a books source). Percentiles are the standard discrete
    * rank definition (min value with cumulative count ≥ ceil(p·n) — the
    * q81 convention), computed from the per-source LENGTH HISTOGRAM, so
    * the cumulative window is partitioned per source and bounded by
    * length resolution, never corpus size; the ≤|sources|·2 cut table
    * broadcasts back over the doc frame. Exact integers throughout
    * (`10000·cum ≥ bps·n` ⟺ `cum ≥ ceil(bps·n/10000)`).
    * Emits `(doc, src, n_tokens, lo_len, hi_len, keep)`.
    */
  def lengthPercentileGate(
      docs: DataFrame, textCol: String, idCol: String, groupCol: String,
      loBps: Int = 500, hiBps: Int = 9500): DataFrame = {
    require(loBps >= 0 && hiBps <= 10000 && loBps <= hiBps,
      "need 0 <= loBps <= hiBps <= 10000")
    val lens = docs.select(col(idCol).as("doc"), col(groupCol).as("src"),
      size(T.tokens(col(textCol))).cast("bigint").as("n_tokens"))
    val hist = lens.groupBy(col("src"), col("n_tokens"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("src")).orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("src"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("src"))
      .agg(
        min(when(col("cum") * 10000 >= lit(loBps.toLong) * col("n"),
          col("n_tokens"))).as("lo_len"),
        min(when(col("cum") * 10000 >= lit(hiBps.toLong) * col("n"),
          col("n_tokens"))).as("hi_len"))
    lens.join(broadcast(cuts), Seq("src"))
      .select(col("doc"), col("src"), col("n_tokens"),
        col("lo_len"), col("hi_len"),
        col("n_tokens").between(col("lo_len"), col("hi_len")).as("keep"))
  }

  /** Deterministic corpus sharding — the "global training shuffle" without
    * a global sort: shard = md5(id) mod `nShards`, position within the
    * shard = rank by the full md5 value. Because the order key is a hash
    * of the id, within-shard order is pseudo-random yet rerun-stable, and
    * adding documents never reorders existing ones relative to each other.
    *
    * Scale: one hash-partitioned shuffle on `shard` and a per-shard sort —
    * each shard sorts independently (no single global ordering barrier),
    * which is exactly how a 1000-executor job writes N shuffled output
    * shards. Writer side would be `.repartition(col("shard"))
    * .sortWithinPartitions("pos")`.
    */
  def corpusShards(df: DataFrame, idCol: String, nShards: Int = 64): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc"))
    df.select(col(idCol).as("doc"), md5(col(idCol).cast("string")).as("h"))
      .withColumn("shard", md5Head8(col("doc")) % nShards)
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select(col("doc"), col("shard"), col("pos"))
  }

  /** Cross-document duplicated-span detection (the exact-substring-dedup
    * signal): character L-grams sampled every `stride` characters, keyed
    * by md5; a gram is "duplicated" when it occurs in >= 2 distinct
    * documents. Per document: sampled gram count, duplicated gram count,
    * and duplicated fraction in bps.
    *
    * Scale design: `stride` bounds the blowup to len/stride rows per doc
    * (stride 1 = full suffix coverage, the classic exact-substring dedup;
    * stride L = disjoint blocks). Grouping keys are fixed-width md5
    * digests, never the raw grams, so shuffle rows stay small. The plan
    * reads the corpus ONCE: positions collapse to (gram, doc) counts
    * (partial aggregation absorbs within-doc repetition map-side), the
    * per-gram document frequency is a window count over the already
    * doc-distinct rows — no self-join, no second scan — and the final
    * per-doc rollup is one more keyed aggregation.
    *
    * Position enumeration materializes a per-row `sequence` of
    * len/stride ints before exploding — fine for web-scale documents
    * (1 MB text at stride 8 is a 125k-element array), but callers
    * feeding multi-hundred-MB blobs should pre-split them (e.g. with
    * [[DataPrep.chunkTokens]]) so no single row carries a giant array.
    */
  def dupSpans(
      docs: DataFrame, textCol: String, idCol: String,
      gramLen: Int = 32, stride: Int = 8): DataFrame = {
    require(gramLen >= 1 && stride >= 1, "need gramLen >= 1 and stride >= 1")
    // one codegen'd linear pass per document: per-position
    // `md5(substr(txt, i, L))` pays an O(position) codepoint seek per
    // gram (quadratic on a multi-MB doc); CharGramMd5 walks the byte
    // offsets once and digests each window's byte range directly
    val grams = docs
      .select(col(idCol).as("doc"), col(textCol).as("txt"), length(col(textCol)).as("n"))
      .filter(col("n") >= gramLen)
      .select(col("doc"), explode(
        org.apache.spark.sql.graftvec.TextExprs.charGramMd5Col(
          col("txt"), gramLen, stride)).as("g"))
    // one row per (gram, doc) -> count(*) over the gram partition IS the
    // distinct-document frequency of that gram
    val perDocGram = grams.groupBy(col("g"), col("doc")).agg(count(lit(1)).as("c"))
    val byGram = Window.partitionBy(col("g"))
    perDocGram
      .withColumn("gdocs", count(lit(1)).over(byGram))
      .groupBy(col("doc"))
      .agg(
        sum(col("c")).as("n_grams"),
        sum(when(col("gdocs") >= 2, col("c")).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_bps", expr("dup_grams * 10000 DIV n_grams"))
  }

  /** EXACT-SUBSTRING DEDUPLICATION (the remove transform): delete every
    * character span that duplicates text in another document — the
    * distributed analogue of suffix-array exact-substring dedup from the
    * "Deduplicating Training Data" line of work. [[dupSpans]] measures;
    * this rewrites.
    *
    * Keeper semantics (pinned by the brute-force reference test): each
    * GRAM survives in its minimum doc id. That preserves one copy of a
    * duplicated span corpus-wide only when no OVERLAPPING span keyed to
    * a different (smaller-id) keeper covers it inside the keeper doc —
    * when two duplicated regions with different keepers overlap, the
    * overlap is removed in both and zero full copies of the combined
    * region may survive. This matches the reference span-union
    * semantics; a guaranteed-one-copy variant would need gram-level
    * tie-breaking across keepers (quadratic in overlap structure).
    *
    * Pipeline (all relational, no per-character explosion):
    *  1. stride-1 char L-grams keyed by md5 — the L-fold row blowup is
    *     the honest cost of complete coverage (suffix arrays pay the
    *     same factor in index space); run it AFTER cheaper dedup stages.
    *     Cost is LINEAR in document bytes (one CharGramMd5 pass): an
    *     N-char doc yields ~N gram rows — a 4 MB document among 200
    *     small ones measured ~0.5 s at local[32], and a 2 MB one
    *     ~11 s even at local[4] test settings
    *     (CurationSpec pins the no-single-task-blowup bound; the
    *     (g, doc) partial aggregation absorbs the per-doc key skew
    *     map-side)
    *  2. per gram: document frequency + keeper (min doc id)
    *  3. removable positions (df >= 2, doc != keeper) merge into maximal
    *     spans via gaps-and-islands: a running max of span ends splits
    *     islands, one window pass per doc
    *  4. reconstruction stitches the BETWEEN-island segments with a
    *     zip_with over (starts, ends) cut points — islands per doc is
    *     small, so this is array work on materialized columns, never a
    *     char-level join
    *
    * Returns (doc, n_spans, chars_removed, clean_text); docs shorter
    * than `gramLen` (or with nothing duplicated) pass through unchanged.
    */
  def removeDupSpans(
      docs: DataFrame, textCol: String, idCol: String,
      gramLen: Int = 32): DataFrame = {
    require(gramLen >= 1, "gramLen must be >= 1")
    val base = docs.select(col(idCol).as("doc"), col(textCol).as("txt"),
      length(col(textCol)).as("n"))
    // the gram index feeds both the keeper aggregation and the join-back;
    // persist it (tracked — [[Dedup.releaseCaches]]) so the L-fold
    // explode+hash runs once, like the other dedup indexes
    // posexplode of the one-pass CharGramMd5 array (stride 1): window w
    // covers codepoints [w, w+L), i.e. 1-based position i = w + 1. The
    // per-position substr formulation re-seeks codepoint i from the
    // string head for every gram — O(len^2) bytes on a large document
    // (a 2 MB doc = ~2 TB scanned); the expression is O(len * L).
    val grams = Dedup.persistTracked(base
      .filter(col("n") >= gramLen)
      .select(col("doc"), posexplode(
        org.apache.spark.sql.graftvec.TextExprs.charGramMd5Col(
          col("txt"), gramLen, 1)).as(Seq("w", "g")))
      .select(col("doc"), (col("w") + 1).as("i"), col("g")))
    val keepers = grams.groupBy(col("g"))
      .agg(count_distinct(col("doc")).as("gdocs"), min(col("doc")).as("keeper"))
    val removable = grams.join(keepers, Seq("g"))
      .filter(col("gdocs") >= 2 && col("doc") =!= col("keeper"))
      .select(col("doc"), col("i"))
    // gaps-and-islands: a position starts a new island iff it lies beyond
    // every previous span's end (exclusive), so overlapping AND adjacent
    // spans merge into one maximal island
    val byDoc = Window.partitionBy(col("doc")).orderBy(col("i"))
    val prevEnd = max(col("i") + gramLen).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = removable
      .withColumn("newi", when(col("i") > coalesce(prevEnd, lit(-1)), 1L).otherwise(0L))
      .withColumn("isl", sum(col("newi")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc"), col("isl"))
      .agg(min(col("i")).as("s"), (max(col("i")) + gramLen).as("e"))
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    base
      .join(islands, Seq("doc"), "left")
      .withColumn("spans",
        coalesce(col("spans"), array().cast("array<struct<s:int,e:int>>")))
      .withColumn("starts",
        concat(array(lit(1)), transform(col("spans"), p => p.getField("e"))))
      .withColumn("ends",
        concat(transform(col("spans"), p => p.getField("s")), array(col("n") + 1)))
      .withColumn("segs",
        zip_with(col("starts"), col("ends"), (st, en) => col("txt").substr(st, en - st)))
      .select(
        col("doc"),
        size(col("spans")).cast("bigint").as("n_spans"),
        coalesce(aggregate(col("spans"), lit(0L), (acc, p) =>
          acc + (p.getField("e") - p.getField("s"))), lit(0L)).as("chars_removed"),
        array_join(col("segs"), "").as("clean_text"))
  }

  /** BIGRAM-LM quality scoring (the CCNet shape: score each document's
    * fluency under a language model trained on a trusted target slice;
    * low average negative-log-likelihood ≈ target-like text, high ≈
    * gibberish/boilerplate). The model is add-1-smoothed bigram
    * conditionals over the `targetPred` documents:
    * P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), V = distinct second-token
    * vocabulary; unseen bigrams/starts fall through the same formula via
    * coalesce(0). Scores are per-bigram micro-unit integers
    * (round(-ln P * 1e6)) summed exactly, so per-doc totals are
    * order/partition independent; the one ln() per distinct (doc,
    * bigram) carries the same 1-ulp libm caveat as [[importanceWeights]]
    * (corpus-validated per SF by the oracle gate).
    *
    * Scale: one bigram explode, one (doc, bigram) aggregation (the tf
    * frame is persisted — tracked by [[Dedup.releaseCaches]] — because
    * it feeds both the model build and the scoring join), two
    * bigram-keyed model aggregations, one scoring join, one doc rollup.
    * Documents shorter than 2 tokens have no bigrams and are omitted.
    * Returns (doc, n_bigrams, nll_micro_total, avg_nll_micro).
    */
  def bigramNll(
      docs: DataFrame, textCol: String, idCol: String,
      targetPred: Column): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc"), targetPred.as("is_target"),
        T.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("w1s", slice(col("w"), lit(1), size(col("w")) - 1))
      .withColumn("w2s", slice(col("w"), lit(2), size(col("w")) - 1))
      .select(col("doc"), col("is_target"),
        explode(arrays_zip(col("w1s"), col("w2s"))).as("z"))
      .select(col("doc"), col("is_target"),
        col("z.w1s").as("w1"), col("z.w2s").as("w2"))
    val tf = Dedup.persistTracked(
      base.groupBy(col("doc"), col("is_target"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("tf")))
    val cb = tf.filter(col("is_target"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("cb"))
    val cs = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cs"))
    val v = cb.agg(count_distinct(col("w2")).as("v"))
    tf
      .join(cb, Seq("w1", "w2"), "left")
      .join(cs, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("nll_micro", expr(
        "CAST(round(-ln((coalesce(cb, 0L) + 1.0) / (coalesce(cs, 0L) + v)) * 1e6) AS BIGINT)"))
      .groupBy(col("doc"))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("nll_micro")).as("nll_micro_total"))
      .withColumn("avg_nll_micro", expr("nll_micro_total DIV n_bigrams"))
  }

  /** LINE-LEVEL exact deduplication (boilerplate removal at sub-document
    * granularity, the RefinedWeb/C4 preprocessing shape): a line whose
    * content is at least `minLen` chars survives only at its corpus-wide
    * FIRST occurrence — smallest doc id, then smallest line index within
    * that doc; shorter lines (headings, separators, blanks) always pass,
    * so document structure survives. Returns
    * (doc, n_lines, n_removed, clean_text).
    *
    * Scale design: explode to (doc, idx, line); the first-occurrence
    * key per line content is `min(doc * 2^31 + idx)` — an AGGREGATION,
    * not a window, so a boilerplate line occurring millions of times
    * partial-aggregates map-side instead of landing in one hot window
    * partition; one content-keyed join back (the line frame is computed
    * on both join sides — re-scanning the corpus beats caching
    * line-grain data at scale, and AQE broadcasts the aggregated firsts
    * side when it is small); one doc-keyed rebuild.
    * Requires doc ids < 2^32 and < 2^31 lines/doc (the exact integer
    * first-key encoding; ANSI mode throws loudly on overflow rather than
    * mis-keying).
    */
  def dedupLines(
      docs: DataFrame, textCol: String, idCol: String, minLen: Int = 20): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    val lines = docs.select(col(idCol).as("doc"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("idx", "line")))
    def key(d: Column, i: Column): Column = d * lit(1L << 31) + i
    val firsts = lines
      .filter(length(col("line")) >= minLen)
      .groupBy(col("line"))
      .agg(min(key(col("doc"), col("idx"))).as("first_key"))
    lines
      .join(firsts, Seq("line"), "left")
      .withColumn("keep",
        col("first_key").isNull || key(col("doc"), col("idx")) === col("first_key"))
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("line"))))),
          s => s.getField("line"))).as("clean_text"))
  }

  /** BOILERPLATE line removal by within-group document frequency (the
    * RefinedWeb/CCNet "repeated lines across a domain are chrome"
    * heuristic): a line whose content is at least `minLen` chars and
    * occurs in at least `maxDocs` DISTINCT documents of the same group
    * (site / source / domain) is removed from EVERY document — unlike
    * [[dedupLines]], which keeps the first occurrence, boilerplate has no
    * keeper: navigation bars and cookie banners carry no training signal
    * anywhere. Sub-`minLen` lines (headings, separators, blanks) always
    * pass. Returns (doc, n_lines, n_removed, clean_text).
    *
    * Scale design: explode to (doc, grp, idx, line); the line-df table is
    * one (grp, line)-keyed count-distinct aggregation (planned as two
    * hash aggregations — a banner occurring millions of times
    * partial-aggregates map-side, no hot partition); one content-keyed
    * join back (AQE broadcasts the df side when the boilerplate set is
    * small, which it is — df >= maxDocs lines are by definition few
    * distinct strings); one doc-keyed rebuild. No windows anywhere.
    */
  def removeBoilerplate(
      docs: DataFrame, textCol: String, idCol: String, groupCol: String,
      minLen: Int = 20, maxDocs: Long = 2): DataFrame = {
    require(minLen >= 1 && maxDocs >= 2, "need minLen >= 1 and maxDocs >= 2")
    val lines = docs.select(col(idCol).as("doc"), col(groupCol).as("grp"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("idx", "line")))
    val boiler = lines
      .filter(length(col("line")) >= minLen)
      .groupBy(col("grp"), col("line"))
      .agg(count_distinct(col("doc")).as("ldf"))
      .filter(col("ldf") >= maxDocs)
      .select(col("grp"), col("line"), lit(true).as("bp"))
    lines
      .join(boiler, Seq("grp", "line"), "left")
      .withColumn("keep", col("bp").isNull)
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("line"))))),
          s => s.getField("line"))).as("clean_text"))
  }

  /** DSIR-style importance weights: score each document by the summed
    * log-likelihood ratio of its tokens under a target unigram model vs
    * the full-corpus model (add-1 smoothing over the corpus vocabulary).
    * Documents whose vocabulary looks like the target (e.g. lang = 'en')
    * score high; importance resampling keeps documents proportionally.
    *
    * Portability: the per-token ratio is fixed-pointed to micro units
    * once (`round(llr * 1e6)` as i64), and the per-document score is an
    * exact integer SUM of tf * llr_micro — associative, so any shuffle
    * or partitioning order yields bit-identical totals (the
    * round(avg(double)) trap documented in q50 cannot occur). One
    * residual cross-engine caveat: the single ln() evaluation per vocab
    * term could differ by 1 ulp between libm implementations, flipping
    * llr_micro by 1 when the product lands within an ulp of a .5
    * boundary — same acknowledged risk class as q69's rounded-ln scores;
    * corpus-validated per SF by the oracle gate.
    *
    * Scale: two token-keyed aggregations (corpus model, target model),
    * three broadcast scalars, one join of the per-doc tf table against
    * the (vocabulary-sized) model table, one final doc-keyed sum. The tf
    * table feeds both the model and the final join, so it is persisted
    * (tracked — [[Dedup.releaseCaches]] frees it) rather than re-scanning
    * and re-tokenizing the corpus for each branch.
    */
  def importanceWeights(
      docs: DataFrame, textCol: String, idCol: String,
      targetPred: Column): DataFrame = {
    val tf = Dedup.persistTracked(docs
      .select(col(idCol).as("doc"), targetPred.as("is_target"),
        explode(T.tokens(col(textCol))).as("tok"))
      .groupBy(col("doc"), col("is_target"), col("tok"))
      .agg(count(lit(1)).as("tf")))
    val model = tf.groupBy(col("tok"))
      .agg(
        sum(col("tf")).as("cs"),
        sum(when(col("is_target"), col("tf")).otherwise(0L)).as("ct"))
    val totals = model.agg(
      sum(col("cs")).as("ns"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    val llr = model.crossJoin(broadcast(totals))
      .withColumn("llr_micro",
        round((log((col("ct") + 1.0) / (col("nt") + col("v"))) -
          log((col("cs") + 1.0) / (col("ns") + col("v")))) * 1e6).cast("bigint"))
      .select(col("tok"), col("llr_micro"))
    tf.join(llr, Seq("tok"))
      .groupBy(col("doc"))
      .agg(
        sum(col("tf")).as("n_tok"),
        sum(col("tf") * col("llr_micro")).as("weight_micro"))
  }

  /** Count-min-sketch heavy hitters: build a depth x width integer sketch
    * of token frequencies, then report every token whose EXACT count is
    * >= `minCount` together with its sketch estimate (always >= exact;
    * the gap measures collision error at this width).
    *
    * Scale story: the sketch is a fixed depth*width cell table regardless
    * of corpus size — cells are built from the per-token count table
    * (distinct tokens, not token occurrences) and are mergeable across
    * partitions/days by cell-wise addition, which is why CMS is the
    * standard streaming/dataset-cardinality sketch at 100 TB. Hash j of a
    * token is an md5 of "j:token", so the whole sketch is engine-portable.
    */
  def cmsHeavyHitters(
      docs: DataFrame, textCol: String, idCol: String,
      depth: Int = 4, width: Int = 1024, minCount: Long = 100L): DataFrame = {
    require(depth >= 1 && width >= 1, "need depth >= 1 and width >= 1")
    // feeds both the sketch cells and the candidate set: persist the
    // vocabulary-sized count table instead of scanning the corpus twice
    // (tracked — [[Dedup.releaseCaches]] frees it)
    val exact = Dedup.persistTracked(docs
      .select(explode(T.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact")))
    // one bucketed projection feeds both the sketch and the candidate
    // probe (the shape the q75 oracle's single jb CTE models)
    val jb = exact
      .select(col("tok"), col("exact"),
        explode(array((0 until depth).map(j =>
          struct(lit(j).as("j"), cmsBucket(col("tok"), j, width).as("b"))): _*)).as("jb"))
      .select(col("tok"), col("exact"), col("jb.j").as("j"), col("jb.b").as("b"))
    val cells = jb
      .groupBy(col("j"), col("b"))
      .agg(sum(col("exact")).as("cell"))
    val candidates = jb.filter(col("exact") >= minCount)
    candidates
      .join(broadcast(cells), Seq("j", "b"))
      .groupBy(col("tok"), col("exact"))
      .agg(min(col("cell")).as("cms_est"))
  }

  /** CMS bucket of `tok` for hash row `j` (md5 of "j:token" mod width).
    * Public so streaming jobs can build the same sketch incrementally:
    * cells are plain sums, so a streaming groupBy((j, bucket)).count IS a
    * running CMS whose state never exceeds depth*width rows, and
    * per-batch/per-day sketches merge by cell-wise addition.
    */
  def cmsBucket(tok: Column, j: Int, width: Int): Column =
    md5Head8(concat(lit(s"$j:"), tok)) % width

  /** Temperature-based corpus mixing: sample each source at a rate
    * proportional to n_source^alpha with alpha = 1/2 (the multilingual /
    * multi-corpus "temperature sampling" rule — small sources are
    * upsampled relative to their share, large sources downsampled), scaled
    * so the expected kept total is `targetFrac` of the corpus, capped at
    * rate 1. Acceptance is a deterministic md5 coin per document, so the
    * sample is rerun-stable and adding documents never flips existing
    * decisions.
    *
    * Portability: alpha is fixed at 1/2 because IEEE-754 sqrt is exactly
    * rounded (a general pow() is not) — every weight, the left-to-right
    * source-ordered weight total, and each rate divide is then the same
    * f64 in any engine, and the acceptance compare (md5 head / 2^32 <
    * rate) is exact. Returns every document with its (src, rate_ppm,
    * keep) so downstream stages filter on `keep`.
    *
    * Scale: one tiny per-source count aggregate, a broadcast of the
    * (sources x rates) table, then a map-only coin flip per document —
    * no shuffle of the corpus at any width.
    */
  def temperatureMix(
      docs: DataFrame, idCol: String, sourceCol: String,
      targetFrac: Double = 0.5): DataFrame = {
    require(targetFrac > 0.0 && targetFrac <= 1.0, "need 0 < targetFrac <= 1")
    val counts = docs.groupBy(col(sourceCol).as("src"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("w", sqrt(col("n_src").cast("double")))
    // weight total folded left-to-right in src order: f64 addition is not
    // associative, so the fold order is part of the cross-engine contract
    val totals = counts.agg(
      sum(col("n_src")).as("n_total"),
      aggregate(
        array_sort(collect_list(struct(col("src"), col("w")))),
        lit(0.0), (a, x) => a + x.getField("w")).as("w_total"))
    val rates = counts.crossJoin(broadcast(totals))
      .withColumn("rate",
        least(lit(1.0),
          ((lit(targetFrac) * col("n_total")) * col("w")) /
            (col("w_total") * col("n_src"))))
      .select(col("src"), col("rate"),
        floor(col("rate") * 1e6).cast("bigint").as("rate_ppm"))
    docs.select(col(idCol).as("doc"), col(sourceCol).as("src"))
      .join(broadcast(rates), Seq("src"))
      // salted coin so the decision is independent of the other md5(id)
      // derivations (shards, group samples) over the same corpus
      .withColumn("u",
        md5Head8(concat(lit("mix:"), col("doc").cast("string"))) / lit(4294967296.0))
      .select(col("doc"), col("src"), col("rate_ppm"),
        (col("u") < col("rate")).cast("bigint").as("keep"))
  }

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES):
    * the `k` documents with the largest u^(1/w) — equivalently the
    * largest ln(u)/w, which is what is computed — where u is a
    * deterministic per-document uniform in (0, 1] (salted md5 head, so
    * the draw is content-independent, rerun-stable, and independent of
    * the other md5(id) derivations over the same corpus) and w > 0 is
    * the document's weight (quality score, token count, source boost).
    * This IS the weighted-sample-without-replacement distribution: doc i
    * enters the sample with the probability it would under sequential
    * weighted draws. Rows with w <= 0 or null are never sampled.
    *
    * Portability: the key is fixed-pointed to nano units
    * (round(ln(u)/w * 1e9) as i64) so the ORDER — not just the values —
    * is integer-comparable in any engine; ties (same nano key) break by
    * doc id. The one ln() per document carries the usual 1-ulp libm
    * caveat (same acknowledged class as q69/q74/q82), corpus-validated
    * per SF by the oracle gate.
    *
    * Scale: a map-only key computation followed by a global top-k —
    * Spark plans orderBy+limit as TakeOrderedAndProject (per-partition
    * heaps, k rows shipped per partition, no global sort). Returns
    * (doc, w, key_nano, rk) for the k winners.
    */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = (md5Head8(concat(lit("wsample:"), col("doc").cast("string"))) + 1L) /
      lit(4294967296.0)
    // filter BEFORE the key projection: with w = 0 the key would be
    // -Infinity and ANSI mode throws on its bigint cast
    val keyed = df
      .select(col(idCol).as("doc"), col(weightCol).cast("double").as("w"))
      .filter(col("w") > 0.0)
      .withColumn("key_nano", round((log(u) / col("w")) * 1e9).cast("bigint"))
      .orderBy(col("key_nano").desc, col("doc"))
      .limit(k)
    // rank assignment runs over k rows only — the single-partition window
    // is bounded by k, never by the corpus
    keyed.withColumn("rk",
      row_number().over(Window.orderBy(col("key_nano").desc, col("doc")))
        .cast("bigint"))
  }

  /** Deterministic per-group sample: the `k` documents with the smallest
    * md5(id) per group — statistically a uniform k-sample (the hash is
    * content-independent), operationally superior to reservoir sampling
    * at scale because it is stateless, rerun-stable, and parallelizes as
    * an ordinary per-group top-k (rank + filter; Spark plans it with a
    * PARTIAL WindowGroupLimit before the shuffle, so each partition ships
    * at most k rows per group — shuffle volume is bounded by k * groups
    * no matter the corpus size). Growing the corpus perturbs the sample
    * minimally: a new doc displaces at most one existing member per group.
    */
  def groupHashSample(
      df: DataFrame, idCol: String, groupCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col("grp")).orderBy(col("h"), col("doc"))
    df.select(col(idCol).as("doc"), col(groupCol).as("grp"),
        md5(col(idCol).cast("string")).as("h"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select(col("doc"), col("grp"), col("rk"))
  }

  /** TOKEN-BUDGET CORPUS SELECTION: keep documents in quality order
    * (score ascending = best first, id breaking ties) until the running
    * token total would exceed `budget` — "take the best N tokens", the
    * final cut every training-data pipeline makes. A document is kept
    * iff its INCLUSIVE running total is <= budget (documents after the
    * first overflow are all dropped, even small ones — the cut is a
    * prefix of the quality ordering, not a knapsack).
    *
    * Scale design — NO GLOBAL SORT: a naive cumulative-sum window over
    * the total order runs in ONE task. Instead the score is quantized
    * into buckets (`bucketScale`: bucket = floor(score * bucketScale),
    * monotone in score, so bucket order refines score order):
    *   1. per-bucket token totals (one hash aggregation, tiny result),
    *   2. running totals ACROSS buckets via a window over the bucket
    *      frame — rows = distinct buckets, not documents,
    *   3. per-document running totals WITHIN each bucket (window
    *      partitioned by bucket — parallel across buckets) + the
    *      bucket's prefix offset.
    * Single-task work is bounded by the largest bucket, which
    * `bucketScale` controls — the classic two-level prefix-sum. The
    * result is IDENTICAL to the naive global cumulative sum (the oracle
    * states it that way).
    *
    * Returns (doc, n_tokens, score, keep) — one row per input document.
    */
  def tokenBudgetSelect(
      df: DataFrame, idCol: String, scoreCol: String, tokensCol: String,
      budget: Long, bucketScale: Double = 1.0): DataFrame = {
    require(budget >= 0 && bucketScale > 0, "need budget >= 0, bucketScale > 0")
    val d = df.select(
      col(idCol).as("doc"), col(tokensCol).cast("bigint").as("n_tokens"),
      col(scoreCol).as("score"),
      floor(col(scoreCol) * lit(bucketScale)).cast("bigint").as("b"))
    // tokens BEFORE bucket b: window over the per-bucket aggregate (rows
    // = distinct buckets; its single-partition sort is over that tiny
    // frame, never the corpus)
    val wb = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = d.groupBy(col("b")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("before", coalesce(sum(col("bt")).over(wb), lit(0L)))
      .select(col("b"), col("before"))
    val wd = Window.partitionBy(col("b")).orderBy(col("score"), col("doc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    d.join(broadcast(prefixes), Seq("b"))
      .withColumn("running", col("before") + sum(col("n_tokens")).over(wd))
      .select(col("doc"), col("n_tokens"), col("score"),
        (col("running") <= budget).as("keep"))
  }

  /** SEQUENCE PACKING (concat-and-chunk): lay documents end to end in a
    * deterministic pseudo-random order and cut the stream into
    * fixed-`contextLen` training windows — the step between a curated
    * corpus and a pretraining dataloader. Emits one row per document:
    * its shard, its exclusive token offset within the shard's stream,
    * and the first/last window it lands in (`first_bin`..`last_bin` —
    * documents longer than the remaining window space SPAN windows, the
    * standard causal-LM packing; a loader that drops boundary-crossing
    * docs filters `n_bins > 1`).
    *
    * Determinism: the concatenation order is the [[corpusShards]] order
    * (shard = md5 mod nShards, within-shard order by full md5 then id) —
    * rerun-, partitioning-, and engine-stable, and adding documents
    * never reorders existing pairs within a shard.
    *
    * Scale design — NO GLOBAL PREFIX SUM: offsets are per-shard (each
    * shard is an independent token stream with its own window numbering,
    * exactly how a 1000-executor writer emits N dataloader files), so
    * the plan is one hash shuffle on shard + per-shard sort; single-task
    * work is bounded by the largest shard, which `nShards` controls.
    * Zero- or negative-token documents fail loudly — they would
    * silently corrupt every later offset in their shard.
    */
  /** SLIDING-WINDOW document chunking — the retrieval/indexing splitter
    * next to [[packSequences]]'s training packer: each document cuts
    * into windows of `chunkLen` tokens advancing by `stride`
    * (`stride < chunkLen` ⇒ overlap, so a fact straddling a boundary
    * appears whole in SOME chunk — the property retrieval needs and
    * plain splitting loses). Output: one row per chunk —
    * `(doc, chunk_idx, tok_start, n_tok, chunk_text)` with token-exact
    * offsets and the chunk text rebuilt by joining the window's tokens.
    *
    * Chunk count per doc: `1 + ceil(max(0, n − chunkLen)/stride)` — the
    * final window is allowed to be short rather than dropping tail
    * tokens (a truncating splitter silently loses up to chunkLen−1
    * tokens per doc, which on a billion documents is a corpus).
    *
    * Scale shape: map-only — tokens staged once per row, a bounded
    * `sequence` explode per doc (fan-out = chunk count, linear in doc
    * length), `slice` + `array_join` per chunk. No shuffle anywhere.
    */
  def chunkDocuments(
      docs: DataFrame, textCol: String, idCol: String,
      chunkLen: Int, stride: Int): DataFrame = {
    require(chunkLen >= 1, "chunkDocuments: chunkLen >= 1")
    require(stride >= 1 && stride <= chunkLen,
      "chunkDocuments: stride in [1, chunkLen] (gaps would drop tokens)")
    docs.select(col(idCol).cast("bigint").as("doc"),
        T.tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0),
        expr(s"CAST((greatest(__n - $chunkLen, 0) + ${stride - 1}) DIV $stride AS INT)"))))
      .withColumn("tok_start", col("chunk_idx") * lit(stride))
      // safety net: with stride <= chunkLen the ceil bound provably keeps
      // every start inside the doc, but an empty window must never leak
      .filter(col("tok_start") < col("__n"))
      .select(col("doc"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        col("tok_start").cast("bigint").as("tok_start"),
        least(lit(chunkLen), col("__n") - col("tok_start")).cast("bigint")
          .as("n_tok"),
        array_join(slice(col("__t"), col("tok_start") + 1, lit(chunkLen)), " ")
          .as("chunk_text"))
  }

  def packSequences(
      df: DataFrame, idCol: String, tokensCol: String,
      contextLen: Long, nShards: Int = 64): DataFrame = {
    require(contextLen >= 1, "contextLen must be >= 1")
    require(nShards >= 1, "nShards must be >= 1")
    val d = df.select(col(idCol).as("doc"),
        col(tokensCol).cast("bigint").as("n_tokens"),
        md5(col(idCol).cast("string")).as("h"))
      .withColumn("n_tokens", when(col("n_tokens") >= 1, col("n_tokens"))
        .otherwise(raise_error(concat(lit("packSequences: doc "),
          col("doc").cast("string"), lit(" has non-positive token count")))))
      .withColumn("shard", md5Head8(col("doc")) % nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    d.withColumn("off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("first_bin", expr(s"off DIV $contextLen"))
      .withColumn("last_bin", expr(s"(off + n_tokens - 1) DIV $contextLen"))
      .select(col("doc"), col("shard"), col("n_tokens"), col("off"),
        col("first_bin"), col("last_bin"),
        (col("last_bin") - col("first_bin") + 1).as("n_bins"))
  }

  /** LARGEST-REMAINDER (Hamilton) BUDGET APPORTIONMENT: split an integer
    * sample budget `total` across groups proportionally to their row
    * counts, with Σ alloc = total EXACTLY — the step between a mixing-
    * weight decision ([[temperatureMix]] emits real-valued weights) and a
    * sampler that must draw a whole number of documents per source. Each
    * group gets floor(total·n_g / N); the leftover units go one each to
    * the groups with the largest remainders (ties broken by group name
    * ascending — deterministic, rerun-stable).
    *
    * All-integer: quota numerators are decimal(38,0) products (exact for
    * any corpus), `DIV`/`%` clear them, and the final rank compares
    * remainders — no floats anywhere, so the allocation is bit-identical
    * in any engine (a float quota can flip a marginal unit between two
    * near-tied groups).
    *
    * Scale shape: ONE map-side-combined groupBy (corpus → |groups| rows);
    * every window after it runs over group rows only, so the unpartitioned
    * rank is bounded by group cardinality (sources/languages — thousands,
    * not corpus-sized), never the data.
    */
  def largestRemainderAllocate(
      df: DataFrame, groupCol: String, total: Long): DataFrame = {
    require(total >= 0, "total must be >= 0")
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.orderBy(col("rem").desc, col("grp").asc)
    df.groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n_rows"))
      .withColumn("t", sum(col("n_rows")).over(wAll))
      .withColumn("base",
        expr(s"(CAST($total AS DECIMAL(38,0)) * n_rows) DIV t"))
      .withColumn("rem",
        expr(s"(CAST($total AS DECIMAL(38,0)) * n_rows) % t"))
      .withColumn("leftover", lit(total) - sum(col("base")).over(wAll))
      .withColumn("rk", row_number().over(wRank).cast("bigint"))
      .select(col("grp"), col("n_rows"),
        (col("base") +
          when(col("rk") <= col("leftover"), lit(1L)).otherwise(lit(0L)))
          .as("alloc"))
  }

  /** EXACT STRATIFIED SAMPLE: draw EXACTLY `total` rows overall, each
    * group contributing its [[largestRemainderAllocate]] share, chosen
    * within the group by md5(id) order — the [[groupHashSample]]
    * selection rule, so the draw is stateless, rerun-stable, and
    * engine-portable. The composition a mixing pipeline actually ships:
    * decide per-source counts exactly, then sample those counts
    * deterministically. (`sample(fraction)` gives neither: binomial row
    * counts, and a different sample on every plan re-evaluation.)
    *
    * Requires `total` ≤ corpus rows: a group whose allocation exceeded
    * its row count would silently under-fill the sample, so that case
    * raises instead (check is distributed — a 1-row broadcast, no
    * driver collect).
    *
    * Scale shape: the allocation is one bounded groupBy; the draw is one
    * per-group md5 rank (groups sort in parallel) plus a broadcast join
    * of the |groups|-row allocation table. Returns
    * (doc, grp, rk, alloc) — rk ≤ alloc, Σ per-group rows = total.
    */
  def stratifiedSampleExact(
      df: DataFrame, idCol: String, groupCol: String, total: Long): DataFrame = {
    val alloc = largestRemainderAllocate(df, groupCol, total)
      .withColumn("alloc",
        when(col("alloc") <= col("n_rows"), col("alloc"))
          .otherwise(raise_error(concat(
            lit("stratifiedSampleExact: total exceeds corpus rows — group "),
            col("grp").cast("string"), lit(" cannot fill its allocation")))))
      .select(col("grp"), col("alloc"))
    val w = Window.partitionBy(col("grp")).orderBy(col("h"), col("doc"))
    df.select(col(idCol).as("doc"), col(groupCol).as("grp"),
        md5(col(idCol).cast("string")).as("h"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .join(broadcast(alloc), Seq("grp"))
      .filter(col("rk") <= col("alloc"))
      .select(col("doc"), col("grp"), col("rk"), col("alloc"))
  }
}
