package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MaterializeOps

import graft.functions.{TextFunctions => T}

/** Corpus-level text-pipeline stages that are joins/aggregations rather
  * than scalar functions: repetition scoring and benchmark
  * decontamination. Both are explode + equi-join/aggregate shapes — the
  * per-document "compare against everything" work happens in the shuffle,
  * never as a nested per-row loop.
  */
object TextPipeline {

  /** Gopher-style repetition signal per document: frequency of the most
    * common token over total tokens (near 1e6 ppm = the document repeats
    * one token). explode -> count -> max, one shuffle by (doc, token).
    * The ratio is emitted as exact integer parts-per-million
    * (floor(1e6*top/total)) rather than a rounded double: `round(x, 6)`
    * on a double differs in the last ulp between engines, while i64
    * arithmetic is bit-identical everywhere.
    */
  def repetitionScores(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc"), explode(T.tokens(col(textCol))).as("tok"))
    toks
      .groupBy(col("doc"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc"))
      .agg(max(col("c")).as("top_count"), sum(col("c")).as("n_tokens"))
      .select(
        col("doc"),
        col("n_tokens"),
        expr("(top_count * 1000000L) DIV n_tokens").as("repetition_ppm"))
  }

  /** Benchmark decontamination: documents sharing at least `minShared`
    * distinct word-k-shingles with any probe document (the held-out set a
    * training corpus must not contain). Inverted-index semi-join on
    * hashed shingles — probe side is usually tiny, so its posting list
    * broadcasts; returns (doc, n_shared) for every contaminated doc.
    */
  def contaminated(
      docs: DataFrame, probes: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 5, minShared: Int = 1): DataFrame = {
    val docPostings = Dedup.shingleSets(docs, textCol, idCol, shingleK)
      .select(col("doc"), explode(col("sh")).as("s"))
    val probePostings = Dedup.shingleSets(probes, textCol, idCol, shingleK)
      .select(explode(col("sh")).as("s")).distinct()
    docPostings
      .join(broadcast(probePostings), Seq("s"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shared")) // doc's sh is distinct -> count = distinct shared
      .filter(col("n_shared") >= minShared)
  }

  // STRING word-k-shingles (not the xxhash64'd fast-path sets): the md5
  // positions must be derivable from corpus bytes alone in any engine
  private def stringShingles(
      df: DataFrame, textCol: String, idCol: String, shingleK: Int): DataFrame = df
    .withColumn("__w", T.tokens(col(textCol)))
    .withColumn("__sh", array_distinct(T.wordShinglesFromTokens(col("__w"), shingleK)))
    .select(col(idCol).as("doc"), col("__sh").as("sh"))

  /** PMI collocation mining: the top-k adjacent-token bigrams by
    * pointwise mutual information, pmi = ln( (cxy/B) / ((cx/N)(cy/N)) )
    * with cxy the bigram count, cx/cy the unigram occurrence counts, B
    * total bigrams, N total tokens. High-PMI pairs are multiword
    * expressions ("new york", "machine learning") — the standard corpus
    * signal for tokenizer/vocab curation. `minCount` suppresses the
    * unstable low-frequency tail.
    *
    * Portability: all counts are exact integers; the ratio is assembled
    * in f64 with a FIXED association order ((cxy*N*N) / (B*cx*cy), both
    * products left-to-right) so every engine computes the identical f64
    * before the single ln(), which carries the usual 1-ulp libm caveat
    * (same acknowledged class as q69/q74/q82/q87), corpus-validated per
    * SF. Exactness of the double products needs the operands' product
    * below 2^53 — counts at web scale exceed that, where PMI's own
    * statistical noise dwarfs the rounding; the contract is documented,
    * not guarded.
    *
    * Scale: two corpus scans (unigram and bigram extraction — each
    * tokenize+explode+partial-agg map-side; at 100 TB re-scanning beats
    * caching corpus-grain token arrays), two vocab-sized equi-joins that
    * AQE broadcasts when the surviving bigram table is small, and a
    * top-k planned as TakeOrderedAndProject. No corpus-sized shuffle
    * beyond the two aggregations.
    */
  def pmiCollocations(
      docs: DataFrame, textCol: String,
      minCount: Long = 5, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, "need minCount >= 1 and k >= 1")
    val toks = docs.select(T.tokens(col(textCol)).as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n"))
    val bi = toks.filter(size(col("w")) >= 2)
      .withColumn("w1s", slice(col("w"), lit(1), size(col("w")) - 1))
      .withColumn("w2s", slice(col("w"), lit(2), size(col("w")) - 1))
      .select(explode(arrays_zip(col("w1s"), col("w2s"))).as("z"))
      .select(col("z.w1s").as("w1"), col("z.w2s").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
    val nBi = bi.agg(sum(col("cxy")).as("bt"))
    bi.filter(col("cxy") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c").as("cx")), Seq("w1"))
      .join(uni.select(col("t").as("w2"), col("c").as("cy")), Seq("w2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .withColumn("pmi_micro",
        round(log((col("cxy").cast("double") * col("n") * col("n")) /
          (col("bt").cast("double") * col("cx") * col("cy"))) * 1e6).cast("bigint"))
      .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"), col("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** BPE (byte-pair-encoding) VOCABULARY TRAINING: the `nMerges`
    * highest-count symbol merges over the corpus, the core of
    * GPT-2/SentencePiece-style tokenizer construction. Each round counts
    * adjacent symbol pairs weighted by word frequency, picks the most
    * frequent pair (ties break lexicographically on (lhs, rhs)), and
    * merges every non-overlapping left-to-right occurrence. Returns
    * (merge_rank, lhs, rhs, pair_count) — the ordered merge table a
    * tokenizer replays at encode time.
    *
    * Scale design — the corpus is scanned ONCE: training iterates over
    * the (word, freq) VOCABULARY table, whose size is corpus-independent
    * (the classic trick that makes BPE training tractable — merging
    * inside "the" once with weight 10^9 instead of 10^9 times). Each
    * round is one vocab-sized pair aggregation + a 1-row argmax collect
    * (the same bounded-driver pattern as the KMeans centroids) + a
    * map-only merge apply; [[Materialize.checkpoint]] bounds the per-round plan
    * growth exactly as in [[Dedup.connectedComponents]].
    *
    * Portability: counts are exact integers and the argmax tie-break is
    * lexicographic, so the whole training run is bit-deterministic in
    * any engine — the DuckDB oracle replays every round in SQL. Word
    * symbols are tracked in a delimiter-wrapped string (U+0001 sym
    * U+0002 per symbol): the wrapping makes the merge a plain string
    * `replace` that cannot match across symbol boundaries, and
    * left-to-right non-overlapping replace IS the BPE merge rule (both
    * engines verified on the 'a a a a' -> 'aa aa' case). Precondition:
    * corpus tokens must not contain U+0001/U+0002 (true of
    * whitespace-tokenized text; the reserved chars are control codes).
    */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = docs.sparkSession
    val (o, c) = ("\u0001", "\u0002")
    var words = docs
      .select(explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(concat_ws("", transform(split(col("w"), ""),
        ch => concat(lit(o), ch, lit(c)))).as("ws"), col("f"))
      .materialize
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val syms = words.select(col("f"),
        split(expr("substring(ws, 2, length(ws) - 2)"), c + o).as("s"))
      val best = syms.filter(size(col("s")) >= 2)
        .withColumn("ls", slice(col("s"), lit(1), size(col("s")) - 1))
        .withColumn("rs", slice(col("s"), lit(2), size(col("s")) - 1))
        .select(col("f"), explode(arrays_zip(col("ls"), col("rs"))).as("z"))
        .groupBy(col("z.ls").as("l"), col("z.rs").as("r"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, rr, cnt))
        words = words
          .select(call_function("replace", col("ws"),
            lit(o + l + c + o + rr + c), lit(o + l + rr + c)).as("ws"), col("f"))
          .materialize
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Build the portable decontamination bloom filter from a probe set:
    * mBits bits packed as mBits/32 32-bit words (each held in a long).
    * Position j of shingle s = conv(substring(md5(s), 1+8j, 8), 16, 10)
    * % mBits — ONE digest per shingle sliced into up to 4 positions, so
    * any engine with md5() rebuilds the identical filter bit-for-bit.
    *
    * Driver state: mBits/32 longs (a few KB — the same bounded-collect
    * pattern as the KMeans centroids); on a real cluster the array rides
    * the closure/broadcast to every executor. The build cost is bounded
    * by the (tiny) probe set.
    */
  def bloomWords(
      probes: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, mBits: Int = 1 << 16, kHashes: Int = 4): Array[Long] = {
    require(mBits >= 32 && mBits % 32 == 0, "mBits must be a positive multiple of 32")
    require(kHashes >= 1 && kHashes <= 4,
      "kHashes must be in [1, 4]: each hash consumes 8 of md5's 32 hex chars")
    // 2^bit as an exact integer-valued double (pow with integer exponent
    // <= 31 is exact): shiftleft() takes only a literal shift count
    def mask(p: Column): Column = pow(lit(2.0), (p % 32).cast("int")).cast("long")
    // materialize before exploding: composing Generate directly over
    // the (large) string-shingle HOF expression tree costs the OPTIMIZER
    // ~3.5 s per build regardless of data size (measured — the generator
    // tree is duplicated into inferred filters and re-canonicalized);
    // materializing the tiny bounded probe frame first makes the whole
    // build ~0.2 s and costs one probe-set-sized write.
    val setBits = stringShingles(probes, textCol, idCol, shingleK)
      .materialize
      .select(explode(col("sh")).as("s"))
      .distinct()
      .withColumn("d", md5(col("s")))
      .select(explode(array((0 until kHashes).map(j =>
        conv(substring(col("d"), 1 + 8 * j, 8), 16, 10).cast("long") % mBits): _*)).as("p"))
      .select((col("p") / 32).cast("int").as("wd"), mask(col("p")).as("mask"))
      .groupBy(col("wd")).agg(bit_or(col("mask")).as("bits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(mBits / 32)(i => setBits.getOrElse(i, 0L))
  }

  /** OR-merge two [[bloomWords]] filters built with the SAME geometry
    * (mBits, kHashes, shingleK) — the incremental-decontamination story:
    * yesterday's benchmark filter plus today's delta probe set, without
    * re-reading yesterday's probes. Because positions are pure md5
    * functions of the shingle and bit_or is associative/commutative, the
    * merged filter is BIT-IDENTICAL to one built from the probe union
    * (TextPipelineSpec pins it), so hit/miss decisions — including
    * deterministic false positives — cannot depend on ingestion order or
    * batching. Driver cost: one |words| array OR (a few KB).
    */
  def bloomMerge(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length,
      s"bloomMerge: filters disagree on geometry (${a.length} vs ${b.length} words)")
    Array.tabulate(a.length)(i => a(i) | b(i))
  }

  /** A built bloom filter WITH its geometry: the raw-array [[bloomMerge]]
    * can verify only mBits (the array length) — kHashes and shingleK are
    * invisible in the words, so two filters built with different hash
    * counts would merge silently into something that matches NEITHER
    * union. The typed form makes that mismatch a loud require. */
  final case class BloomModel(words: Array[Long], kHashes: Int, shingleK: Int)

  /** [[bloomWords]] returning the geometry-carrying [[BloomModel]]. */
  def bloomModel(
      probes: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, mBits: Int = 1 << 16, kHashes: Int = 4): BloomModel =
    BloomModel(bloomWords(probes, textCol, idCol, shingleK, mBits, kHashes),
      kHashes, shingleK)

  /** Geometry-checked OR-merge of two [[BloomModel]]s. */
  def bloomMerge(a: BloomModel, b: BloomModel): BloomModel = {
    require(a.kHashes == b.kHashes && a.shingleK == b.shingleK,
      s"bloomMerge: filters disagree on geometry (kHashes ${a.kHashes} vs " +
        s"${b.kHashes}, shingleK ${a.shingleK} vs ${b.shingleK})")
    BloomModel(bloomMerge(a.words, b.words), a.kHashes, a.shingleK)
  }

  /** [[bloomProbe]] against a [[BloomModel]] — geometry comes from the
    * model, so probe parameters cannot drift from build parameters. */
  def bloomProbe(
      docs: DataFrame, model: BloomModel, textCol: String, idCol: String,
      minShared: Int): DataFrame =
    bloomProbe(docs, model.words, textCol, idCol, model.shingleK, minShared,
      model.kHashes)

  /** Per document, the number of DISTINCT word `shingleK`-shingles of
    * `text` whose `kHashes` bits are all set in the filter `words`
    * ([[bloomWords]]); NULL for NULL text. The per-document work —
    * tokens, shingle windows, distinct, md5, bit probes — is ONE compiled
    * loop over the token array
    * ([[org.apache.spark.sql.graftvec.FilterExprs.BloomShingleHitCountMd5]]);
    * shingle strings are never materialized. The one definition of a bloom
    * hit: [[bloomProbe]] reports it, and a plan that decontaminates its
    * own rows filters on it directly, with no anti-join back on the id.
    */
  def bloomHits(text: Column, words: Array[Long], kHashes: Int, shingleK: Int): Column =
    org.apache.spark.sql.graftvec.FilterExprs.bloomShingleHitsMd5Col(
      T.tokens(text), words, words.length * 32, kHashes, shingleK)

  /** MAP-ONLY probe of a corpus against a built filter: (doc, n_hits) for
    * documents with >= `minShared` [[bloomHits]]. No shuffle, no join;
    * works unchanged on a STREAMING frame (stateless).
    */
  def bloomProbe(
      docs: DataFrame, words: Array[Long],
      textCol: String, idCol: String,
      shingleK: Int = 5, minShared: Int = 1, kHashes: Int = 4): DataFrame =
    docs
      .select(col(idCol).as("doc"),
        bloomHits(col(textCol), words, kHashes, shingleK).as("n_hits"))
      .filter(col("n_hits") >= minShared)

  /** BLOOM-FILTER decontamination — the constant-memory scale path of
    * [[contaminated]]: [[bloomWords]] folds the probe set's shingles into
    * an `mBits`-bit filter, and [[bloomProbe]] checks each corpus
    * document MAP-ONLY against it. One-sided error: every truly-shared
    * shingle hits (superset of [[contaminated]]'s matches); a hit can be
    * a false positive with the usual (1-e^(-kn/m))^k probability.
    *
    * Why this exists alongside the semi-join: the posting-list join ships
    * probe shingles to every corpus partition per query run, while the
    * bloom filter is a few KB of longs broadcast ONCE — at 100 TB the
    * corpus-side cost is a pure scan (no shuffle, no join), which is how
    * production pipelines screen against a benchmark suite.
    *
    * Portability: positions are md5-derived, so the filter bits — and
    * therefore every hit/miss decision including false positives — are
    * bit-identical in any engine; the DuckDB oracle rebuilds the same
    * filter in SQL. For a same-engine production run where external
    * reproducibility does not matter, [[bloomContaminatedFast]] is the
    * cheaper path (Spark's own BloomFilterAggregate over xxhash64).
    */
  def bloomContaminated(
      docs: DataFrame, probes: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 5, minShared: Int = 1,
      mBits: Int = 1 << 16, kHashes: Int = 4): DataFrame =
    bloomProbe(
      docs, bloomWords(probes, textCol, idCol, shingleK, mBits, kHashes),
      textCol, idCol, shingleK, minShared, kHashes)

  /** Character-level Shannon entropy per document, in integer micro-nats:
    * entropy = -sum_ch p(ch) ln p(ch) over the document's codepoint
    * distribution. Low entropy flags degenerate text (repeated
    * characters, padding, binary-ish noise) — a cheap quality gate that
    * needs no language model.
    *
    * Portability: each distinct character's term is rounded to an integer
    * micro-nat FIRST, then summed — integer sums are order-independent,
    * so the result is identical at any parallelism; the one ln() per
    * distinct character carries the usual 1-ulp libm caveat
    * (corpus-validated per SF, same acknowledged class as q69/q74/q82).
    *
    * Plan: explode to (doc, char) -> counted -> per-doc window for the
    * total -> per-doc sum. Two keyed shuffles ((doc, char) then doc); the
    * heavy explode collapses in the partial aggregate map-side. Documents
    * with no characters produce no row (0/0 entropy is undefined).
    */
  def charEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol).as("doc"), explode(split(col(textCol), "")).as("ch"))
      // Java's split("") can emit boundary empties; they are not characters
      .filter(col("ch") =!= "")
      .groupBy(col("doc"), col("ch")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
    counts
      .withColumn("n", sum(col("c")).over(w))
      .withColumn("p", col("c").cast("double") / col("n").cast("double"))
      .withColumn("term_micro",
        round(-log(col("p")) * col("p") * 1e6).cast("bigint"))
      .groupBy(col("doc"))
      .agg(max(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("term_micro")).as("entropy_micro"))
  }

  /** BPE ENCODE: apply an ordered merge table (as learned by [[bpeTrain]]
    * or any external tokenizer recipe) to the corpus and report the
    * per-document compression — `(doc, n_tokens, n_units)` where n_units
    * is the symbol count after all merges. The encode loop is the exact
    * mirror of training: merges apply in rank order, each as a
    * left-to-right non-overlapping replace inside the delimiter-wrapped
    * symbol string (see [[bpeTrain]]'s portability contract).
    *
    * Scale: the corpus is scanned once to count (doc, word) pairs; the
    * merge chain runs over the DISTINCT-WORD vocabulary only (the same
    * corpus-independent trick as training — "the" is encoded once, not
    * 10^9 times), then a vocab-sized equi-join (AQE-broadcast when small)
    * prices each document. The merge chain itself is a map-only nested
    * `replace` expression — no per-merge pass over the data, one codegen'd
    * projection regardless of merge count.
    */
  def bpeEncode(
      docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val (o, c) = ("\u0001", "\u0002")
    val wordCounts = docs
      .select(col(idCol).as("doc"), explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("doc"), col("w")).agg(count(lit(1)).as("cnt"))
    val wrapped = concat_ws("", transform(split(col("w"), ""),
      ch => concat(lit(o), ch, lit(c))))
    val encoded = merges.foldLeft(wrapped) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(o + l + c + o + r + c), lit(o + l + r + c))
    }
    val vocab = wordCounts.select(col("w")).distinct()
      .withColumn("ws", encoded)
      // units = number of U+0001 symbol openers left after all merges
      .withColumn("units",
        (length(col("ws")) - length(call_function("replace", col("ws"), lit(o), lit(""))))
          .cast("bigint"))
      .select(col("w"), col("units"))
    wordCounts.join(vocab, Seq("w"))
      .groupBy(col("doc"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("units")).as("n_units"))
  }

  /** PRODUCTION-FAST bloom decontamination: same shape as
    * [[bloomContaminated]] (filter built from the probe set, map-only
    * corpus scan) but on Spark's own machinery — `BloomFilterAggregate`
    * over the xxhash64'd shingle hashes ([[Dedup.shingleSets]]'s arrays),
    * probed with `BloomFilterMightContain`. One 64-bit hash per shingle
    * instead of a 16-byte md5 digest, and the filter sizing handles
    * k/bits selection internally. NOT oracle-portable (xxhash64 chain
    * hashes are Spark-specific) — use [[bloomContaminated]] when the
    * decision set must be reproducible outside Spark. Same one-sided
    * error: hits are a superset of [[contaminated]]'s docs.
    *
    * The built filter is a few-KB binary collected once (`head()`) and
    * shipped as a literal — the bounded-broadcast pattern again; the
    * corpus side stays shuffle-free.
    */
  /** Gopher-style DUPLICATE-N-GRAM repetition per document: the fraction
    * (ppm) of word-n-gram OCCURRENCES that are repeats of an earlier
    * occurrence — `(n_grams − n_distinct) / n_grams` — the within-doc
    * repetition rule family from the Gopher quality filters that
    * [[repetitionScores]]' top-token fraction doesn't cover (a document
    * can repeat a 3-gram chorus while no single token dominates). Exact
    * integer ppm; docs with ≤ n tokens form one whole-text gram (the
    * [[graft.functions.TextFunctions.wordShinglesFromTokens]] convention
    * shared with every shingle operator) and score 0.
    *
    * Map-only: tokenize once, shingle once (arrays staged through
    * withColumn per the TextFunctions contract), two codegen'd size()
    * calls — no shuffle at all, the ideal 100-TB per-document scan.
    */
  def ngramRepetitionScores(
      docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 10, "n in [1, 10]")
    docs
      .withColumn("__w", T.tokens(col(textCol)))
      .withColumn("__g", T.wordShinglesFromTokens(col("__w"), n))
      .select(col(idCol).as("doc"),
        size(col("__g")).cast("bigint").as("n_grams"),
        size(array_distinct(col("__g"))).cast("bigint").as("n_distinct"))
      .withColumn("rep_ppm",
        expr("(1000000 * (n_grams - n_distinct)) DIV n_grams"))
  }

  /** Per-group TOTAL-VARIATION DISTANCE between the group's token
    * distribution and the whole corpus's — "which source's vocabulary
    * diverges most?", the drift gate a mixing pipeline runs before a new
    * crawl snapshot joins the training mix. TV is THE exact-integer
    * divergence (KL/JS need logs, which no two engines round alike):
    *
    *   TV_g = ½ Σ_t |p_g(t) − p(t)|
    *        = (Σ_{t∈g} |f_gt·N − f_t·N_g| + (N − Σ_{t∈g} f_t)·N_g)
    *          / (2·N_g·N)
    *
    * — the second summand closes the sum over the corpus terms ABSENT
    * from the group (each contributes f_t·N_g) without ever
    * materializing the |groups| × |vocab| grid that
    * [[graft.operators.ModelEval.chiSquareTerms]] needs: absent terms'
    * contribution only depends on the TOTAL corpus frequency the group
    * covers. Emitted in ppm via decimal(38,0) cross-multiplied integers.
    *
    * Scale shape: one explode → two token-keyed aggregations with
    * map-side combine (group-term and term), a vocab-keyed join between
    * them (skew-safe: both sides already aggregated, the hottest token
    * is ONE row per group), per-group totals, and a 1-row corpus total
    * broadcast. Nothing is ever |groups| × |vocab|.
    */
  def tokenDistributionDrift(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val tok = docs.select(col(groupCol).as("grp"),
      explode(T.tokens(col(textCol))).as("t"))
    val st = tok.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("fst"))
    val tt = tok.groupBy(col("t")).agg(count(lit(1)).as("ft"))
    val ns = tok.groupBy(col("grp")).agg(count(lit(1)).as("n_tokens"))
    val nn = tok.agg(count(lit(1)).as("n"))
    val d = (c: String) => col(c).cast("decimal(38,0)")
    st.join(tt, Seq("t"))
      .join(ns, Seq("grp"))
      .crossJoin(broadcast(nn))
      .withColumn("dv", abs(d("fst") * d("n") - d("ft") * d("n_tokens")))
      .groupBy(col("grp"))
      .agg(max(col("n_tokens")).as("n_tokens"), max(col("n")).as("n"),
        sum(col("dv")).as("present_num"), sum(col("ft")).as("covered"))
      .select(col("grp"), col("n_tokens"),
        expr("""(CAST(1000000 AS DECIMAL(38,0)) *
                |  (present_num + (CAST(n AS DECIMAL(38,0)) - covered)
                |     * CAST(n_tokens AS DECIMAL(38,0))))
                | DIV (CAST(2 AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))
                |      * CAST(n AS DECIMAL(38,0)))""".stripMargin)
          .as("tv_ppm"))
  }

  /** Per-group GINI CONCENTRATION of the token frequency distribution —
    * 0 = every distinct token equally frequent (maximal lexical
    * diversity), →1 = a handful of tokens dominate (boilerplate,
    * template spam). The corpus-health diversity number next to
    * [[tokenDistributionDrift]]'s divergence number. Exact integers via
    * the rank form of Gini over ascending frequencies:
    *
    *   G = (2·Σ_i i·x_i − (n+1)·Σx) / (n·Σx),  i = 1..n ascending
    *
    * (ties ordered by term for determinism — equal x_i make Σ i·x_i
    * invariant to their internal order, so the tie-break cannot change
    * the result, only make plans reproducible). Emitted in ppm via
    * decimal(38,0).
    *
    * Scale shape: one explode → one (group, term)-keyed count with
    * map-side combine, then a per-group rank over DISTINCT terms only
    * (vocab-sized, not corpus-sized; groups sort in parallel), then one
    * per-group reduce.
    */
  def tokenGini(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val freq = docs.select(col(groupCol).as("grp"),
        explode(T.tokens(col(textCol))).as("t"))
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("grp")).orderBy(col("x"), col("t"))
    val d = (c: String) => col(c).cast("decimal(38,0)")
    freq.withColumn("i", row_number().over(w).cast("bigint"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_terms"), sum(col("x")).as("n_tokens"),
        sum(d("i") * d("x")).as("ix"))
      .select(col("grp"), col("n_terms"), col("n_tokens"),
        expr("""(CAST(1000000 AS DECIMAL(38,0)) *
                |  (CAST(2 AS DECIMAL(38,0)) * ix
                |   - (CAST(n_terms AS DECIMAL(38,0)) + 1)
                |     * CAST(n_tokens AS DECIMAL(38,0))))
                | DIV (CAST(n_terms AS DECIMAL(38,0))
                |      * CAST(n_tokens AS DECIMAL(38,0)))""".stripMargin)
          .as("gini_ppm"))
  }

  /** Pairwise JENSEN–SHANNON divergence between per-group token
    * distributions — the symmetric, always-finite divergence next to
    * [[tokenDistributionDrift]]'s TV and `FeatureEng.psi`: TV weights all
    * mass linearly, JS (like PSI) weights by log-ratio, so it is the
    * number to read when two sources share most mass but one has a heavy
    * minority vocabulary. Decomposed over each side's own support:
    *
    *   JS(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M),  M = (P+Q)/2
    *   KL(P‖M) = Σ_{t: p>0} p·ln(2p/(p+q))
    *
    * Exactness: each per-term value is rounded to integer NANO-nats
    * before the order-independent sum (the q74/q82/q132 ln convention,
    * a thousand× finer than micro because JS spreads over the whole
    * vocabulary instead of a handful of bins); the one ln per (pair,
    * term) carries the usual 1-ulp libm caveat, corpus-validated per SF.
    * `js_nano` ∈ [0, ln 2·10⁹ ≈ 6.93·10⁸].
    *
    * Scale shape: one explode → (group, term) counts with map-side
    * combine; the ordered-pair term frame is counts × (|groups|−1) —
    * bounded by the SOURCE count, never |vocab|·|groups|² — with terms
    * absent from the other side kept by the left join (q = 0 ⇒ a finite
    * p·ln 2 term); each unordered pair merges its two directed KL sums.
    */
  def jsDivergencePairs(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val tok = docs.select(col(groupCol).as("grp"),
      explode(T.tokens(col(textCol))).as("t"))
    val cnt = Dedup.persistTracked(
      tok.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c")))
    val tot = tok.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val ordered = cnt
      .select(col("grp").as("grp_a"), col("t"), col("c").as("c1"))
      .crossJoin(broadcast(tot.select(col("grp").as("grp_b"))))
      .filter(col("grp_a") =!= col("grp_b"))
      .join(cnt.select(col("grp").as("grp_b"), col("t"), col("c").as("c2")),
        Seq("grp_b", "t"), "left")
      .join(broadcast(tot.select(col("grp").as("grp_a"), col("n").as("n1"))),
        Seq("grp_a"))
      .join(broadcast(tot.select(col("grp").as("grp_b"), col("n").as("n2"))),
        Seq("grp_b"))
      .withColumn("p", col("c1").cast("double") / col("n1"))
      .withColumn("q", coalesce(col("c2"), lit(0L)).cast("double") / col("n2"))
      .withColumn("term_nano",
        round(lit(1e9) * col("p") * log((col("p") + col("p")) / (col("p") + col("q"))))
          .cast("bigint"))
    val sums = ordered.groupBy(col("grp_a"), col("grp_b"))
      .agg(sum(col("term_nano")).as("s"))
    sums.as("x")
      .join(sums.as("y"),
        col("x.grp_a") === col("y.grp_b") && col("x.grp_b") === col("y.grp_a"))
      .filter(col("x.grp_a") < col("x.grp_b"))
      .select(col("x.grp_a").as("grp_a"), col("x.grp_b").as("grp_b"),
        expr("(x.s + y.s) DIV 2").as("js_nano"))
  }

  /** HASHING-TRICK feature vectorization (Weinberger et al.'s feature
    * hashing): each token maps to bucket `md5("ht:"+t) mod dim` with a
    * ±1 sign from the next md5 bit, and a document's feature vector is
    * the per-bucket SIGNED token-count sum, emitted sparse as
    * `(doc, bucket, v)` rows with v ≠ 0. The signed sum makes collisions
    * cancel in expectation — the standard unbiased-inner-product
    * construction — so linear models / similarity joins train on a
    * FIXED dim-sized space with NO vocabulary table, no training pass,
    * and no unseen-term problem: the serving path is identical to the
    * training path by construction (contrast `FeatureEng.encodingTable`,
    * which ships a trained vocab join).
    *
    * Exactness: bucket and sign derive from md5 (engine-portable, the
    * q44/q125 convention — never xxhash), counts are integers, so the
    * vectors are bit-identical in any engine at any parallelism.
    *
    * Scale shape: the ideal one — map-only bucket/sign projection, one
    * (doc, bucket) aggregation with map-side combine, output bounded by
    * docs × min(dim, doc length). A hot token skews nothing: its rows
    * pre-aggregate per partition like any count.
    */
  def hashedFeatures(
      docs: DataFrame, textCol: String, idCol: String,
      dim: Int = 1024): DataFrame = {
    require(dim >= 2 && dim <= (1 << 24), "hashedFeatures: dim in [2, 2^24]")
    docs.select(col(idCol).cast("bigint").as("did"),
        explode(T.tokens(col(textCol))).as("t"))
      .withColumn("h", md5(concat(lit("ht:"), col("t"))))
      .withColumn("bucket",
        conv(substring(col("h"), 1, 8), 16, 10).cast("bigint") % dim)
      .withColumn("sign",
        when((conv(substring(col("h"), 9, 1), 16, 10).cast("bigint") % 2) === 0L,
          lit(1L)).otherwise(lit(-1L)))
      .groupBy(col("did"), col("bucket"))
      .agg(sum(col("sign")).as("v"))
      .filter(col("v") =!= 0L)
  }

  def bloomContaminatedFast(
      docs: DataFrame, probes: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 5, minShared: Int = 1,
      expectedItems: Long = 1L << 16, numBits: Long = 1L << 19): DataFrame = {
    import org.apache.spark.sql.graftvec.FilterExprs
    val bloomBytes = Dedup.shingleSets(probes, textCol, idCol, shingleK)
      .select(explode(col("sh")).as("h")).distinct()
      .agg(FilterExprs.bloomFilterAgg(col("h"), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    Dedup.shingleSets(docs, textCol, idCol, shingleK)
      .select(col("doc"),
        size(filter(col("sh"), h => FilterExprs.mightContain(lit(bloomBytes), h)))
          .cast("bigint").as("n_hits"))
      .filter(col("n_hits") >= minShared)
  }

  /** UNIGRAM CROSS-ENTROPY quality score — the perplexity-proxy filter
    * (the CCNet-class signal): per document, the mean surprisal of its
    * tokens under the corpus's own add-one-smoothed unigram language
    * model,
    *
    *   s(t) = round(10⁶ · ln((N + V) / (cnt(t) + 1)))   micro-nats,
    *   ce_micro_nats = (Σ_occurrences s(t)) DIV n_tokens
    *
    * (N = corpus token occurrences, V = vocabulary size). Low = the
    * document reads like the corpus (common tokens); high = rare-token
    * soup — boilerplate/gibberish at one tail, exotic-but-valuable at
    * the other, which is why this is a RANKING signal feeding thresholds
    * (q191-style), not a hard gate. Per-term micro rounding keeps the
    * sum engine-portable (the q74 ln convention: the 1-ulp libm caveat
    * is accepted, corpus-validated per SF). Every input document emits a
    * row — tokenless docs read `n_tokens = 0, ce_micro_nats = −1`.
    *
    * Scale shape: one (doc, token) count aggregation (map-side combine
    * absorbs within-doc repetition), one token-keyed count aggregation
    * over THAT (distinct-pair sized), a 1-row totals broadcast, one
    * fact-dim equi-join of per-doc distinct tokens against the
    * vocabulary score table (AQE splits hot-token probe groups), one
    * per-doc sum. The (doc, token) frame is persisted — tracked,
    * [[Dedup.releaseCaches]] frees it — because both the vocabulary
    * counts and the scoring join consume it.
    */
  def unigramCrossEntropy(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    unigramCrossEntropyFromCounts(
      Dedup.persistTracked(docTokenCounts(docs, textCol, idCol)),
      docs.select(col(idCol).as("doc")))

  /** [[unigramCrossEntropy]] over a prepared [[docTokenCounts]] frame;
    * `docIds` is the FULL corpus id list (column `doc`) so tokenless
    * documents still emit their sentinel rows.
    */
  def unigramCrossEntropyFromCounts(
      dt: DataFrame, docIds: DataFrame): DataFrame =
    unigramCrossEntropyFromCounts(dt, docIds, restrictToDocIds = false)

  /** `restrictToDocIds = true`: the per-doc scoring join + sum runs only
    * over `docIds` (broadcast semi-join on the (doc, token) frame) while
    * the unigram LM still trains on the FULL `dt` — the reranker shape
    * (q215): score a handful of retrieved candidates under the corpus
    * LM without paying the corpus-sized scoring pass. Scores for the
    * restricted docs are bit-identical to the unrestricted variant (the
    * LM is the same; per-doc sums are per-doc). Leave false when docIds
    * IS the corpus — a corpus-sized semi-join would only add a shuffle.
    */
  def unigramCrossEntropyFromCounts(
      dt0: DataFrame, docIds: DataFrame,
      restrictToDocIds: Boolean): DataFrame = {
    val dt = if (restrictToDocIds)
      dt0.join(broadcast(docIds.select(col("doc"))), Seq("doc"), "left_semi")
    else dt0
    val cnt = dt0.groupBy(col("t")).agg(sum(col("tf")).as("cf"))
    val tot = cnt.agg(sum(col("cf")).as("n"), count(lit(1)).as("v"))
    val sc = cnt.crossJoin(broadcast(tot))
      .select(col("t"),
        round(lit(1e6) * log((col("n") + col("v")).cast("double") /
          (col("cf") + lit(1L)).cast("double"))).cast("bigint").as("s"))
    val perDoc = dt.join(sc, Seq("t"))
      .groupBy(col("doc"))
      .agg(sum(col("tf")).as("n_tokens"),
        // decimal factors: tf·s on raw longs can ANSI-overflow for long
        // docs of rare tokens (s grows with ln N)
        sum(col("tf").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
          .as("se"))
      .select(col("doc"), col("n_tokens"),
        expr("CAST(se DIV n_tokens AS BIGINT)").as("ce_micro_nats"))
    docIds.join(perDoc, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("ce_micro_nats"), lit(-1L)).as("ce_micro_nats"))
  }

  /** TOKEN-COVERAGE-AT-K — the tokenizer/vocabulary planning curve: what
    * fraction of all corpus token OCCURRENCES is covered by the k most
    * frequent types, for each requested k. The number that decides
    * vocabulary size ("32k types cover 99.2% of occurrences; the tail is
    * byte-fallback") and flags corpus shift (coverage at fixed k
    * dropping release-over-release = new-domain influx). Exact integers:
    * `coverage_ppm = (10⁶ · covered) DIV N`; a k beyond the vocabulary
    * reads full coverage with `n_vocab` reporting the true type count;
    * an empty corpus reads the −1 sentinel.
    *
    * Scale shape: token counts (map-side combined), then ONE
    * [[Ranks.offsetCumSum]] pass over the vocabulary ordered by
    * (count desc, token) computing rank and cumulative occurrences
    * together — the vocabulary frame is unbounded at corpus scale, so
    * this is the distributed prefix sum, not a single-partition window —
    * then a |ks|-row literal frame left-joined against the picked ranks.
    */
  def tokenCoverageAtK(
      docs: DataFrame, textCol: String,
      ks: Seq[Long] = Seq(100L, 1000L, 8000L)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks.distinct.length == ks.length,
      "tokenCoverageAtK: ks must be distinct positive ranks")
    val spark = docs.sparkSession
    val cnt = docs
      .select(explode(T.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cf"))
      // negated count: offsetCumSum orders ascending, the curve wants
      // most-frequent-first; (−cf, t) is the unique composite key
      .withColumn("negcf", -col("cf"))
      .withColumn("one", lit(1L))
    val tot = cnt.agg(coalesce(sum(col("cf")), lit(0L)).as("n"),
      count(lit(1)).as("v"))
    val picked = Ranks.offsetCumSum(cnt, Seq("negcf", "t"), Seq("one", "cf"))
      .filter(col("cum_one").isin(ks: _*))
      .select(col("cum_one").as("k"), col("cum_cf").as("covered"))
    import spark.implicits._
    ks.sorted.toDF("k")
      .join(broadcast(picked), Seq("k"), "left")
      .crossJoin(broadcast(tot))
      .select(col("k"), col("v").as("n_vocab"),
        coalesce(col("covered"), col("n")).as("covered_tokens"),
        col("n").as("total_tokens"),
        when(col("n") === 0L, lit(-1L))
          // decimal-cleared: 10⁶·covered overflows long past N ~ 10¹³
          .otherwise(expr(
            """CAST((CAST(1000000 AS DECIMAL(38,0)) * coalesce(covered, n))
              | DIV n AS BIGINT)""".stripMargin))
          .as("coverage_ppm"))
  }

  /** BM25 TOP-K RETRIEVAL — the sparse lexical ranking function behind
    * every production search/decontamination/hard-negative-mining stack:
    * for each query (a small set of terms), the k highest-scoring
    * documents under Okapi BM25,
    *
    *   score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Exactness contract: idf(t) = round(10⁶ · ln((N+1)/(df+0.5)))
    * micro-nats per term (the strictly-positive Robertson–Spärck-Jones
    * +1 form; per-term rounding is the q74/q207 ln convention), and the
    * saturation fraction is cleared to ONE exact integer division by
    * multiplying through by 10⁶·L (L = corpus token occurrences, so
    * avgdl = L/N never materializes as a float):
    *
    *   s(t,d) = (idf·(1000+K)·1000·tf·L)
    *              DIV (10⁶·tf·L + K·(1000−B)·L + K·B·dl·N)
    *
    * with K = k1 in millis (1200 = 1.2), B = b in millis (750 = 0.75);
    * contributions sum per (query, doc). Products route through
    * decimal(38,0) — idf·tf·L overflows a long at corpus scale. Query
    * terms absent from the corpus contribute nothing (no-match docs
    * never appear); ties break on doc id.
    *
    * Scale shape: the (doc, token) count frame (map-side combined,
    * persisted — tracked, [[Dedup.releaseCaches]] frees it — because
    * doc-length, document-frequency, AND the probe join all consume it)
    * is probed by a BROADCAST of the query-term list — the inverted-
    * index access path: only postings of query terms survive the join,
    * so the scored frame is |terms|·df-sized, never corpus-sized. df/N/L
    * are aggregate-bounded broadcasts; the final top-k window partitions
    * by query (bounded per query, never global).
    */
  /** Shared first pass of the retrieval/scoring family: per-(doc, token)
    * occurrence counts. Compute ONCE (persist) when feeding several
    * consumers — [[bm25TopKFromCounts]] and
    * [[unigramCrossEntropyFromCounts]] both take this frame, so a hybrid
    * pipeline (q215) tokenizes the corpus exactly once (the
    * EventAnalytics.dailyStats materialize-once convention).
    */
  def docTokenCounts(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc"), explode(T.tokens(col(textCol))).as("t"))
      .groupBy(col("doc"), col("t")).agg(count(lit(1)).as("tf"))

  /** [[docTokenCounts]] persisted and registered with
    * [[Dedup.releaseCaches]] — the form multi-consumer pipelines hold.
    */
  def docTokenCountsPersisted(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.persistTracked(docTokenCounts(docs, textCol, idCol))

  def bm25TopK(
      docs: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, k: Int = 10,
      k1Milli: Int = 1200, bMilli: Int = 750): DataFrame =
    bm25TopKFromCounts(
      Dedup.persistTracked(docTokenCounts(docs, textCol, idCol)),
      docs.agg(count(lit(1)).as("n")), queries, k, k1Milli, bMilli)

  /** [[bm25TopK]] over a prepared [[docTokenCounts]] frame; `nDocs` is a
    * 1-row frame with column `n` = the FULL corpus document count
    * (including tokenless docs — idf's N).
    */
  def bm25TopKFromCounts(
      dt: DataFrame, nDocs: DataFrame, queries: DataFrame, k: Int = 10,
      k1Milli: Int = 1200, bMilli: Int = 750): DataFrame = {
    require(k >= 1, "bm25TopK: k >= 1")
    require(k1Milli >= 0 && bMilli >= 0 && bMilli <= 1000,
      "bm25TopK: k1Milli >= 0 and bMilli in [0, 1000] (millis of k1, b)")
    val dl = dt.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    val dfq = dt.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val tot = nDocs
      .crossJoin(broadcast(dt.agg(coalesce(sum(col("tf")), lit(0L)).as("l"))))
    val idf = dfq.crossJoin(broadcast(tot))
      .select(col("t"),
        round(lit(1e6) * log((col("n") + lit(1L)).cast("double") /
          (col("df").cast("double") + lit(0.5)))).cast("bigint").as("idf_micro"))
    val numMult = (1000L + k1Milli) * 1000L
    val cFlat = k1Milli.toLong * (1000L - bMilli)
    val cLen = k1Milli.toLong * bMilli
    val q = queries.select(col("query_id"), col("term"))
    val sc = dt.join(broadcast(q), dt("t") === q("term"))
      .join(idf, Seq("t"))
      .join(dl, Seq("doc"))
      .crossJoin(broadcast(tot))
      .withColumn("s", expr(
        s"""CAST((CAST(idf_micro AS DECIMAL(38,0)) * $numMult * tf * l)
           | DIV (CAST(1000000 AS DECIMAL(38,0)) * tf * l
           |      + CAST($cFlat AS DECIMAL(38,0)) * l
           |      + CAST($cLen AS DECIMAL(38,0)) * dl * n) AS BIGINT)""".stripMargin))
    val agg = sc.groupBy(col("query_id"), col("doc"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s")).as("score_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc").asc)
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc"),
        col("n_terms"), col("score_micro"))
  }

  /** RECIPROCAL-RANK FUSION — merge per-query rankings from independent
    * rankers (lexical BM25, embedding ANN, quality rerankers …) without
    * calibrating their incomparable scores: each ranker votes
    * 1/(κ + rank) for its items and votes add,
    *
    *   rrf_micro(q, d) = Σ_rankers 10⁶ DIV (κ + rank_r(q, d))
    *
    * (κ = 60, the Cormack/Clarke/Büttcher constant, damps the head so a
    * single ranker's #1 cannot dominate two rankers' #5s). Exact by
    * construction — every vote is one integer division — so fusion is
    * engine-portable and associative (fuse fusions). Items missing from
    * a ranker simply cast no vote (the standard RRF convention);
    * `n_rankers` reports how many voted. Ties break on item id.
    *
    * Scale shape: one union of ranking frames (each already top-k-
    * bounded per query by its producer), one (query, item) aggregation
    * with map-side combine, one top-k window PARTITIONED by query —
    * bounded by |rankers|·k rows per query, never corpus-scaled.
    */
  def rrfFuse(
      rankings: DataFrame, kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(kRrf >= 1 && topK >= 1, "rrfFuse: kRrf >= 1 and topK >= 1")
    val agg = rankings
      .select(col("query_id"), col("doc"),
        expr(s"CAST(1000000 DIV ($kRrf + rank) AS BIGINT)").as("vote"))
      .groupBy(col("query_id"), col("doc"))
      .agg(count(lit(1)).as("n_rankers"), sum(col("vote")).as("rrf_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc").asc)
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc"),
        col("n_rankers"), col("rrf_micro"))
  }

  /** GOOD-TURING frequency-of-frequencies audit of the corpus vocabulary
    * — the "how much probability mass belongs to tokens we have NOT seen
    * yet" estimate that sizes vocabulary/coverage risk before freezing a
    * tokenizer or an n-gram LM (the q73 Heaps-fit's probabilistic
    * sibling). One row per count class r = 0..`maxR`:
    *
    *   - `n_r`: number of distinct tokens occurring exactly r times
    *     (r = 0 reads 0 — N₀ is unobservable),
    *   - `mass_ppm`: share of the NEXT sample this class claims — the
    *     Good-Turing estimate. For r = 0 that is N₁/N (the unseen/novel
    *     mass, Gale–Sampson's P₀); for r ≥ 1 the raw maximum-likelihood
    *     share r·N_r/N, exact `(10⁶·…) DIV N`,
    *   - `r_star_micro`: the Good-Turing adjusted count
    *     r* = (r+1)·N_{r+1}/N_r in micro (10⁶·(r+1)·N_{r+1} DIV N_r);
    *     −1 when undefined (r = 0, or no token has count r). A vanished
    *     N_{r+1} legitimately reads r* = 0 — the classic raw-GT quirk
    *     smoothing variants exist to fix; this operator reports the raw
    *     estimator,
    *   - `n_total`, `vocab`: corpus occurrence and distinct-token totals
    *     (repeated per row; −1 mass sentinel on an empty corpus).
    *
    * Scale shape: ONE data-scaled pass (token counts, map-side combined)
    * collapses to the count-of-counts histogram — every later pass is
    * count-VALUE-resolution-bounded (≤ √(2L) distinct counts, the q219
    * pattern); the r-frame is a `maxR`-row literal and the totals ride a
    * 1-row broadcast. Products route through decimal(38,0): at 10⁹
    * vocab, 10⁶·(r+1)·N_{r+1} brushes the long ceiling.
    */
  def goodTuring(docs: DataFrame, textCol: String, maxR: Int = 10)
      : DataFrame = {
    require(maxR >= 1 && maxR <= 1000, "goodTuring: maxR in [1, 1000]")
    val tc = docs.select(explode(T.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val cc = Dedup.persistTracked(
      tc.groupBy(col("c")).agg(count(lit(1)).as("nr")))
    // totals ride the bounded histogram, not a second vocabulary scan
    val tot = cc.agg(
      coalesce(sum(col("c") * col("nr")), lit(0L)).as("n_total"),
      coalesce(sum(col("nr")), lit(0L)).as("vocab"))
    val rFrame = docs.sparkSession.range(0, maxR + 1L)
      .select(col("id").as("r"))
    rFrame
      .join(cc.select(col("c"), col("nr").as("nr0")),
        col("r") === col("c"), "left").drop("c")
      .join(cc.select(col("c"), col("nr").as("nr1")),
        col("r") + lit(1L) === col("c"), "left").drop("c")
      .crossJoin(broadcast(tot))
      .select(col("r"), coalesce(col("nr0"), lit(0L)).as("n_r"),
        col("n_total"), col("vocab"),
        coalesce(col("nr1"), lit(0L)).as("nr1"))
      .withColumn("mass_ppm",
        when(col("n_total") === 0L, lit(-1L))
          .when(col("r") === 0L,
            expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * nr1" +
              " DIV n_total AS BIGINT)"))
          .otherwise(expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * r * n_r" +
            " DIV n_total AS BIGINT)")))
      .withColumn("r_star_micro",
        when(col("r") === 0L || col("n_r") === 0L, lit(-1L))
          .otherwise(expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * (r + 1)" +
            " * nr1 DIV n_r AS BIGINT)")))
      .drop("nr1")
  }

  /** INTRA-DOCUMENT REPETITION rate — the generation-loop / boilerplate
    * detector: the fraction of a document's word-k-shingle OCCURRENCES
    * that repeat an earlier shingle of the SAME document,
    * `rep_ppm = (10⁶·(n − d)) DIV n` with n = total shingles and d =
    * distinct shingles. A looping generator ("the the the …", repeated
    * paragraph templates) reads high; natural prose reads near 0. The
    * WITHIN-doc complement of [[graft.operators.Dedup.shingleNovelty]]
    * (which measures repetition ACROSS the corpus).
    *
    * Scale shape: map-only per document — one codegen'd
    * tokens → hashes → rolling-shingle pass and a per-row
    * distinct count; no shuffle at all (the hashed-shingle identity is
    * the q31/q177 convention: exact up to 64-bit collisions, which the
    * string-based oracle confirms absent per SF).
    */
  def intraDocRepetition(
      docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5): DataFrame = {
    require(shingleK >= 1, "intraDocRepetition: shingleK >= 1")
    docs
      .withColumn("__tok", T.hashAll(T.tokens(col(textCol))))
      .withColumn("__sh",
        org.apache.spark.sql.graftvec.TextExprs.shingleHashCol(col("__tok"), shingleK))
      .select(col(idCol).as("doc"),
        size(col("__sh")).cast("bigint").as("n_shingles"),
        size(array_distinct(col("__sh"))).cast("bigint").as("n_distinct"))
      .withColumn("repetition_ppm",
        expr("(1000000 * (n_shingles - n_distinct)) DIV n_shingles"))
  }

  /** BIGRAM CONDITIONAL ENTROPY per group — how predictable the next
    * token is given the current one, H(w₂|w₁) = H(w₁w₂) − H(w₁), in
    * micro-nats with the q94 per-term rounding convention
    * (`round(−ln(p)·p·10⁶)` per cell, integer-summed — order-free).
    * Both entropies are computed over the BIGRAM table (the w₁ marginal
    * is the bigram prefix marginal, not raw unigram counts — the
    * correct conditioning measure). The text-predictability /
    * templated-source detector next to [[chao1]] and the q94/q206
    * family: low conditional entropy = formulaic text (boilerplate,
    * logs), high = diverse prose.
    *
    * Scale shape: one bigram explode (map-only window inside each doc's
    * token array), one (group, w₁, w₂) count with map-side combine, a
    * prefix re-aggregation of that table, and group-bounded broadcast
    * totals — the data-scaled pass is the first count, everything after
    * is vocabulary-bounded.
    */
  def bigramCondEntropy(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val toks = docs
      .select(col(groupCol).as("grp"), T.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
    val bi = toks.select(col("grp"), explode(
        transform(sequence(lit(1), size(col("tk")) - 1), i =>
          struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("b"))
      .select(col("grp"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = Dedup.persistTracked(
      bi.groupBy(col("grp"), col("w1"), col("w2")).agg(count(lit(1)).as("c")))
    val tot = cb.groupBy(col("grp")).agg(sum(col("c")).as("n"))
    def entropyOf(counts: DataFrame, out: String, vocabOut: String) = counts
      .join(broadcast(tot), Seq("grp"))
      .withColumn("p", col("c").cast("double") / col("n").cast("double"))
      .withColumn("term_micro",
        round(-log(col("p")) * col("p") * 1e6).cast("bigint"))
      .groupBy(col("grp"))
      .agg(sum(col("term_micro")).as(out), count(lit(1)).as(vocabOut),
        max(col("n")).as("__n_" + out))
    val hb = entropyOf(cb, "h_bigram_micro", "vocab_bigrams")
    val hp = entropyOf(
      cb.groupBy(col("grp"), col("w1")).agg(sum(col("c")).as("c")),
      "h_prefix_micro", "vocab_prefixes")
    hb.join(hp, Seq("grp"))
      .select(col("grp"), col("__n_h_bigram_micro").as("n_bigrams"),
        col("vocab_bigrams"), col("vocab_prefixes"),
        col("h_bigram_micro"), col("h_prefix_micro"),
        (col("h_bigram_micro") - col("h_prefix_micro"))
          .as("cond_entropy_micro"))
  }

  /** CHAO1 VOCABULARY RICHNESS per group — the nonparametric "how many
    * distinct tokens does this source REALLY have" lower-bound estimator
    * ecology uses for species richness, applied to corpus vocabulary:
    * the observed vocabulary V undercounts whenever rare tokens exist,
    * and the singleton/doubleton ratio estimates the unseen mass. The
    * bias-corrected form (defined for F₂ = 0):
    *
    *   chao1 = V + F₁(F₁ − 1) / (2(F₂ + 1))
    *
    * with F₁/F₂ = tokens occurring exactly once/twice — emitted in exact
    * integer micro (`10⁶·V + (10⁶·F₁·(F₁−1)) DIV (2(F₂+1))`, truncating
    * decimal division, engine-portable). The companion to [[goodTuring]]
    * (which estimates unseen MASS; chao1 estimates unseen TYPES) and
    * [[heapsLaw]] — together the "is this source's vocabulary saturated
    * or still growing" triage a mixing pipeline runs before weighting a
    * new source.
    *
    * Scale shape: ONE data-scaled (group, token) count with map-side
    * combine, then a group-cardinality-bounded reduction — the q219
    * histogram pattern; F₁·F₁ routes through decimal(38,0) (10⁹-token
    * vocabularies square past the long ceiling with the 10⁶ scale).
    */
  def chao1(docs: DataFrame, textCol: String, groupCol: String): DataFrame =
    docs.select(col(groupCol).as("grp"), explode(T.tokens(col(textCol))).as("t"))
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1_micro", expr(
        """CAST(CAST(1000000 AS DECIMAL(38,0)) * vocab
          | + (CAST(1000000 AS DECIMAL(38,0)) * f1 * (f1 - 1))
          |   DIV (2 * (f2 + 1)) AS BIGINT)""".stripMargin))

  // ----------------------- unigram-LM tokenizer (SentencePiece-unigram)

  /** Piece score absent from the model — loses to any single-char path
    * (whose floor score is ≥ −20·10⁶ per char). */
  private val UnigramAbsent = -1000000000000L
  /** CASE arm for j > i in the packed Viterbi argmax. Must sit below any
    * REACHABLE packed value or greatest() picks it and its mod-8 residue
    * (j = 0) corrupts the backward walk: reachable values are bounded by
    * −8·len·|UnigramAbsent| ≈ −8·10¹²·len, so Long.MinValue/4 (−2.3·10¹⁸)
    * is safe for words up to ~288k chars — and [[MaxWordChars]] raises
    * loudly far before that (also keeping the ×8 pack clear of Long
    * overflow, which starts near len ≈ 10⁶). */
  private val UnigramUnreach = Long.MinValue / 4
  /** Hard per-word length bound for the unigram DP (65536 chars): beyond
    * it the packed arithmetic would eventually clip, so the operators
    * raise the operator-named error instead of mis-scoring — a single
    * unbroken 64 KB "word" is not text any tokenizer should score. */
  private[operators] val MaxWordChars = 65536

  private def guardedWordLen(w: Column): Column =
    when(length(w) <= MaxWordChars, w)
      .otherwise(raise_error(concat(
        lit(s"unigram: token longer than $MaxWordChars chars (len="),
        length(w).cast("string"),
        lit(") — not scoreable text; split or drop it upstream"))))

  /** Packed Viterbi forward pass over one word: dp[i] is the best
    * unigram-LM score of the first i chars, stored as the single long
    * `score·8 + j` where j is the length of the last piece of the best
    * segmentation (j ≤ 8 keeps the pack exact; ties in score resolve to
    * the LONGER last piece because the pack is monotone in (score, j) —
    * the defined tie-break both engines replay). One `aggregate` HOF
    * over char positions, the accumulator growing into the full dp array
    * so the backward pass can walk it. Map lookups hit the broadcast
    * score-map LITERAL (`try_element_at`: absent piece → the
    * [[UnigramAbsent]] floor), so the lambda references only attributes
    * and constants (the wordShinglesFromTokens HOF contract).
    */
  private def dpStep(w: Column, acc: Column, i: Column, scores: Column,
      maxLen: Int, ban: Option[Column]): Column = {
    val cands = (1 to maxLen).map { j =>
      val prev = element_at(acc, i - lit(j) + lit(1))
      val prevS = shiftright(prev - pmod(prev, lit(8)), 3)
      val piece = w.substr(i - lit(j) + lit(1), lit(j))
      val raw = coalesce(try_element_at(scores, piece), lit(UnigramAbsent))
      val pieceScore = ban
        .map(b => when(piece === b, lit(UnigramAbsent)).otherwise(raw))
        .getOrElse(raw)
      when(lit(j) <= i, (prevS + pieceScore) * lit(8) + lit(j))
        .otherwise(lit(UnigramUnreach))
    }
    greatest(cands: _*)
  }

  private def viterbiDp(w: Column, scores: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (acc, i) => concat(acc, array(dpStep(w, acc, i, scores, maxLen, None))))

  /** Best segmentation score of `w` with piece `ban` priced at the
    * [[UnigramAbsent]] floor — "the vocabulary without this piece", the
    * per-piece likelihood-loss probe of SentencePiece's pruning step.
    * One forward pass emitting only the final unpacked score (no dp
    * array leaves the lambda, so nothing is materialized per row). */
  private def viterbiBanScore(
      w: Column, scores: Column, maxLen: Int, ban: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (acc, i) => concat(acc, array(dpStep(w, acc, i, scores, maxLen, Some(ban)))),
      acc => {
        val pk = element_at(acc, size(acc))
        shiftright(pk - pmod(pk, lit(8)), 3)
      })

  /** Backward walk of a [[viterbiDp]] array: hop `pos -> pos - j` reading
    * j from the packed entry, collecting the chosen pieces (in
    * back-to-front order — the per-piece COUNTS the EM needs are
    * order-independent). At most `length(w)` hops; once pos hits 0 the
    * fold idles. `dp` must be a staged ATTRIBUTE (withColumn), not an
    * inline expression, or the interpreted lambda re-runs the whole
    * forward pass per hop.
    */
  private def viterbiPieces(w: Column, dp: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).cast("int").as("pos"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val pos = st.getField("pos")
        val pk = element_at(dp, pos + lit(1))
        val j = pmod(pk, lit(8)).cast("int")
        when(pos > 0,
          struct((pos - j).as("pos"),
            concat(st.getField("ps"),
              array(w.substr(pos - j + lit(1), j))).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))

  /** Final unpacked score of a [[viterbiDp]] array: the unigram-LM
    * log-likelihood (micro-nats) of the word's best segmentation. */
  private def viterbiScore(w: Column, dp: Column): Column = {
    val pk = element_at(dp, length(w) + lit(1))
    shiftright(pk - pmod(pk, lit(8)), 3)
  }

  /** One-pass per-token Viterbi for the SERVING path: forward DP
    * carrying BOTH the packed score array and the best-path piece-count
    * array (cnt[i] = cnt[i−j]+1 for the argmax j — the same optimal path
    * the batch backward walk extracts, so counts cannot diverge), with
    * the aggregate's finish lambda emitting one `struct(np, lp)` per
    * token so no sub-expression is ever evaluated twice per element.
    */
  private def viterbiServe(w: Column, scores: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(array(lit(0L)).as("dps"), array(lit(0L)).as("cnts")),
      (acc, i) => {
        val dps = acc.getField("dps")
        val cnts = acc.getField("cnts")
        val cands = (1 to maxLen).map { j =>
          val prev = element_at(dps, i - lit(j) + lit(1))
          val prevS = shiftright(prev - pmod(prev, lit(8)), 3)
          val pieceScore = coalesce(
            try_element_at(scores, w.substr(i - lit(j) + lit(1), lit(j))),
            lit(UnigramAbsent))
          when(lit(j) <= i, (prevS + pieceScore) * lit(8) + lit(j))
            .otherwise(lit(UnigramUnreach))
        }
        val best = greatest(cands: _*)
        val bj = pmod(best, lit(8)).cast("int")
        struct(concat(dps, array(best)).as("dps"),
          concat(cnts,
            array(element_at(cnts, i - bj + lit(1)) + lit(1L))).as("cnts"))
      },
      acc => {
        val pk = element_at(acc.getField("dps"), length(w) + lit(1))
        struct(
          element_at(acc.getField("cnts"), length(w) + lit(1)).as("np"),
          shiftright(pk - pmod(pk, lit(8)), 3).as("lp"))
      })

  /** SERVE the trained unigram model on any frame — batch OR streaming:
    * the whole score (tokenize, per-token Viterbi, document sums, nll,
    * keep flag) is ONE stateless map-only projection, no (doc, word)
    * groupBy, so it runs unchanged on a `readStream` frame (the
    * winsorizeCuts/applyEncoding trained-table serving pattern: train
    * batch, broadcast the bounded score map, apply live).
    * `scores` is the (piece -> logp_micro) map collected from
    * [[unigramTrain]]'s bounded output. Emits the [[unigramQualityGate]]
    * schema; batch-equal row-for-row (StreamingUnigramServeSpec) — the
    * trade vs the batch path is a per-OCCURRENCE segmentation instead of
    * per-DISTINCT-word (right for unbounded streams where the distinct-
    * word frame would be state; the batch path stays cheaper for
    * repetitive corpora). Token-free documents emit no row (the batch
    * path's explode semantics).
    */
  /** The map-only serve KERNEL as a column: per-token packed (np, lp)
    * serve outcomes of a token-array column under a frozen model — the
    * exact per-token expression [[unigramServe]] folds, exposed so a
    * composed operator ([[CurationFunnel.decide]]) can inline the whole
    * LM gate into one projection instead of paying a separate
    * (doc, word) exchange per batch. NULL-in → NULL-out.
    */
  def unigramServeStats(toks: Column, model: UnigramModel): Column = {
    val m = typedLit(model.scores)
    transform(transform(toks, guardedWordLen(_)),
      w => viterbiServe(w, m, model.maxPieceLen))
  }

  def unigramServe(
      docs: DataFrame, textCol: String, idCol: String,
      scores: Map[String, Long], maxNllMicro: Long,
      maxPieceLen: Int = 3): DataFrame = {
    require(maxPieceLen >= 2 && maxPieceLen <= 7,
      "maxPieceLen in [2, 7]: the packed argmax stores the last-piece " +
        "length in the mod-8 residue, so j = 8 would alias to 0")
    require(maxNllMicro > 0, "maxNllMicro must be positive micro-nats")
    require(scores.nonEmpty, "need a trained score map")
    val m = typedLit(scores)
    docs
      .withColumn("__toks", T.tokens(col(textCol)))
      .filter(size(col("__toks")) > 0)
      .withColumn("__toks", transform(col("__toks"), guardedWordLen(_)))
      .withColumn("__st",
        transform(col("__toks"), w => viterbiServe(w, m, maxPieceLen)))
      .select(col(idCol).as("doc"),
        size(col("__toks")).cast("bigint").as("n_tokens"),
        aggregate(col("__st"), lit(0L),
          (a, x) => a + x.getField("np")).as("n_pieces"),
        aggregate(col("__st"), lit(0L),
          (a, x) => a + x.getField("lp")).as("logp"))
      .withColumn("nll_micro", expr("(-logp) DIV n_pieces"))
      .select(col("doc"), col("n_tokens"), col("n_pieces"),
        col("nll_micro"), (col("nll_micro") < maxNllMicro).as("keep"))
  }

  /** A trained unigram LM WITH its DP geometry: the raw score map can't
    * carry maxPieceLen, so scores trained at maxPieceLen=3 served at
    * maxPieceLen=2 would silently mis-segment (long pieces in the map
    * become unreachable without any error) — the exact mismatch class
    * [[BloomModel]] closes for bloom filters. The typed form pins the
    * serve-time DP window to the training geometry. */
  final case class UnigramModel(scores: Map[String, Long], maxPieceLen: Int) {
    require(scores.nonEmpty, "need a trained score map")
    require(maxPieceLen >= 2 && maxPieceLen <= 7,
      "maxPieceLen in [2, 7]: the packed argmax stores the last-piece " +
        "length in the mod-8 residue, so j = 8 would alias to 0")
    require(scores.keysIterator.forall(_.length <= maxPieceLen),
      "UnigramModel: score map contains a piece longer than maxPieceLen " +
        "— the scores were trained under a different geometry")
  }

  /** [[unigramTrain]] returning the geometry-carrying [[UnigramModel]]
    * (scores over the full candidate set + the maxPieceLen they were
    * trained at), the form [[unigramServe]] consumes. */
  def unigramTrainModel(
      docs: DataFrame, textCol: String,
      maxPieceLen: Int = 3, nSeed: Int = 32, emRounds: Int = 2): UnigramModel = {
    val (_, _, _, scores) = unigramCore(docs, textCol, maxPieceLen, nSeed, emRounds)
    UnigramModel(scores, maxPieceLen)
  }

  /** [[unigramServe]] against a [[UnigramModel]] — DP geometry comes
    * from the model, so serve-time segmentation cannot drift from the
    * training window. */
  def unigramServe(
      docs: DataFrame, textCol: String, idCol: String,
      model: UnigramModel, maxNllMicro: Long): DataFrame =
    unigramServe(docs, textCol, idCol, model.scores, maxNllMicro, model.maxPieceLen)

  /** The shared train core: (word-freq vocab frame, candidate pieces,
    * final EM counts, final scores). See [[unigramTrain]]. */
  private def unigramCore(
      docs: DataFrame, textCol: String, maxPieceLen: Int, nSeed: Int,
      emRounds: Int)
      : (DataFrame, Array[(String, Long)], Map[String, Long], Map[String, Long]) = {
    require(maxPieceLen >= 2 && maxPieceLen <= 7,
      "maxPieceLen in [2, 7]: the packed argmax stores the last-piece " +
        "length in the mod-8 residue, so j = 8 would alias to 0")
    require(nSeed >= 1 && emRounds >= 1, "need nSeed >= 1, emRounds >= 1")
    val words = docs.select(explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .materialize // the ONE corpus scan; EM iterates over this table
    // seed candidates: every substring of length 1..maxPieceLen weighted
    // by word frequency — all single chars (coverage guarantee: every
    // word stays segmentable in every round) + the nSeed most frequent
    // multi-char pieces, ties breaking lexicographically
    val subp = words.select(col("f"),
        explode(flatten(transform(sequence(lit(1), lit(maxPieceLen)), l =>
          filter(transform(sequence(lit(1), length(col("w"))),
            p => when(p + l - lit(1) <= length(col("w")),
              col("w").substr(p, l))),
            x => x.isNotNull)))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    val chars = subp.filter(length(col("piece")) === 1)
    val multi = subp.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(nSeed)
    val cands: Array[(String, Long)] = chars.unionByName(multi)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val v = cands.length
    // M-step: Laplace-smoothed micro-nat log-probs over the FIXED
    // candidate set (smoothing keeps every candidate scoreable in every
    // round — no ln(0) — and exactly mirrors the oracle's expression)
    def mstep(counts: Map[String, Long]): Map[String, Long] = {
      val full = cands.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
      val t = full.map(_._2).sum
      full.map { case (p, c) =>
        p -> math.round(1e6 * math.log((c + 1.0) / (t + v).toDouble))
      }.toMap
    }
    var counts: Map[String, Long] = cands.toMap
    var scores = mstep(counts)
    for (_ <- 1 to emRounds) {
      val m = typedLit(scores)
      // materialize before exploding: InferFiltersFromGenerate would
      // otherwise push a size(ps) > 0 filter BELOW the staging projects
      // with dp fully inlined — re-running the whole forward DP per
      // backward hop (the bloomWords Generate-over-HOF lesson); the
      // frame is vocab-sized, so the cut is cheap
      val seg = words
        .withColumn("w", guardedWordLen(col("w")))
        .withColumn("dp", viterbiDp(col("w"), m, maxPieceLen))
        .withColumn("ps", viterbiPieces(col("w"), col("dp")))
        .materialize
      counts = seg.select(col("f"), explode(col("ps")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      scores = mstep(counts)
    }
    (words, cands, counts, scores)
  }

  /** UNIGRAM-LM TOKENIZER TRAINING (SentencePiece-unigram style, hard
    * EM): seed a candidate vocabulary (all single chars + the `nSeed`
    * most frequent multi-char substrings up to `maxPieceLen`), then run
    * `emRounds` of Viterbi EM — E-step segments every vocabulary word
    * under the current piece scores (exact packed-integer DP, longest-
    * piece tie-break), M-step re-estimates Laplace-smoothed micro-nat
    * log-probs from the frequency-weighted piece counts. Returns
    * `(piece, plen, cnt, logp_micro, kept)` — the scored vocabulary a
    * tokenizer serves; `kept` marks pieces the final segmentation
    * actually uses (single chars always kept for coverage).
    *
    * Scale design — the corpus is scanned ONCE into the (word, freq)
    * vocabulary table (the [[bpeTrain]] trick: "the" is segmented once
    * with weight 10⁹, not 10⁹ times); every EM round is a map-only
    * Viterbi over that corpus-independent table plus one candidate-
    * bounded count collect (≤ nSeed + |alphabet| rows — the KMeans-
    * centroid bounded-driver pattern), and scores travel as a broadcast
    * map literal.
    *
    * Portability: DP sums are exact integers over micro-nat scores; the
    * only float steps are the per-piece `round(1e6·ln((c+1)/(T+V)))`
    * M-step terms (the accepted per-term-rounding ln convention), so the
    * DuckDB oracle replays every round — Viterbi via recursive CTEs,
    * M-step via the same expression.
    */
  def unigramTrain(
      docs: DataFrame, textCol: String,
      maxPieceLen: Int = 3, nSeed: Int = 32, emRounds: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, cands, counts, scores) =
      unigramCore(docs, textCol, maxPieceLen, nSeed, emRounds)
    cands.map { case (p, _) =>
      val c = counts.getOrElse(p, 0L)
      (p, p.length.toLong, c, scores(p), c > 0 || p.length == 1)
    }.toSeq.toDF("piece", "plen", "cnt", "logp_micro", "kept")
  }

  /** The shared pruned-train core: survivors with their final-round
    * segmentation counts and Laplace scores. See [[unigramTrainPruned]]. */
  private def unigramPrunedCore(
      docs: DataFrame, textCol: String, targetVocab: Int, pruneFrac: Double,
      maxPieceLen: Int, nSeed: Int, emRounds: Int, pruneRounds: Int)
      : Array[(String, Long, Long)] = {
    require(targetVocab >= 1, "targetVocab must be >= 1")
    require(pruneFrac > 0.0 && pruneFrac < 1.0, "pruneFrac in (0, 1)")
    require(pruneRounds >= 1, "need pruneRounds >= 1")
    // UTF-8 byte order for the loss tie-break — the collation Spark's
    // ORDER BY and DuckDB's binary VARCHAR comparison both use, so the
    // dropped set is engine-portable even off ASCII
    val utf8 = Ordering.comparatorToOrdering(
      java.util.Comparator.comparing[(Long, String), Array[Byte]](
        (t: (Long, String)) => t._2.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.util.Arrays.compareUnsigned(_, _)))
    implicit val dropOrder: Ordering[(Long, String)] =
      Ordering.by[(Long, String), Long](_._1).orElse(utf8)
    val (words, seed, _, scores0) =
      unigramCore(docs, textCol, maxPieceLen, nSeed, emRounds)
    var cands: Array[String] = seed.map(_._1)
    var scores: Map[String, Long] = scores0
    var counts: Map[String, Long] = Map.empty
    for (_ <- 1 to pruneRounds) {
      val m = typedLit(scores)
      // E-step under the current scores (same staging discipline as the
      // EM loop: materialize before exploding)
      val seg = words
        .withColumn("w", guardedWordLen(col("w")))
        .withColumn("dp", viterbiDp(col("w"), m, maxPieceLen))
        .withColumn("ps", viterbiPieces(col("w"), col("dp")))
        .materialize
      val segCounts = seg.select(col("f"), explode(col("ps")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val multi = cands.filter(_.length >= 2)
      // the schedule: drop the pruneFrac lowest-loss multi-char pieces,
      // clamped so the total never goes below targetVocab (single chars
      // are never candidates — coverage guarantee). floor() on the same
      // IEEE product both engines compute.
      val nDrop = math.min(
        math.floor(multi.length * pruneFrac).toLong,
        math.max(cands.length.toLong - targetVocab, 0L)).toInt
      if (nDrop > 0) {
        // per-piece likelihood loss: for every (word, used multi piece),
        // the exact DP score with that piece floored; pieces outside any
        // best segmentation lose nothing (banning them leaves the best
        // path intact), so only used pieces need a probe — the collect
        // is candidate-bounded like the EM counts
        val losses = seg
          .withColumn("sfull", viterbiScore(col("w"), col("dp")))
          .select(col("w"), col("f"), col("sfull"),
            explode(array_distinct(
              filter(col("ps"), p => length(p) >= 2))).as("ban"))
          .withColumn("sban",
            viterbiBanScore(col("w"), m, maxPieceLen, col("ban")))
          .groupBy(col("ban"))
          .agg(sum(col("f") * (col("sfull") - col("sban"))).as("loss"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        val dropped = multi.map(p => (losses.getOrElse(p, 0L), p))
          .sorted.take(nDrop).map(_._2).toSet
        cands = cands.filterNot(dropped)
      }
      // M-step over the survivors, from THIS round's segmentation counts
      counts = cands.map(p => p -> segCounts.getOrElse(p, 0L)).toMap
      val t = counts.valuesIterator.sum
      val v = cands.length
      scores = cands.map(p =>
        p -> math.round(1e6 * math.log((counts(p) + 1.0) / (t + v).toDouble))).toMap
    }
    cands.map(p => (p, counts(p), scores(p)))
  }

  /** SentencePiece-style vocabulary PRUNING schedule on top of the hard-EM
    * unigram trainer: after [[unigramTrain]]'s seed + `emRounds` warm-up,
    * run `pruneRounds` rounds of (E-step segment → per-piece likelihood
    * loss → drop the `pruneFrac` lowest-loss multi-char pieces, never
    * below `targetVocab` total → M-step over the survivors). The loss of
    * piece p is the exact corpus-likelihood drop if p left the
    * vocabulary: Σ_w f·(S(w) − S_minus_p(w)), both scores from the same
    * packed-integer DP (S_minus_p prices p at the absent floor, so only
    * pieces on some best path can have positive loss). This is what makes
    * the kept vocabulary QUALITY-shaped (pieces the model would miss)
    * rather than frequency-shaped (pieces that merely occur) — junk tails
    * prune away first. Single chars are never pruned: every word stays
    * segmentable in every round.
    *
    * Scale shape: identical to [[unigramTrain]] — per round one map-only
    * Viterbi over the corpus-independent (word, freq) table, plus one
    * map-only ban-probe pass over (word, used-piece) rows (≤ |words| ×
    * pieces-per-word, no shuffle beyond the candidate-bounded count
    * aggregations), and two candidate-bounded driver collects. Ties in
    * loss break on UTF-8 byte order of the piece — the collation both
    * engines' ORDER BY uses.
    *
    * Portability: losses are exact integer micro-nat sums; the DuckDB
    * oracle replays every prune round (segmentation and ban probes via
    * recursive-CTE Viterbi, the drop via the same floor/least/greatest
    * arithmetic and (loss, piece) ranking).
    */
  def unigramTrainPruned(
      docs: DataFrame, textCol: String,
      targetVocab: Int, pruneFrac: Double = 0.25,
      maxPieceLen: Int = 3, nSeed: Int = 32, emRounds: Int = 1,
      pruneRounds: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    unigramPrunedCore(docs, textCol, targetVocab, pruneFrac,
        maxPieceLen, nSeed, emRounds, pruneRounds)
      .map { case (p, c, s) => (p, p.length.toLong, c, s, c > 0 || p.length == 1) }
      .toSeq.toDF("piece", "plen", "cnt", "logp_micro", "kept")
  }

  /** [[unigramTrainPruned]] returning the geometry-carrying
    * [[UnigramModel]] over the pruned vocabulary — the serving form. */
  def unigramTrainPrunedModel(
      docs: DataFrame, textCol: String,
      targetVocab: Int, pruneFrac: Double = 0.25,
      maxPieceLen: Int = 3, nSeed: Int = 32, emRounds: Int = 1,
      pruneRounds: Int = 2): UnigramModel =
    UnigramModel(
      unigramPrunedCore(docs, textCol, targetVocab, pruneFrac,
        maxPieceLen, nSeed, emRounds, pruneRounds)
        .map { case (p, _, s) => p -> s }.toMap,
      maxPieceLen)

  /** CCNet-style LM QUALITY GATE from the unigram model: per document,
    * the mean negative log-likelihood per piece of the Viterbi
    * segmentation (`nll_micro`, integer micro-nats — perplexity is
    * exp(nll), monotone, so gating on nll IS the perplexity filter) and
    * a keep flag at `maxNllMicro`. High nll = text the corpus-trained LM
    * finds surprising (noise, boilerplate in another script, binary-ish
    * junk); the classic pre-training screen run right after
    * deduplication. Exact integers on top of [[unigramEncode]]'s
    * outputs: `nll_micro = (−logp_micro) DIV n_pieces` — engine-portable
    * with zero new float steps, same map-only scale shape.
    */
  def unigramQualityGate(
      docs: DataFrame, textCol: String, idCol: String,
      maxNllMicro: Long,
      maxPieceLen: Int = 3, nSeed: Int = 32, emRounds: Int = 2): DataFrame = {
    require(maxNllMicro > 0, "maxNllMicro must be positive micro-nats")
    unigramEncode(docs, textCol, idCol, maxPieceLen, nSeed, emRounds)
      .withColumn("nll_micro", expr("(-logp_micro) DIV n_pieces"))
      .select(col("doc"), col("n_tokens"), col("n_pieces"),
        col("nll_micro"), (col("nll_micro") < maxNllMicro).as("keep"))
  }

  /** UNIGRAM-LM ENCODE: train as [[unigramTrain]], then Viterbi-segment
    * each DISTINCT corpus word once under the final scores and price
    * every document through the (doc, word) count join — `(doc,
    * n_tokens, n_pieces, logp_micro)` where n_pieces is the total piece
    * count and logp_micro the summed segmentation log-likelihood (the
    * compression + perplexity readout a tokenizer eval wants). Same
    * vocab-level discipline as [[bpeEncode]]: the segmentation cost is
    * corpus-independent, the pricing join is one vocab-sized equi-join.
    */
  def unigramEncode(
      docs: DataFrame, textCol: String, idCol: String,
      maxPieceLen: Int = 3, nSeed: Int = 32, emRounds: Int = 2): DataFrame = {
    val (words, _, _, scores) =
      unigramCore(docs, textCol, maxPieceLen, nSeed, emRounds)
    val m = typedLit(scores)
    val seg = words
      .withColumn("w", guardedWordLen(col("w")))
      .withColumn("dp", viterbiDp(col("w"), m, maxPieceLen))
      .withColumn("ps", viterbiPieces(col("w"), col("dp")))
      .select(col("w"), size(col("ps")).cast("bigint").as("n_p"),
        viterbiScore(col("w"), col("dp")).as("lp"))
    docs.select(col(idCol).as("doc"), explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("doc"), col("w")).agg(count(lit(1)).as("c"))
      .join(seg, Seq("w"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("n_p")).as("n_pieces"),
        sum(col("c") * col("lp")).as("logp_micro"))
  }

  /** [[unigramServe]] with the vocabulary-level discipline of
    * [[unigramEncode]]: Viterbi-segment each DISTINCT word ONCE under the
    * frozen model, then price every document through the (doc, word)
    * count join — row-for-row equal to [[unigramServe]]
    * (StreamingUnigramServeSpec pins it). Two keyed shuffles instead of
    * zero, but the DP runs per distinct word instead of per token
    * INSTANCE — under Zipfian repetition that is the difference between
    * vocabulary-sized and corpus-sized segmentation work, so this is the
    * batch / foreachBatch serving shape; the map-only [[unigramServe]]
    * remains the stateless streaming-transform path.
    */
  def unigramServeByVocab(
      docs: DataFrame, textCol: String, idCol: String,
      model: UnigramModel, maxNllMicro: Long): DataFrame =
    unigramServeFromWordCounts(
      docWordCounts(docs, textCol, idCol), model, maxNllMicro)

  /** The model-independent per-document word-count frame `(doc, w, c)`
    * behind the vocabulary-join serving/counting paths — ONE tokenize
    * scan that [[unigramServeFromWordCounts]] (the LM gate) and
    * [[unigramCountsFromWordTotals]] (the refresh fold) both resolve
    * through. Persist it when more than one consumer reads it (the
    * composed front door does: the LM serve and the kept-counts fold
    * used to tokenize the same survivors twice each batch).
    */
  def docWordCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc"), explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("doc"), col("w")).agg(count(lit(1)).as("c"))

  /** [[unigramServeByVocab]] over a precomputed [[docWordCounts]] frame
    * — row-for-row equal (it IS the same plan; the public wrapper just
    * builds the frame inline). The vocabulary DP derives from the
    * frame's distinct words instead of re-tokenizing the corpus.
    */
  def unigramServeFromWordCounts(
      dwc: DataFrame, model: UnigramModel, maxNllMicro: Long): DataFrame = {
    require(maxNllMicro > 0, "maxNllMicro must be positive micro-nats")
    dwc
      .join(unigramVocabServe(dwc.select(col("w")), model), Seq("w"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("n_p")).as("n_pieces"),
        sum(col("c") * col("lp")).as("logp"))
      .withColumn("nll_micro", expr("(-logp) DIV n_pieces"))
      .select(col("doc"), col("n_tokens"), col("n_pieces"),
        col("nll_micro"), (col("nll_micro") < maxNllMicro).as("keep"))
  }

  /** The vocabulary SERVE TABLE under a frozen model: `(w, n_p, lp)` —
    * piece count and summed piece log-prob of the best segmentation —
    * for every distinct word of the input's `w` column. The DP runs per
    * DISTINCT word (vocabulary-bounded); [[unigramServeFromWordCounts]]
    * joins it back to (doc, word) counts, and [[CurationFunnel.decide]]
    * collects it into broadcast map literals to price tokens map-only
    * (both end at the identical per-document sums, since long addition
    * is order-free).
    */
  def unigramVocabServe(words: DataFrame, model: UnigramModel): DataFrame = {
    val m = typedLit(model.scores)
    words.select(col("w")).distinct()
      .withColumn("w", guardedWordLen(col("w")))
      .withColumn("dp", viterbiDp(col("w"), m, model.maxPieceLen))
      .withColumn("ps", viterbiPieces(col("w"), col("dp")))
      .select(col("w"), size(col("ps")).cast("bigint").as("n_p"),
        viterbiScore(col("w"), col("dp")).as("lp"))
  }

  /** Frequency-weighted piece counts of a corpus segmented under a
    * FROZEN [[UnigramModel]], zero-filled over the model's CLOSED piece
    * vocabulary — the additive statistic behind [[unigramRefresh]].
    * Out-of-vocabulary pieces (characters the training corpus never
    * saw) are dropped: refresh re-weights the frozen piece set, it does
    * not grow it (growing the vocabulary is a retrain — exactly the
    * IVF-PQ codebook discipline of q277).
    *
    * Scale shape: ONE corpus scan into the (word, freq) vocabulary
    * table, one map-only Viterbi over it (scores broadcast as a map
    * literal), one vocabulary-bounded aggregation. Because segmentation
    * under frozen scores is a pure per-word function and word
    * frequencies are additive across corpus shards, these counts are
    * ADDITIVE: counts(A) + counts(B) = counts(A ∪ B) bit-for-bit for
    * id-disjoint corpora (UnigramTokenizerSpec pins it) — so a stored
    * counts table absorbs a delta corpus without re-reading the base.
    */
  def unigramCounts(
      docs: DataFrame, textCol: String, model: UnigramModel): DataFrame =
    unigramCountsFromWordTotals(
      docs.select(explode(T.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f")),
      model)

  /** [[unigramCounts]] over precomputed word TOTALS `(w, f)` — e.g. a
    * [[docWordCounts]] frame folded over the kept documents, which is
    * how the refresh cadence shares the front door's one tokenize scan
    * instead of re-reading kept text. Bit-identical to [[unigramCounts]]
    * on the corpus the totals came from (it IS the same plan tail).
    */
  def unigramCountsFromWordTotals(
      wordTotals: DataFrame, model: UnigramModel): DataFrame = {
    val spark = wordTotals.sparkSession
    import spark.implicits._
    val m = typedLit(model.scores)
    val seg = wordTotals.select(col("w"), col("f"))
      .withColumn("w", guardedWordLen(col("w")))
      .withColumn("dp", viterbiDp(col("w"), m, model.maxPieceLen))
      .materialize // vocab-sized cut; see unigramCore on Generate-over-DP
      .select(col("f"), explode(viterbiPieces(col("w"), col("dp"))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    model.scores.keysIterator.toSeq.sorted.toDF("piece")
      .join(seg, Seq("piece"), "left")
      .na.fill(0L, Seq("cnt"))
  }

  /** INCREMENTAL UNIGRAM-LM REFRESH: merge a stored base counts table
    * with a delta corpus's counts (both from [[unigramCounts]] under the
    * SAME frozen model) and re-derive the Laplace micro-nat scores —
    * `(piece, plen, cnt_base, cnt_delta, cnt, logp_micro)`. Because
    * counts are additive, the refreshed scores are BIT-IDENTICAL to an
    * M-step over the union corpus: the tokenizer's score table tracks a
    * growing corpus at delta cost, never re-reading yesterday's data —
    * the LM analog of the incremental fingerprint index (q149), merged
    * bloom (q281), and frozen-codebook delta encode (q277).
    *
    * The score expression replicates the trainer's M-step exactly
    * (`floor(1e6·ln((c+1)/(T+V)) + 0.5)` — math.round semantics), so a
    * refreshed model serves byte-identically to one trained with these
    * counts.
    */
  def unigramRefresh(cntBase: DataFrame, cntDelta: DataFrame): DataFrame = {
    // full outer + zero fill: bit-identical to an inner join when both
    // inputs are zero-filled over the same closed vocabulary (the
    // unigramCounts contract), and correct — never silently
    // vocabulary-shrinking — when a caller passes a SPARSE counts table
    // (e.g. a stored table that drops zero rows)
    val merged = cntBase.select(col("piece"), col("cnt").as("cnt_base"))
      .join(cntDelta.select(col("piece"), col("cnt").as("cnt_delta")),
        Seq("piece"), "full_outer")
      .na.fill(0L, Seq("cnt_base", "cnt_delta"))
      .withColumn("cnt", col("cnt_base") + col("cnt_delta"))
    // Laplace totals via a one-row aggregate broadcast back (never an
    // unpartitioned window — PlanInvariantSpec forbids those even on
    // this vocabulary-bounded frame)
    val tv = merged.agg(
      sum(col("cnt")).as("__t"), count(lit(1)).as("__v"))
    merged.crossJoin(broadcast(tv))
      .select(col("piece"), length(col("piece")).cast("bigint").as("plen"),
        col("cnt_base"), col("cnt_delta"), col("cnt"),
        floor(lit(1e6) * log((col("cnt") + lit(1.0)) /
          (col("__t") + col("__v")).cast("double")) + lit(0.5))
          .cast("bigint").as("logp_micro"))
  }

  /** [[unigramRefresh]] folded back into a servable [[UnigramModel]]
    * (bounded collect — the vocabulary is the broadcastable artifact). */
  def unigramRefreshModel(
      cntBase: DataFrame, cntDelta: DataFrame, model: UnigramModel): UnigramModel =
    UnigramModel(
      unigramRefresh(cntBase, cntDelta)
        .select(col("piece"), col("logp_micro"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      model.maxPieceLen)

  /** Per-word Viterbi SEGMENTATION TABLE under a frozen model:
    * `(w, ps)` for every distinct word of the input's `w` column.
    * Segmentation under frozen scores is a pure per-word function, so
    * these rows are storable FOREVER alongside the model — the
    * incremental vocabulary artifact: a growing corpus segments only
    * its NEW words per batch (anti-join against the stored table) while
    * counts/pricing resolve through the table, exactly the
    * fingerprint-index discipline applied to the tokenizer
    * ([[unigramCountsFromSegments]] consumes it; the streaming funnel's
    * refresh cadence stores it as `segDir/batch_id=N` partitions).
    */
  def unigramSegments(words: DataFrame, model: UnigramModel): DataFrame = {
    val m = typedLit(model.scores)
    words.select(col("w")).filter(col("w").isNotNull).distinct()
      .withColumn("w", guardedWordLen(col("w")))
      .withColumn("dp", viterbiDp(col("w"), m, model.maxPieceLen))
      .materialize // vocab-sized cut; see unigramCore on Generate-over-DP
      .select(col("w"), viterbiPieces(col("w"), col("dp")).as("ps"))
  }

  /** [[unigramCounts]] resolved through a stored [[unigramSegments]]
    * table instead of re-running the DP: frequency-weighted piece
    * counts of `wordCounts` (w, f), zero-filled over the model's closed
    * vocabulary, OOV pieces dropped — BIT-IDENTICAL to
    * [[unigramCounts]] on the same corpus when `segments` was built
    * under the same frozen model (UnigramTokenizerSpec pins it). Words
    * MISSING from the table self-heal: the DP runs inline for exactly
    * those rows (a coalesce fallback — correctness never depends on the
    * caller's anti-join being exhaustive; the table only decides how
    * much DP work is saved).
    */
  def unigramCountsFromSegments(
      wordCounts: DataFrame, segments: DataFrame,
      model: UnigramModel): DataFrame = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val m = typedLit(model.scores)
    val seg = wordCounts.select(col("w"), col("f"))
      .join(segments.select(col("w"), col("ps")), Seq("w"), "left")
      .withColumn("w", guardedWordLen(col("w")))
      .withColumn("ps", coalesce(col("ps"),
        viterbiPieces(col("w"), viterbiDp(col("w"), m, model.maxPieceLen))))
      .materialize // attribute-ize ps before the explode (Generate trap)
      .select(col("f"), explode(col("ps")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    model.scores.keysIterator.toSeq.sorted.toDF("piece")
      .join(seg, Seq("piece"), "left")
      .na.fill(0L, Seq("cnt"))
  }
}
