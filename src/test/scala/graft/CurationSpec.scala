package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Pins the curation-stage semantics beyond the single parameter point the
  * oracle queries check: rule edge cases, shard/ sample determinism, the
  * CMS overestimate invariant, and the duplicated-span ground truth on a
  * constructed corpus.
  */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables.table(spark, sfDir, "documents").cache()

  test("gopherRules: empty and bullet-heavy docs are filtered, normal prose keeps") {
    val d = Seq(
      (1L, "the cat sat on the mat and that dog came to be with us have fun of it all right then"),
      (2L, ""),
      (3L, "- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine\n- ten"),
      (4L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")
    ).toDF("doc_id", "text")
    val r = Curation.gopherRules(d, "text", "doc_id", minWords = 5, maxWords = 100)
      .collect().map(row => row.getAs[Long]("doc") -> row).toMap
    assert(r(1L).getAs[Boolean]("keep"), "normal prose should keep")
    assert(!r(2L).getAs[Boolean]("keep") && r(2L).getAs[Long]("n_words") === 0L)
    assert(!r(3L).getAs[Boolean]("f_bullet"), "10/10 bullet lines breaches < 90%")
    assert(!r(4L).getAs[Boolean]("f_mean_len"), "83-char word breaches mean <= 10")
  }

  test("gopherRules signals are integers computed on the real corpus") {
    val r = Curation.gopherRules(docs, "text", "doc_id", minWords = 20)
    assert(r.filter(col("alpha_word_bps") > 10000 || col("alpha_word_bps") < 0).count() === 0)
    assert(r.count() === docs.count())
  }

  test("gopherRules codegen counters equal the HOF formulation on the " +
      "real corpus plus unicode edges") {
    import graft.functions.{TextFunctions => T}
    // the interpreted chain the GopherTokenStats expression replaced —
    // recomputed here verbatim as the ground truth
    val edge = Seq(
      (100001L, "héllo wörld ... naïve café ΑΒΓ δεζ 123 ---"),
      (100002L, "あいう ÉTÉ x"),
      (100003L, "   "),
      (100004L, "MiXeD CaSe TOKENS with_underscores and.dots")
    ).toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val hof = d
      .withColumn("w", T.tokens(col("text")))
      .select(col("doc_id"),
        size(col("w")).cast("bigint").as("e_words"),
        expr("aggregate(w, 0L, (a, t) -> a + length(t))").as("e_sum"),
        size(filter(col("w"), t => t.rlike("[a-z]"))).cast("bigint").as("e_alpha"))
    for (stats <- Seq[org.apache.spark.sql.Column](
        // array-level fusion (counters only) and full text-level fusion
        // (tokenization folded in) must BOTH equal the HOF ground truth
        org.apache.spark.sql.graftvec.TextExprs
          .gopherTokenStatsCol(T.tokens(col("text"))),
        org.apache.spark.sql.graftvec.TextExprs
          .gopherTextStatsCol(col("text")))) {
      val cg = d
        .withColumn("__gs", stats)
        .select(col("doc_id"), col("__gs").getItem(0).as("g_words"),
          col("__gs").getItem(1).as("g_sum"), col("__gs").getItem(2).as("g_alpha"))
      val diff = hof.join(cg, Seq("doc_id"))
        .filter(col("e_words") =!= col("g_words") ||
          col("e_sum") =!= col("g_sum") || col("e_alpha") =!= col("g_alpha"))
      assert(diff.count() === 0L, diff.collect().mkString("; "))
    }
  }

  test("gopherWordGate (the front door's stage-1 gate) equals the " +
      "gopherRules flag conjunction row-for-row") {
    // each division-free flag of gopherWordFlags must also equal its
    // threshold on the reported (divided) signal
    val edge = Seq(
      (200001L, null.asInstanceOf[String]), // NULL text -> false, not NULL
      (200002L, ""),
      (200003L, "the be to of and that have with " * 5),
      (200004L, "ab " * 25) // mean len 2 -> fails f_mean_len
    ).toDF("doc_id", "text")
    val d = docs.select(col("doc_id"), col("text")).unionByName(edge)
    for ((lo, hi) <- Seq((20, 100000), (1, 30), (5, 49))) {
      val viaSignals = Curation.gopherRules(d, "text", "doc_id", lo, hi)
        .select(col("doc").as("doc_id"), col("f_words"), col("f_mean_len"), col("f_alpha"),
          col("n_words").between(lo, hi).as("e_words"),
          col("mean_word_len_centi").between(300L, 1000L).as("e_mean_len"),
          (col("alpha_word_bps") >= 8000L).as("e_alpha"))
      val viaGate = d.select(col("doc_id"),
        Curation.gopherWordGate(col("text"), lo, hi).as("g"))
      val diff = viaSignals.join(viaGate, Seq("doc_id"))
        .filter(!(col("f_words") <=> col("e_words")) ||
          !(col("f_mean_len") <=> col("e_mean_len")) ||
          !(col("f_alpha") <=> col("e_alpha")) ||
          col("g") =!= coalesce(col("e_words") && col("e_mean_len") && col("e_alpha"),
            lit(false)) ||
          col("g").isNull)
      assert(diff.count() === 0L, s"[$lo,$hi] " + diff.collect().mkString("; "))
    }
  }

  test("corpusShards: every doc gets a shard in range and contiguous positions per shard") {
    val s = Curation.corpusShards(docs, "doc_id", nShards = 8).cache()
    assert(s.filter(col("shard") < 0 || col("shard") >= 8).count() === 0)
    // positions are 1..count(shard) with no gaps: max == count per shard
    val bad = s.groupBy("shard")
      .agg(max("pos").as("mx"), count(lit(1)).as("c"))
      .filter(col("mx") =!= col("c")).count()
    assert(bad === 0L)
    // rerun-stable under repartitioning
    val again = Curation.corpusShards(docs.repartition(7), "doc_id", nShards = 8)
    assert(s.except(again).count() === 0L)
    s.unpersist()
  }

  test("corpusShards writer path: repartition by shard yields shard-pure sorted files") {
    val dir = tempDir("graft-shards-") + "/out"
    Curation.corpusShards(docs, "doc_id", nShards = 4)
      .repartition(col("shard"))
      .sortWithinPartitions(col("pos"))
      .write.partitionBy("shard").parquet(dir)
    // shard=N directory layout, each file pos-sorted, positions covering
    // 1..count with no gaps — the layout a 1000-executor training-shuffle
    // writer needs (readers stream any shard independently, in order)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.toString)
    assert(shardDirs.length === 4)
    shardDirs.foreach { d =>
      val pos = spark.read.parquet(d).select(col("pos")).collect().map(_.getLong(0))
      assert(pos.sameElements(pos.sorted), s"shard dir $d not pos-sorted")
      assert(pos.head === 1L && pos.last === pos.length.toLong, s"shard dir $d has gaps")
    }
  }

  test("dupSpans finds a shared 64-char block and nothing in unique text") {
    val shared = "x" * 10 + "this exact block of characters repeats across both documents!" + "y" * 10
    val d = Seq(
      (1L, s"prefix one $shared suffix one padded to be long enough for grams"),
      (2L, s"another beginning $shared and a different ending entirely here"),
      (3L, "totally unique content with no overlap whatsoever in this document at all")
    ).toDF("doc_id", "text")
    val r = Curation.dupSpans(d, "text", "doc_id", gramLen = 32, stride = 1)
      .collect().map(row => row.getAs[Long]("doc") -> row.getAs[Long]("dup_grams")).toMap
    assert(r(1L) > 0 && r(2L) > 0, "shared block must register duplicated grams")
    assert(r(3L) === 0L, "unique doc has no cross-doc grams")
  }

  test("removeDupSpans deletes the shared block everywhere but the keeper doc") {
    val shared = "0123456789" * 5 // 50 chars -> every 32-gram inside is shared
    val d = Seq(
      (1L, s"AAAA ${shared} BBBB"),
      (2L, s"CCCC ${shared} DDDD"),
      (3L, "this text is entirely unique and long enough to produce many grams")
    ).toDF("doc_id", "text")
    val r = Curation.removeDupSpans(d, "text", "doc_id", gramLen = 32)
      .collect().map(row => row.getAs[Long]("doc") -> row).toMap
    // doc 1 is the keeper (min id): untouched
    assert(r(1L).getAs[Long]("chars_removed") === 0L)
    assert(r(1L).getAs[String]("clean_text") === s"AAAA ${shared} BBBB")
    // doc 2 loses exactly the shared window span (one maximal island)
    assert(r(2L).getAs[Long]("n_spans") === 1L)
    assert(r(2L).getAs[Long]("chars_removed") > 0L)
    assert(!r(2L).getAs[String]("clean_text").contains(shared))
    assert(r(2L).getAs[String]("clean_text").startsWith("CCCC"))
    assert(r(2L).getAs[String]("clean_text").endsWith("DDDD"))
    // unique doc untouched
    assert(r(3L).getAs[Long]("chars_removed") === 0L)
    assert(r(3L).getAs[String]("clean_text") ===
      "this text is entirely unique and long enough to produce many grams")
  }

  test("removeDupSpans: an exact duplicate doc is fully erased except the keeper") {
    val txt = "exactly the same forty-eight character document!"
    val d = Seq((10L, txt), (20L, txt)).toDF("doc_id", "text")
    val r = Curation.removeDupSpans(d, "text", "doc_id", gramLen = 32)
      .collect().map(row => row.getAs[Long]("doc") -> row).toMap
    assert(r(10L).getAs[String]("clean_text") === txt)
    assert(r(20L).getAs[String]("clean_text") === "")
    assert(r(20L).getAs[Long]("chars_removed") === txt.length.toLong)
  }

  test("removeDupSpans matches a brute-force reference on seeded random corpora") {
    // reference: a position's span [i, i+L) is removable iff its gram
    // occurs in >= 2 docs and this doc is not the min doc containing it;
    // clean text = chars outside the union of removable spans
    def reference(corpus: Seq[(Long, String)], L: Int): Map[Long, (String, Long)] = {
      val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
      for ((id, txt) <- corpus; i <- 0 to txt.length - L)
        gramDocs.getOrElseUpdate(txt.substring(i, i + L), scala.collection.mutable.Set()) += id
      corpus.map { case (id, txt) =>
        val removed = Array.fill(txt.length)(false)
        for (i <- 0 to txt.length - L) {
          val ds = gramDocs(txt.substring(i, i + L))
          if (ds.size >= 2 && ds.min != id)
            (i until i + L).foreach(removed(_) = true)
        }
        val clean = txt.zipWithIndex.collect { case (c, i) if !removed(i) => c }.mkString
        id -> ((clean, removed.count(identity).toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(42)
    val words = Vector("scan", "sort", "join", "agg", "key", "row", "col", "hash")
    val blocks = Vector.fill(3)(Vector.fill(10)(words(rnd.nextInt(words.size))).mkString(" "))
    val corpus = (0L until 20L).map { id =>
      val body = Vector.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")
      // plant a shared block in ~half the docs
      val planted = if (rnd.nextBoolean()) s"$body ${blocks(rnd.nextInt(3))} $body" else body
      id -> planted
    }
    val expect = reference(corpus, 32)
    val got = Curation.removeDupSpans(corpus.toDF("doc_id", "text"), "text", "doc_id", gramLen = 32)
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("chars_removed")))).toMap
    assert(got === expect)
    graft.operators.Dedup.releaseCaches()
  }

  test("removeDupSpans: one multi-MB document among small ones — no task blowup") {
    // the stride-1 gram explosion is len(doc) rows for the giant doc; the
    // (g, doc) partial aggregation absorbs the per-doc key skew map-side,
    // so a single pathological document must not stall the job or skew a
    // single task. 2 MB doc -> ~2M gram rows through the full pipeline.
    val rnd = new scala.util.Random(7)
    val giant = {
      val sb = new StringBuilder(2 * 1000 * 1000)
      while (sb.length < 2 * 1000 * 1000) sb.append((' ' + rnd.nextInt(90)).toChar)
      sb.toString
    }
    val shared = "0123456789abcdefghijklmnopqrstuvwxyz" // 36 chars, dup'd
    val d = Seq(
      (1L, giant),
      (2L, s"left pad ${shared} right pad making this long enough"),
      (3L, s"other pad ${shared} trailing text that is also unique here")
    ).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val r = Curation.removeDupSpans(d, "text", "doc_id", gramLen = 32)
      .collect().map(row => row.getAs[Long]("doc") -> row).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    graft.operators.Dedup.releaseCaches()
    // giant doc: random bytes share no 32-gram with anything -> untouched
    assert(r(1L).getAs[Long]("chars_removed") === 0L)
    assert(r(1L).getAs[String]("clean_text").length === giant.length)
    // the small pair still dedups correctly in the giant's presence
    assert(r(2L).getAs[Long]("chars_removed") === 0L) // keeper
    assert(r(3L).getAs[Long]("chars_removed") > 0L)
    assert(!r(3L).getAs[String]("clean_text").contains(shared))
    // generous wall-clock bound: catches accidental quadratic regressions
    assert(secs < 120.0, s"2 MB doc took ${secs}s — single-task blowup?")
    info(f"2 MB giant document processed in $secs%.1f s")
  }

  test("removeDupSpans counts codepoints, not UTF-16 units, on multibyte text") {
    // 40 non-BMP emoji: Java String.length = 80 code units, but Spark
    // strings are codepoint-addressed — chars_removed must say 40
    val emoji = "🎉" * 40
    val cjk = "漢字テスト" * 8 // 40 BMP codepoints
    val d = Seq(
      (1L, emoji), (2L, emoji),
      (3L, cjk), (4L, cjk)
    ).toDF("doc_id", "text")
    val r = Curation.removeDupSpans(d, "text", "doc_id", gramLen = 32)
      .collect().map(row => row.getAs[Long]("doc") ->
        ((row.getAs[String]("clean_text"), row.getAs[Long]("chars_removed")))).toMap
    assert(r(1L) === ((emoji, 0L)), "keeper emoji doc untouched")
    assert(r(2L) === (("", 40L)), "dup emoji doc erased, counted in codepoints")
    assert(r(3L) === ((cjk, 0L)))
    assert(r(4L) === (("", 40L)))
    graft.operators.Dedup.releaseCaches()
  }

  test("dedupLines: first occurrence survives, short lines always pass, text round-trips") {
    val boiler = "subscribe to our newsletter for updates today" // 45 chars
    val d = Seq(
      (1L, s"alpha unique content line number one here\n$boiler\n--"),
      (2L, s"$boiler\nbeta unique content line number two here\n--"),
      (3L, "gamma entirely unique document with no duplicate lines at all")
    ).toDF("doc_id", "text")
    val r = Curation.dedupLines(d, "text", "doc_id", minLen = 20)
      .collect().map(row => row.getAs[Long]("doc") -> row).toMap
    // doc 1 holds the first occurrence: full round-trip
    assert(r(1L).getAs[Long]("n_removed") === 0L)
    assert(r(1L).getAs[String]("clean_text")
      === s"alpha unique content line number one here\n$boiler\n--")
    // doc 2 loses only the boilerplate line; the short "--" separator stays
    assert(r(2L).getAs[Long]("n_removed") === 1L)
    assert(r(2L).getAs[String]("clean_text")
      === "beta unique content line number two here\n--")
    // untouched doc round-trips bit-for-bit
    assert(r(3L).getAs[Long]("n_removed") === 0L)
    assert(r(3L).getAs[String]("clean_text")
      === "gamma entirely unique document with no duplicate lines at all")
    assert(r(3L).getAs[Long]("n_lines") === 1L)
    // within one doc, a repeated long line also dedups to its first index
    val selfDup = Seq((7L, s"$boiler\nmiddle unique line of doc seven\n$boiler"))
      .toDF("doc_id", "text")
    val r7 = Curation.dedupLines(selfDup, "text", "doc_id", minLen = 20).head()
    assert(r7.getAs[Long]("n_removed") === 1L)
    assert(r7.getAs[String]("clean_text")
      === s"$boiler\nmiddle unique line of doc seven")
  }

  test("removeBoilerplate: group-scoped df threshold, no keeper, short lines pass") {
    val banner = "all rights reserved example dot com cookie banner" // >= 20 chars
    val d = Seq(
      // group A: banner in 2 docs = maxDocs -> removed from BOTH (no keeper)
      (1L, "a", s"alpha body line with real content here\n$banner\n--"),
      (2L, "a", s"$banner\nbeta body line with real content here"),
      // group B: the SAME banner in only 1 doc -> below threshold, kept
      (3L, "b", s"gamma body line with real content here\n$banner"),
      // group A: a repeated SHORT line never counts as boilerplate
      (4L, "a", "--\ndelta body line with real content here\n--")
    ).toDF("doc_id", "grp", "text")
    val r = Curation.removeBoilerplate(d, "text", "doc_id", "grp",
        minLen = 20, maxDocs = 2)
      .collect().map(row => row.getAs[Long]("doc") -> row).toMap
    assert(r(1L).getAs[Long]("n_removed") === 1L)
    assert(r(1L).getAs[String]("clean_text")
      === "alpha body line with real content here\n--")
    assert(r(2L).getAs[Long]("n_removed") === 1L, "no first-occurrence keeper")
    assert(r(2L).getAs[String]("clean_text")
      === "beta body line with real content here")
    assert(r(3L).getAs[Long]("n_removed") === 0L, "df threshold is per group")
    assert(r(3L).getAs[String]("clean_text")
      === s"gamma body line with real content here\n$banner")
    assert(r(4L).getAs[Long]("n_removed") === 0L)
    assert(r(4L).getAs[String]("clean_text")
      === "--\ndelta body line with real content here\n--")
    // rerun-stable under repartitioning (aggregation-keyed, no window)
    val again = Curation.removeBoilerplate(d.repartition(5), "text", "doc_id", "grp",
      minLen = 20, maxDocs = 2)
    assert(Curation.removeBoilerplate(d, "text", "doc_id", "grp", minLen = 20, maxDocs = 2)
      .except(again).count() === 0L)
  }

  test("weightedSample: exactly k rows, weight-monotone inclusion, rerun-stable") {
    // two deterministic corpora sharing ids: heavy docs (w=1000) vs light
    // (w=1); with k = half, heavy docs must dominate the sample
    val d = (1L to 200L).map(i => (i, if (i <= 100) 1000L else 1L)).toDF("doc_id", "wt")
    val s = Curation.weightedSample(d, "doc_id", "wt", k = 100).cache()
    assert(s.count() === 100L)
    val heavy = s.filter(col("doc") <= 100).count()
    assert(heavy >= 90L, s"heavy-weight docs should dominate, got $heavy/100")
    // ranks are 1..k and ordered by the key
    val rows = s.orderBy(col("rk")).collect()
    assert(rows.map(_.getAs[Long]("rk")).toSeq === (1L to 100L))
    assert(rows.map(_.getAs[Long]("key_nano")).toSeq.reverse.sorted.reverse
      === rows.map(_.getAs[Long]("key_nano")).toSeq, "descending key order")
    // rerun-stable under repartitioning (hash-derived, no RNG state)
    val again = Curation.weightedSample(d.repartition(7), "doc_id", "wt", k = 100)
    assert(s.except(again).count() === 0L)
    // zero/negative weights are never sampled
    val z = Curation.weightedSample(
      Seq((1L, 0L), (2L, -5L), (3L, 10L)).toDF("doc_id", "wt"), "doc_id", "wt", k = 3)
    assert(z.select("doc").as[Long].collect().toSeq === Seq(3L))
    s.unpersist()
  }

  test("weightedSample plans the top-k as TakeOrderedAndProject, not a global sort") {
    val plan = Curation.weightedSample(docs, "doc_id", "n_chars", k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan, got:\n$plan")
  }

  test("bigramNll: target-like text scores lower NLL than shuffled gibberish") {
    // model trained on the is_target docs; a fluent doc reusing target
    // bigrams must average lower NLL than one with the same tokens in
    // an order whose bigrams the model never saw
    val target = (1L to 6L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again", true))
    val fluent = (100L, "the quick brown fox jumps over the dog", false)
    val gibberish = (101L, "dog the over quick jumps fox brown the", false)
    val d = (target :+ fluent :+ gibberish).toDF("doc_id", "text", "is_en")
    val r = Curation.bigramNll(d, "text", "doc_id", targetPred = col("is_en"))
      .collect().map(row => row.getAs[Long]("doc") -> row.getAs[Long]("avg_nll_micro")).toMap
    assert(r(100L) < r(101L),
      s"fluent=${r(100L)} must beat gibberish=${r(101L)}")
    // scores are deterministic under repartition (exact integer sums)
    val again = Curation.bigramNll(d.repartition(7), "text", "doc_id", col("is_en"))
      .collect().map(row => row.getAs[Long]("doc") -> row.getAs[Long]("avg_nll_micro")).toMap
    assert(again === r)
    graft.operators.Dedup.releaseCaches()
  }

  test("importanceWeights ranks a target-vocabulary doc above an off-target doc") {
    val d = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "alpha beta gamma delta", true),
      (3L, "omega psi chi omega psi", false),
      (4L, "omega psi chi phi", false)
    ).toDF("doc_id", "text", "tgt")
    val w = Curation.importanceWeights(d, "text", "doc_id", targetPred = col("tgt"))
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("weight_micro")).toMap
    assert(w(1L) > w(3L), "target-vocab doc must outweigh off-target doc")
    assert(w(2L) > w(4L))
    graft.operators.Dedup.releaseCaches()
  }

  test("cmsHeavyHitters: estimate is always >= exact (CMS one-sided error)") {
    val r = Curation.cmsHeavyHitters(docs, "text", "doc_id",
      depth = 4, width = 256, minCount = 10L)
    assert(r.count() > 0, "expect some heavy hitters at minCount=10")
    assert(r.filter(col("cms_est") < col("exact")).count() === 0L)
    // width large enough that at least the top hitter is exact (no collision)
    val wide = Curation.cmsHeavyHitters(docs, "text", "doc_id",
      depth = 4, width = 65536, minCount = 10L)
    assert(wide.filter(col("cms_est") === col("exact")).count() > 0)
    graft.operators.Dedup.releaseCaches()
  }

  test("temperatureMix: single source keeps at targetFrac rate; rates favor small sources") {
    // one source -> rate = targetFrac exactly (w cancels)
    val one = Curation.temperatureMix(
      docs.withColumn("only", lit("all")), "doc_id", "only", targetFrac = 1.0)
    assert(one.filter(col("keep") === 0).count() === 0L, "targetFrac=1 keeps everything")
    val mixed = Curation.temperatureMix(docs, "doc_id", "source", targetFrac = 0.5)
      .cache()
    // every source's rate in (0, 1]; expected kept total ~ targetFrac * N
    val rates = mixed.select(col("src"), col("rate_ppm")).distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates.values.forall(p => p > 0 && p <= 1000000L))
    val expectedKept = mixed.groupBy(col("src"))
      .agg(count(lit(1)).as("n"), first(col("rate_ppm")).as("p"))
      .select(sum(col("n") * col("p") / 1e6)).collect()(0).getDouble(0)
    val n = docs.count()
    assert(math.abs(expectedKept - 0.5 * n) < 0.01 * n,
      s"sum of n_src*rate should be ~ half the corpus, got $expectedKept of $n")
    mixed.unpersist()
  }

  test("temperatureMix: alpha=1/2 upsamples small sources relative to share") {
    // corpus with a 1000-doc source and a 10-doc source: under sqrt
    // weighting the small source's rate must exceed the large source's
    val skewed = spark.range(1010).select(
      col("id").as("doc_id"),
      when(col("id") < 1000, "big").otherwise("small").as("source"))
    val r = Curation.temperatureMix(skewed, "doc_id", "source", targetFrac = 0.3)
      .select("src", "rate_ppm").distinct().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("small") > r("big"),
      s"sqrt temperature must upsample the small source: $r")
    assert(r("small") <= 1000000L)
    // decisions are per-doc md5 coins: rerun under different partitioning
    // is bit-identical
    val a = Curation.temperatureMix(skewed, "doc_id", "source", 0.3)
    val b = Curation.temperatureMix(skewed.repartition(13), "doc_id", "source", 0.3)
    assert(a.except(b).count() === 0L && b.except(a).count() === 0L)
  }

  test("groupHashSample: exactly k per group (when group has >= k), stable across runs") {
    val s = Curation.groupHashSample(docs, "doc_id", "source", k = 3).cache()
    val sizes = s.groupBy("grp").agg(count(lit(1)).as("c"))
    assert(sizes.filter(col("c") > 3).count() === 0)
    val again = Curation.groupHashSample(docs.repartition(5), "doc_id", "source", k = 3)
    assert(s.except(again).count() === 0L)
    s.unpersist()
  }

  test("tokenBudgetSelect: bucketed prefix sum equals the naive global cumulative sum") {
    val d = docs.select(col("doc_id").as("doc"),
      (length(col("text")) % 97 + 1).cast("bigint").as("toks"),
      (col("n_chars") % 41).cast("double").as("sc"))
    val rows = d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // naive reference: keep iff inclusive running total over (score, id)
    // order stays within budget
    val budget = rows.map(_._2).sum / 2
    var running = 0L
    val expected = rows.sortBy(t => (t._3, t._1)).map { t =>
      running += t._2; t._1 -> (running <= budget)
    }.toMap
    for (scale <- Seq(1.0, 0.1, 1000.0)) {
      val got = Curation.tokenBudgetSelect(d, "doc", "sc", "toks", budget, scale)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(got === expected, s"bucketScale=$scale must not change the cut")
    }
  }

  test("tokenBudgetSelect: budget edges — zero drops all, huge keeps all") {
    val d = docs.select(col("doc_id").as("doc"), lit(1L).as("toks"),
      col("n_chars").cast("double").as("sc"))
    assert(Curation.tokenBudgetSelect(d, "doc", "sc", "toks", 0L)
      .filter(col("keep")).count() === 0L)
    assert(Curation.tokenBudgetSelect(d, "doc", "sc", "toks", Long.MaxValue / 4)
      .filter(!col("keep")).count() === 0L)
  }

  test("packSequences matches a driver-side reference (md5 order, spans, offsets)") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val items = (1L to 40L).map(i => (i, i % 7 + 1)) // token counts 1..7
    val d = items.toDF("doc", "toks")
    val ctx = 10L
    // reference: single shard (nShards = 1), concat in (md5, id) order,
    // exclusive prefix offsets, bins by floor division
    var off = 0L
    val expected = items.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .map { case (id, t) =>
        val o = off; off += t
        id -> ((o, o / ctx, (o + t - 1) / ctx))
      }.toMap
    val got = Curation.packSequences(d, "doc", "toks", ctx, nShards = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected)
    // multi-shard invariants: within each shard offsets tile the stream
    // exactly (no gaps/overlaps) and the repartitioned plan agrees
    val multi = Curation.packSequences(d, "doc", "toks", ctx, nShards = 4).cache()
    val byShard = multi.collect().groupBy(_.getLong(1))
    byShard.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      var expect = 0L
      sorted.foreach { r =>
        assert(r.getLong(3) === expect, "offsets must tile the shard stream")
        expect += r.getLong(2)
        assert(r.getLong(6) === r.getLong(5) - r.getLong(4) + 1)
      }
    }
    val again = Curation.packSequences(d.repartition(5), "doc", "toks", ctx, nShards = 4)
    assert(multi.except(again).count() === 0L && again.except(multi).count() === 0L)
    multi.unpersist()
  }

  test("packSequences: non-positive token counts fail loudly") {
    val d = Seq((1L, 5L), (2L, 0L)).toDF("doc", "toks")
    val ex = intercept[Exception] {
      Curation.packSequences(d, "doc", "toks", 10L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("non-positive")), msgs(ex).mkString("; "))
  }

  // ------------------------------------------------ largestRemainderAllocate

  test("largestRemainderAllocate: hand case — floors + remainder-ranked units") {
    // counts {a:5, b:3, c:2}, total 7: quotas 3.5/2.1/1.4 -> floors 3/2/1,
    // one leftover unit goes to the largest remainder (a)
    val rows = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c")
    val got = Curation.largestRemainderAllocate(
        rows.toDF("g"), "g", total = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
  }

  test("largestRemainderAllocate: equal remainders break ties by group name") {
    // three equal groups, total 4: each base 1, rem equal -> 'a' wins the unit
    val rows = Seq("a", "b", "c")
    val got = Curation.largestRemainderAllocate(rows.toDF("g"), "g", 4L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("largestRemainderAllocate: allocation always sums exactly to total") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map(_ => s"g${rnd.nextInt(13)}")
    for (total <- Seq(0L, 1L, 97L, 300L, 12345L)) {
      val a = Curation.largestRemainderAllocate(rows.toDF("g"), "g", total)
        .collect()
      assert(a.map(_.getLong(2)).sum === total, s"total=$total")
      // proportionality: every group within 1 unit of its real quota
      val n = rows.size.toDouble
      a.foreach { r =>
        val quota = total * r.getLong(1) / n
        assert(math.abs(r.getLong(2) - quota) <= 1.0,
          s"group ${r.getString(0)} total=$total")
      }
    }
  }

  // -------------------------------------------------- stratifiedSampleExact

  test("stratifiedSampleExact: exactly total rows, per-group = allocation, " +
      "rerun- and partitioning-stable") {
    val rnd = new scala.util.Random(23)
    val d = (1L to 240L).map(i => (i, s"g${rnd.nextInt(7)}")).toDF("id", "g")
    val alloc = Curation.largestRemainderAllocate(d, "g", 101L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val s1 = Curation.stratifiedSampleExact(d, "id", "g", 101L).collect()
    assert(s1.length === 101)
    val perGroup = s1.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    assert(perGroup === alloc.filter(_._2 > 0L))
    // every drawn rank is within the group's allocation and ranks tile 1..alloc
    s1.groupBy(_.getString(1)).foreach { case (g, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to alloc(g)))
    }
    val s2 = Curation.stratifiedSampleExact(d.repartition(9), "id", "g", 101L)
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    assert(s2.map(key).toSet === s1.map(key).toSet)
  }

  test("stratifiedSampleExact: total above corpus size fails loudly") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    val ex = intercept[Exception] {
      Curation.stratifiedSampleExact(d, "id", "g", 10L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("total exceeds corpus rows")),
      msgs(ex).mkString("; "))
  }

  test("chunkDocuments: hand case, full coverage, exact overlap, " +
      "stride=chunkLen partitions, guard") {
    import spark.implicits._
    val text10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val d = Seq((1L, text10), (2L, "a b")).toDF("doc_id", "text")
    val got = Curation.chunkDocuments(d, "text", "doc_id", chunkLen = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1: starts 0,2,4,6 — windows of 4, tail window full
    assert(got.keySet.count(_._1 == 1L) === 4)
    assert(got((1L, 0L)) === ((0L, 4L, "t1 t2 t3 t4")))
    assert(got((1L, 1L)) === ((2L, 4L, "t3 t4 t5 t6")))
    assert(got((1L, 3L)) === ((6L, 4L, "t7 t8 t9 t10")))
    // short doc: one short chunk
    assert(got((2L, 0L)) === ((0L, 2L, "a b")))
    // consecutive chunks overlap by chunkLen - stride = 2 tokens
    assert(got((1L, 0L))._3.split(" ").takeRight(2).toSeq ===
      got((1L, 1L))._3.split(" ").take(2).toSeq)
    // every token of doc 1 appears in some chunk
    val covered = got.collect { case ((1L, _), (_, _, t)) => t.split(" ") }
      .flatten.toSet
    assert(covered === (1 to 10).map(i => s"t$i").toSet)
    // stride == chunkLen: exact partition, no overlap, tail kept short
    val part = Curation.chunkDocuments(d.filter(col("doc_id") === 1L),
        "text", "doc_id", chunkLen = 4, stride = 4)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sorted
    assert(part === Seq((0L, 4L), (1L, 4L), (2L, 2L)))
    intercept[IllegalArgumentException] {
      Curation.chunkDocuments(d, "text", "doc_id", chunkLen = 4, stride = 5)
    }
  }

  test("chunkDocuments plan is map-only: no exchange anywhere") {
    val plan = Curation.chunkDocuments(
        Tables.table(spark, sfDir, "documents"), "text", "doc_id",
        chunkLen = 64, stride = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the splitter must never shuffle; plan:\n$plan")
  }

  test("lengthPercentileGate: hand percentiles per source, gate flags, " +
      "determinism, guards") {
    // source a: lengths 1..10 (one doc each) -> p20 = 2 (cum 2*10000 >=
    // 20%*10), p80 = 8; source b: five docs of length 3 -> p20 = p80 = 3
    val docs =
      (1 to 10).map(i => (i.toLong, ("w " * i).trim, "a")) ++
        (11 to 15).map(i => (i.toLong, "w w w", "b"))
    val df = docs.toDF("doc_id", "text", "source")
    val got = Curation
      .lengthPercentileGate(df, "text", "doc_id", "source", 2000, 8000)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5))))
      .toMap
    (1 to 10).foreach { i =>
      val (src, n, lo, hi, keep) = got(i.toLong)
      assert(src === "a" && n === i.toLong && lo === 2L && hi === 8L)
      assert(keep === (i >= 2 && i <= 8), s"doc $i")
    }
    (11 to 15).foreach { i =>
      val (src, n, lo, hi, keep) = got(i.toLong)
      assert(src === "b" && n === 3L && lo === 3L && hi === 3L && keep)
    }
    // deterministic under repartitioning
    val again = Curation
      .lengthPercentileGate(df.repartition(7), "text", "doc_id", "source",
        2000, 8000)
      .collect().map(_.toSeq.toString).sorted
    val first = Curation
      .lengthPercentileGate(df, "text", "doc_id", "source", 2000, 8000)
      .collect().map(_.toSeq.toString).sorted
    assert(again.toSeq === first.toSeq)
    intercept[IllegalArgumentException] {
      Curation.lengthPercentileGate(df, "text", "doc_id", "source", 9000, 500)
    }
    intercept[IllegalArgumentException] {
      Curation.lengthPercentileGate(df, "text", "doc_id", "source", -1, 500)
    }
  }
}
