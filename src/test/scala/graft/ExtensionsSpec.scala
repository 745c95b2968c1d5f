package graft

/** The SparkSessionExtensions registration path: the suite session is
  * built with spark.sql.extensions=graft.GraftExtensions (a STATIC conf,
  * bound at SparkContext creation), so the custom codegen expressions are
  * callable from SQL text.
  */
class ExtensionsSpec extends SparkSpec {

  test("custom expressions are SQL-callable via spark.sql.extensions") {
    val dot = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(dot === 11.0)
    val nrm = spark.sql("SELECT vec_norm(array(3.0D, 4.0D))").head().getDouble(0)
    assert(nrm === 5.0)
    val sig = spark.sql("SELECT minhash_sig(array(1L, 2L, 3L), 8)")
      .head().getSeq[Long](0)
    assert(sig.length === 8)
    val sh = spark.sql("SELECT shingle_hashes(array(1L, 2L, 3L, 4L), 2)")
      .head().getSeq[Long](0)
    assert(sh.length === 3)
    val sim = spark.sql("SELECT simhash64(array(1L, 2L, 3L))").head().getLong(0)
    val sim2 = spark.sql("SELECT simhash64(array(1L, 2L, 3L))").head().getLong(0)
    assert(sim === sim2)
    val hits = spark.sql(
      "SELECT stopword_hits(array('the', 'le', 'cat', 'the'), 'the,a|le,la')")
      .head().getSeq[Int](0)
    assert(hits === Seq(2, 1))
    val mh = spark.sql("SELECT md5_hashes(array('a', 'b'))").head().getSeq[Long](0)
    // first 8 md5 digest bytes big-endian: md5('a') = 0cc175b9c0f1b6a8...
    assert(mh.head === java.lang.Long.parseUnsignedLong("0cc175b9c0f1b6a8", 16))
    // trailing empty set is preserved (split limit -1), not dropped
    val trailing = spark.sql(
      "SELECT stopword_hits(array('the', 'cat'), 'the,a|')")
      .head().getSeq[Int](0)
    assert(trailing === Seq(1, 0))
    // an all-empty spec fails with a clear message, not a shape surprise
    val err = intercept[Exception] {
      spark.sql("SELECT stopword_hits(array('x'), '|')").collect()
    }
    assert(err.getMessage.contains("non-empty set"))
  }

  test("MinHashBandKeys (fused codegen) is bit-identical to the staged " +
      "sig -> lshBandKeys HOF formulation") {
    // LOAD-BEARING equality: stored band keys (buildBandedIndex v2
    // indexes) and freshly computed ones mix inside one candidate join
    // via coalesce — a divergence would silently split LSH buckets
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    val rnd = new scala.util.Random(4242)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(120))(rnd.nextLong()).distinct)
    } :+ (999L, Seq(7L)) // single-element set
    val df = rows.toDF("doc", "sh")
    Seq((16, 4), (8, 2), (1, 1), (4, 7)).foreach { case (b, r) =>
      val hof = df.select(col("doc"),
        T.lshBandKeys(
          T.minhashSignatureFromHashes(col("sh"), b * r), b, r).as("k"))
      val fused = df.select(col("doc"),
        org.apache.spark.sql.graftvec.TextExprs
          .minhashBandKeysCol(col("sh"), b, r).as("k"))
      val diff = hof.as("a").join(fused.as("b"), "doc")
        .filter(col("a.k") =!= col("b.k")).count()
      assert(diff === 0L, s"bands=$b rowsPerBand=$r")
    }
  }

  test("round-16 SQL registrations: minhash_band_keys, gopher_text_stats, " +
      "png_decode, gzip round-trip") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bk = spark.sql("SELECT minhash_band_keys(array(1L, 2L, 3L), 16, 4)")
      .head().getSeq[Long](0)
    val bkCol = Seq(Seq(1L, 2L, 3L)).toDF("sh")
      .select(org.apache.spark.sql.graftvec.TextExprs
        .minhashBandKeysCol(col("sh"), 16, 4))
      .head().getSeq[Long](0)
    assert(bk === bkCol && bk.length === 16)
    val gs = spark.sql("SELECT gopher_text_stats('The cat  SAT\\n42')")
      .head().getSeq[Long](0)
    assert(gs === Seq(4L, 11L, 3L)) // 4 tokens, 3+3+3+2 codepoints, 3 with a-z
    val png = spark.sql(
      "SELECT png_decode(x'0000')").head()
    assert(png.isNullAt(0), "malformed png must be NULL in SQL too")
    val rt = spark.sql("SELECT gunzip_text(gzip_text('héllo world'))")
      .head().getString(0)
    assert(rt === "héllo world")
  }

  test("SQL minhash matches the Column-API expression") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(Seq(10L, 20L, 30L)).toDF("hs")
    val viaSql = df.selectExpr("minhash_sig(hs, 16) AS s").head().getSeq[Long](0)
    val viaCol = df.select(
      org.apache.spark.sql.graftvec.TextExprs.minhashCol(col("hs"), 16).as("s"))
      .head().getSeq[Long](0)
    assert(viaSql === viaCol)
  }

  test("text_normalize: NFC composes, NFKC folds width/ligatures, accent strip folds diacritics") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftvec.TextExprs
    import spark.implicits._
    val d = Seq(
      (1L, "café"),      // decomposed e + combining acute
      (2L, "ＡＢＣ"), // full-width ABC
      (3L, "ﬁn"),         // fi ligature
      (4L, "plain ascii")
    ).toDF("id", "s")
    def got(form: String, strip: Boolean): Map[Long, String] =
      d.select(col("id"), TextExprs.normalizeTextCol(col("s"), form, strip).as("n"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nfc = got("NFC", strip = false)
    assert(nfc(1L) === "café" && nfc(1L).length === 4, "NFC composes to precomposed é")
    assert(nfc(2L) === "ＡＢＣ", "NFC keeps compatibility forms")
    val nfkc = got("NFKC", strip = false)
    assert(nfkc(2L) === "ABC" && nfkc(3L) === "fin", "NFKC folds width and ligatures")
    assert(nfkc(1L) === "café")
    val folded = got("NFKC", strip = true)
    assert(folded(1L) === "cafe", "accent strip drops the combining mark")
    assert(folded(4L) === "plain ascii", "ASCII is untouched")
  }

  test("text_normalize is SQL-callable and matches the Column API") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("café Ａ").toDF("s")
    val viaSql = df.selectExpr("text_normalize(s, 'NFKC', true) AS n").head().getString(0)
    val viaCol = df.select(
      org.apache.spark.sql.graftvec.TextExprs.normalizeTextCol(col("s"), "NFKC", true).as("n"))
      .head().getString(0)
    assert(viaSql === viaCol && viaSql === "cafe A")
  }

  test("sign_lsh and char_gram_md5 are SQL-callable and match the Column API") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftvec.{TextExprs, VectorExprs}
    import spark.implicits._
    val v = Seq((Seq(1.0, -2.0, 0.5), "abcdef")).toDF("v", "s")
    val lshSql = v.selectExpr("sign_lsh(v, 16) AS sig").head().getLong(0)
    val lshCol = v.select(VectorExprs.signLshCol(col("v"), 16).as("sig"))
      .head().getLong(0)
    assert(lshSql === lshCol)
    val gramSql = v.selectExpr("char_gram_md5(s, 3, 2) AS g")
      .head().getSeq[String](0)
    val gramCol = v.select(TextExprs.charGramMd5Col(col("s"), 3, 2).as("g"))
      .head().getSeq[String](0)
    assert(gramSql === gramCol && gramSql.nonEmpty)
  }

  test("bloom_shingle_hits is SQL-callable, matches the Column API, " +
      "and rejects a non-foldable filter") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftvec.FilterExprs
    import spark.implicits._
    // build a tiny 64-bit filter on the driver containing exactly the
    // shingle "a b" (kHashes = 2), using the same md5-position convention
    // the expression probes with
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest("a b".getBytes("UTF-8"))
    val words = new Array[Long](2)
    (0 until 2).foreach { j =>
      val p = FilterExprs.md5BloomPosition(d, j, 64)
      words((p / 32).toInt) |= (1L << (p % 32).toInt)
    }
    val df = Seq(Seq("a", "b", "c")).toDF("tk") // shingles: "a b", "b c"
    val viaCol = df.select(
        FilterExprs.bloomShingleHitsMd5Col(col("tk"), words, 64, 2, 2).as("h"))
      .head().getLong(0)
    val wordsSql = words.mkString("array(", "L, ", "L)")
    val viaSql = df.selectExpr(
      s"bloom_shingle_hits(tk, $wordsSql, 64, 2, 2) AS h").head().getLong(0)
    assert(viaCol === viaSql)
    assert(viaCol >= 1L, "the inserted shingle must hit")
    val err = intercept[Exception] {
      spark.sql("SELECT bloom_shingle_hits(array('a'), array(xxhash64(rand())), 64, 1, 2)")
        .collect()
    }
    assert(err.getMessage.contains("foldable"))
  }

  test("xxhash64-shingle SQL composition equals the Dedup Column-API chain") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftvec.TextExprs
    import spark.implicits._
    // the scale path Dedup uses: tokens -> per-token xxhash64 -> rolling
    // k-window chain hashes — reachable from pure SQL via the registered
    // shingle_hashes over a transform(…, xxhash64) lambda
    val df = Seq(Seq("the", "quick", "brown", "fox", "jumps", "over")).toDF("tk")
    val viaSql = df.selectExpr(
      "shingle_hashes(transform(tk, t -> xxhash64(t)), 5) AS sh")
      .head().getSeq[Long](0)
    val viaCol = df.select(TextExprs.shingleHashCol(
        transform(col("tk"), t => xxhash64(t)), 5).as("sh"))
      .head().getSeq[Long](0)
    assert(viaSql === viaCol && viaSql.length === 2)
  }

  test("text_normalize canonicalization makes visually-identical variants dedup-equal") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftvec.TextExprs
    import spark.implicits._
    // the same word in composed, decomposed, and full-width spellings
    val d = Seq((1L, "résumé"), (2L, "résumé")).toDF("doc_id", "text")
    val keys = d.select(TextExprs.normalizeTextCol(col("text"), "NFC", false).as("k"))
      .distinct().count()
    assert(keys === 1L, "NFC collapses composed/decomposed variants to one dedup key")
  }

  test("registered ewma_agg: pure SQL equals the Column-API EwmaAggregator " +
      "and the in-file fold oracle; mixed alpha raises") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.registerAggregates(spark)
    val alpha = 2.0 / 301.0
    // out-of-order (ts, seq) so the sorted fold is exercised, two groups
    val rows = Seq(
      ("a", 5L, 1L, 101.5), ("a", 3L, 1L, 99.25), ("a", 3L, 0L, 100.0),
      ("a", 9L, 2L, 103.0), ("b", 1L, 0L, 7.5), ("b", 2L, 0L, 8.5))
    val df = rows.toDF("g", "ts", "seq", "p")
    df.createOrReplaceTempView("ewma_in")
    val viaSql = spark.sql(
      s"SELECT g, ewma_agg(ts, seq, p, ${alpha}D) AS e FROM ewma_in GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaCol = df.groupBy(col("g"))
      .agg(graft.functions.EwmaFunctions.ewmaUdaf(
        col("ts"), col("seq"), col("p"), lit(alpha)).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql === viaCol)
    val oracleA = graft.functions.EwmaFunctions.foldOracle(
      rows.filter(_._1 == "a").sortBy(r => (r._2, r._3, r._4)).map(_._4), alpha)
    assert(viaSql("a") === oracleA)
    val e = intercept[Exception] {
      spark.sql("SELECT ewma_agg(ts, seq, p, CAST(ts AS DOUBLE) / 10) FROM ewma_in")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("alpha must be constant")))
  }

  test("CdcBoundaries (compiled pass) is bit-identical to the HOF " +
      "md5-window formulation, including multibyte + degenerate docs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "ab xyz.,\nés日"
    val docs = (0 until 60).map { i =>
      val len = rnd.nextInt(200)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ Seq((900L, ""), (901L, "short"), (902L, "exactly8"))
    val df = docs.toDF("doc_id", "text")
    for ((window, hex) <- Seq((8, "08"), (4, "20"), (2, "01"))) {
      val t = col("text")
      val hof = df.select(col("doc_id"),
        when(length(t) <= window, array().cast("array<int>"))
          .otherwise(filter(sequence(lit(window), length(t) - 1), i =>
            substring(md5(substring(t, i - window + 1, lit(window))), 1, 2)
              < lit(hex))).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val fused = df.select(col("doc_id"),
        org.apache.spark.sql.graftvec.TextExprs
          .cdcBoundariesCol(t, window, hex).as("b"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(fused === hof, s"window=$window hex=$hex")
    }
  }

  test("MinHashSigMd5 (compiled pass) is bit-identical to the HOF " +
      "transform/array_min formulation, including multibyte + empty docs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "abc defg hi é日 "
    val docs = (0 until 50).map { i =>
      val len = rnd.nextInt(120)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ Seq((900L, ""), (901L, "one"), (902L, "two words here now five six"),
      (903L, null))
    val df = docs.toDF("doc_id", "text")
      .withColumn("__w", graft.functions.TextFunctions.tokens(col("text")))
      .withColumn("__sh", array_distinct(
        graft.functions.TextFunctions.wordShinglesFromTokens(col("__w"), 3)))
    for (n <- Seq(1, 16)) {
      val hof = df.select(col("doc_id"),
        transform(sequence(lit(0), lit(n - 1)),
          j => array_min(transform(col("__sh"),
            s => md5(concat(s, lit("_"), j.cast("string")))))).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val fused = df.select(col("doc_id"),
        org.apache.spark.sql.graftvec.TextExprs
          .minhashSigMd5Col(col("__sh"), n).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(fused === hof, s"n=$n")
    }
  }

  test("registered vec_sum_agg / vec_outer_product_sum: pure SQL equals " +
      "the Column API (centroid maintenance from SQL)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.registerAggregates(spark)
    val df = Seq(
      ("a", Seq(1.0, 2.0, 3.0)), ("a", Seq(10.0, 20.0, 30.0)),
      ("b", Seq(-4.0, 0.0, 5.0)))
      .toDF("g", "vq")
    df.createOrReplaceTempView("vec_in")
    val viaSql = spark.sql(
      "SELECT g, vec_sum_agg(vq) AS s, vec_outer_product_sum(vq) AS o " +
        "FROM vec_in GROUP BY g")
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2))))
      .toMap
    val viaCol = df.groupBy(col("g"))
      .agg(graft.functions.VectorAggregates.vecSum(col("vq")).as("s"),
        graft.functions.VectorAggregates.outerProductSum(col("vq")).as("o"))
      .collect()
      .map(r => r.getString(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2))))
      .toMap
    assert(viaSql === viaCol)
    assert(viaSql("a")._1 === Seq(11L, 22L, 33L))
    // upper triangle of v1 v1^T + v2 v2^T, row-major (0,0)(0,1)(0,2)(1,1)(1,2)(2,2)
    assert(viaSql("a")._2 === Seq(101L, 202L, 303L, 404L, 606L, 909L))
    assert(viaSql("b")._1 === Seq(-4L, 0L, 5L))
  }

  test("codegen cache size: 1024 where unset, an explicit value kept, the suite session sized") {
    import org.apache.spark.SparkConf
    import org.apache.spark.sql.graftvec.CodegenCache
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(CodegenCache.size(new SparkConf(false)).get(key) === "1024")
    assert(CodegenCache.size(new SparkConf(false).set(key, "64")).get(key) === "64")
    assert(spark.conf.get(key) === CodegenCache.MaxEntries.toString)
  }

  test("codegen cache: 150 distinct projections compiled twice are compiled once") {
    import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, GenerateUnsafeProjection}
    import org.apache.spark.sql.types.LongType
    // the cache is sized from the session's conf when CodeGenerator is first used
    spark
    // the nonce makes the 150 classes new to this JVM, whatever ran before
    val nonce = System.nanoTime()
    def pass(): Unit = (0 until 150).foreach { i =>
      GenerateUnsafeProjection.generate(
        Seq(Add(BoundReference(0, LongType, nullable = false), Literal(nonce + i))))
    }
    pass()
    val compiled = CodeGenerator.compileTime
    pass()
    assert(CodeGenerator.compileTime === compiled)
  }
}
