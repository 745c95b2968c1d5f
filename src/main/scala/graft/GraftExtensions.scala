package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftvec.{FilterExprs, TextExprs, VectorExprs}

/** SparkSessionExtensions entry point registering the engine's custom
  * codegen expressions as SQL functions, so `spark.sql(...)` users get the
  * same scale path as the Column API:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  *   SELECT vec_dot(a, b), vec_norm(a), sign_lsh(a, 16),
  *          minhash_sig(hashes, 64), simhash64(hashes),
  *          shingle_hashes(hashes, 5), md5_hashes(strs),
  *          char_gram_md5(s, 3, 2), stopword_hits(toks, 'the,a|le,la'),
  *          text_normalize(s, 'NFKC', true),
  *          bloom_shingle_hits(toks, filter_words, 4096, 2, 5)
  *
  * (the xxhash64-shingle chain composes from SQL as
  * `shingle_hashes(transform(toks, t -> xxhash64(t)), k)` — pinned in
  * ExtensionsSpec.)
  *
  * No custom Rule/SparkStrategy is registered — the reference surface
  * needs none (SURVEY.md §4.2); expression-level extension is the whole
  * crossing.
  *
  * Loading the extensions also sets up two library-wide settings for every
  * session that loads them (Bench, Verify, the tools, the specs, perfbench,
  * and sessions built outside the engine with this `spark.sql.extensions`
  * value):
  *  - [[graft.fs.LocalFs]] becomes the default FileContext binding of
  *    `file:`, so the session's streaming checkpoints are written without
  *    a child process per file;
  *  - Spark's generated-class cache is sized to
  *    [[org.apache.spark.sql.graftvec.CodegenCache.MaxEntries]] unless the
  *    session sets `spark.sql.codegen.cache.maxEntries` itself. That key
  *    is static, so a session cannot change it once built; the extension
  *    runs early enough to set it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def stringLit(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        v: org.apache.spark.unsafe.types.UTF8String, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.fs.LocalFs.register()
    org.apache.spark.sql.graftvec.CodegenCache.sizeActive()
    ext.injectFunction((
      FunctionIdentifier("minhash_band_keys"),
      info("minhash_band_keys",
        "minhash_band_keys(array<long>, bands, rowsPerBand) - fused MinHash " +
          "signature + LSH band keys (bit-identical to the staged HOF chain)"),
      (args: Seq[Expression]) => TextExprs.MinHashBandKeys(args(0),
        intLit(args(1), "bands"), intLit(args(2), "rowsPerBand"))))
    ext.injectFunction((
      FunctionIdentifier("gopher_text_stats"),
      info("gopher_text_stats",
        "gopher_text_stats(string) - [n_words, sum_word_len, n_alpha_words] " +
          "in one pass over the lowercased text"),
      (args: Seq[Expression]) => TextExprs.GopherTextStats(args(0))))
    ext.injectFunction((
      FunctionIdentifier("png_decode"),
      info("png_decode",
        "png_decode(binary) - [1, w, h, n_px, mean/min/max milli-luma, dhash] " +
          "of an 8-bit truecolor PNG (JDK zlib; null on malformed)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftvec.MediaExprs.PngDecodeExpr(args(0))))
    ext.injectFunction((
      FunctionIdentifier("gzip_text"),
      info("gzip_text", "gzip_text(string) - gzip member of the UTF-8 bytes"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftvec.MediaExprs.GzipExpr(args(0))))
    ext.injectFunction((
      FunctionIdentifier("gunzip_text"),
      info("gunzip_text",
        "gunzip_text(binary) - decompressed UTF-8 text (null on malformed)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftvec.MediaExprs.GunzipExpr(args(0))))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(array<double>, array<double>) - dot product"),
      (args: Seq[Expression]) => VectorExprs.DotProduct(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(array<double>) - L2 norm"),
      (args: Seq[Expression]) => VectorExprs.L2Norm(args(0))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(array<long>, n) - n-hash MinHash signature"),
      (args: Seq[Expression]) =>
        TextExprs.MinHashFromHashes(args(0), intLit(args(1), "signature length"))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<long>) - 64-bit SimHash of hashed tokens"),
      (args: Seq[Expression]) => TextExprs.SimHash64FromHashes(args(0))))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(array<long>, k) - rolling k-window chain hashes"),
      (args: Seq[Expression]) =>
        TextExprs.ShingleHashes(args(0), intLit(args(1), "shingle size"))))
    ext.injectFunction((
      FunctionIdentifier("md5_hashes"),
      info("md5_hashes",
        "md5_hashes(array<string>) - engine-portable 64-bit hashes (first 8 md5 digest bytes, big-endian)"),
      (args: Seq[Expression]) => TextExprs.Md5LongHashes(args(0))))
    ext.injectFunction((
      FunctionIdentifier("stopword_hits"),
      info("stopword_hits",
        "stopword_hits(array<string>, 'w1,w2|w3,w4') - per-set token hit counts, sets '|'-separated"),
      (args: Seq[Expression]) => {
        // split with -1 limit: a trailing '|' means a trailing EMPTY set
        // (0 hits), which the default limit would silently drop, shifting
        // every set after it
        val sets = stringLit(args(1), "stopword sets")
          .split("\\|", -1).toSeq.map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        require(sets.exists(_.nonEmpty),
          "stopword_hits: spec must contain at least one non-empty set, " +
            "got only empty sets (format: 'w1,w2|w3,w4')")
        TextExprs.StopwordHits(args(0), sets)
      }))
    ext.injectFunction((
      FunctionIdentifier("text_normalize"),
      info("text_normalize",
        "text_normalize(str, 'NFC'|'NFD'|'NFKC'|'NFKD', strip_accents) - unicode canonicalization"),
      (args: Seq[Expression]) => {
        if (args.length != 3) throw new IllegalArgumentException(
          s"text_normalize requires exactly 3 arguments " +
            s"(str, 'NFC'|'NFD'|'NFKC'|'NFKD', strip_accents), got ${args.length}")
        TextExprs.NormalizeText(args(0), stringLit(args(1), "normalization form"),
          args(2) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
            case other => throw new IllegalArgumentException(
              s"strip_accents must be a boolean literal, got $other")
          })
      }))
    ext.injectFunction((
      FunctionIdentifier("sign_lsh"),
      info("sign_lsh",
        "sign_lsh(array<double>, bits) - sign-random-projection LSH signature (deterministic xxhash64 planes)"),
      (args: Seq[Expression]) =>
        VectorExprs.SignLsh(args(0), intLit(args(1), "signature bits"))))
    ext.injectFunction((
      FunctionIdentifier("char_gram_md5"),
      info("char_gram_md5",
        "char_gram_md5(str, gram_len, stride) - md5 hex of each character n-gram at the given stride"),
      (args: Seq[Expression]) =>
        TextExprs.CharGramMd5(args(0), intLit(args(1), "gram length"),
          intLit(args(2), "stride"))))
    ext.injectFunction((
      FunctionIdentifier("bloom_shingle_hits"),
      info("bloom_shingle_hits",
        "bloom_shingle_hits(tokens, filter_words, m_bits, k_hashes, shingle_k) - " +
          "distinct word-k-shingle count hitting a portable md5 bloom filter " +
          "(filter as a foldable array<long> of 32-bit words)"),
      (args: Seq[Expression]) => {
        if (args.length != 5) throw new IllegalArgumentException(
          "bloom_shingle_hits requires exactly 5 arguments " +
            s"(tokens, filter_words, m_bits, k_hashes, shingle_k), got ${args.length}")
        // the filter must be known at plan time (it is broadcast into the
        // generated code as a constant array, same as the Column API path)
        val words = args(1) match {
          case e if e.foldable => e.eval() match {
            case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toLongArray()
            case other => throw new IllegalArgumentException(
              s"filter_words must evaluate to array<long>, got $other")
          }
          case other => throw new IllegalArgumentException(
            s"filter_words must be a foldable array<long> expression, got $other")
        }
        FilterExprs.BloomShingleHitCountMd5(args(0), words,
          intLit(args(2), "m_bits"), intLit(args(3), "k_hashes"),
          intLit(args(4), "shingle_k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("url_canonicalize"),
      info("url_canonicalize",
        "url_canonicalize(str) - canonical URL key: drop fragment, lowercase " +
          "scheme+host, strip www./default port/tracking params/trailing slash"),
      (args: Seq[Expression]) => TextExprs.CanonicalizeUrl(args(0))))
  }
}
