package org.apache.spark.sql.graftvec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd expressions for the text-dedup hot path: MinHash signatures
  * and SimHash fingerprints over PRE-HASHED token/shingle arrays
  * (`array<long>`, one xxhash64 per string, done once upstream).
  *
  * The higher-order-function formulations are interpreted and nest a
  * lambda per (element x hash-family/bit): 64 families over a 50-shingle
  * doc costs 3200 boxed lambda dispatches per row (measured: ~20 s for
  * 5000 docs). These expressions do the identical
  * O(n x 64) work as one compiled loop — milliseconds at the same scale.
  *
  * Hash family j for element h is XXH64.hashLong(h, seed=j) — Spark's own
  * xxhash64 primitive, so quality matches the built-in and nothing is
  * stored. The exact hash VALUES differ from the HOF formulation's
  * xxhash64(j, h); near-dup tests pin recall against exact Jaccard, not
  * raw signatures, so the family choice is free.
  */
object TextExprs {

  /** MD5-derived 64-bit hash of a UTF-8 string: the first 8 digest bytes
    * read big-endian — identical to parsing the first 16 hex chars as
    * (hi32 << 32) | lo32, which is what any engine with md5() can rebuild.
    * Static + thread-confined digest so codegen can call it per element.
    */
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def md5Long(s: UTF8String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    java.nio.ByteBuffer.wrap(d).getLong()
  }

  /** Elementwise [[md5Long]] over array<string> — the portable counterpart
    * of `transform(arr, s => xxhash64(s))`, as one compiled loop instead of
    * an interpreted lambda with md5 -> hex -> conv -> shift per element
    * (the chain that made the oracled SimHash variant ~2.5x slower than
    * the xxhash path at sf0.1 before this expression existed).
    */
  case class Md5LongHashes(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any = {
      val in = a.asInstanceOf[ArrayData]
      val m = in.numElements()
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        out(i) = md5Long(in.getUTF8String(i))
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.freshName("m")
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        s"""
           |int $m = $a.numElements();
           |long[] $out = new long[$m];
           |for (int $i = 0; $i < $m; $i++) {
           |  $out[$i] = org.apache.spark.sql.graftvec.TextExprs.md5Long($a.getUTF8String($i));
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** MinHash signature: out[j] = min over elements h of hash_j(h), j < n. */
  case class MinHashFromHashes(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n >= 1 && n <= 1024, "signature length must be in [1, 1024]")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any = {
      val in = a.asInstanceOf[ArrayData]
      val m = in.numElements()
      val out = Array.fill(n)(Long.MaxValue)
      var i = 0
      while (i < m) {
        val h = in.getLong(i)
        var j = 0
        while (j < n) {
          val g = XXH64.hashLong(h, j.toLong)
          if (g < out(j)) out(j) = g
          j += 1
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.freshName("m")
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val h = ctx.freshName("h")
        val g = ctx.freshName("g")
        s"""
           |int $m = $a.numElements();
           |long[] $out = new long[$n];
           |java.util.Arrays.fill($out, Long.MAX_VALUE);
           |for (int $i = 0; $i < $m; $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $j = 0; $j < $n; $j++) {
           |    long $g = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($h, (long) $j);
           |    if ($g < $out[$j]) $out[$j] = $g;
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** MinHash-LSH band keys straight from hashed shingles, ONE compiled
    * pass: the bands·rowsPerBand MinHash signature ([[MinHashFromHashes]]
    * semantics, element j = min over shingles of XXH64(h, seed=j)), then
    * band key b = Spark's `xxhash64(b, slice(sig, b·r+1, r))` — seed 42,
    * the int b hashed first, then the slice's longs folded in order.
    * BIT-IDENTICAL to the HOF formulation
    * `transform(sequence(0, bands-1), b => xxhash64(b, slice(sig, …)))`
    * (TextFunctions.lshBandKeys; ExtensionsSpec pins equality), which is
    * load-bearing: stored band keys (Dedup.buildBandedIndex v2 indexes)
    * and freshly computed ones MIX inside one candidate join, so a
    * divergence would silently split buckets. The HOF formulation also
    * re-evaluates its free `sig` subexpression once PER BAND when the
    * optimizer inlines the signature into the lambda (interpreted HOFs
    * do no common-subexpression elimination) — a 16× signature blowup
    * this expression is immune to.
    */
  case class MinHashBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= 1024,
      "need bands, rowsPerBand >= 1 with signature length <= 1024")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any = {
      val in = a.asInstanceOf[ArrayData]
      val m = in.numElements()
      val n = bands * rowsPerBand
      val sig = Array.fill(n)(Long.MaxValue)
      var i = 0
      while (i < m) {
        val h = in.getLong(i)
        var j = 0
        while (j < n) {
          val g = XXH64.hashLong(h, j.toLong)
          if (g < sig(j)) sig(j) = g
          j += 1
        }
        i += 1
      }
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var acc = XXH64.hashInt(b, 42L)
        var r = 0
        while (r < rowsPerBand) { acc = XXH64.hashLong(sig(b * rowsPerBand + r), acc); r += 1 }
        out(b) = acc
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = bands * rowsPerBand
        val m = ctx.freshName("m")
        val sig = ctx.freshName("sig")
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val b = ctx.freshName("b")
        val r = ctx.freshName("r")
        val h = ctx.freshName("h")
        val g = ctx.freshName("g")
        val acc = ctx.freshName("acc")
        s"""
           |int $m = $a.numElements();
           |long[] $sig = new long[$n];
           |java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |for (int $i = 0; $i < $m; $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $j = 0; $j < $n; $j++) {
           |    long $g = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($h, (long) $j);
           |    if ($g < $sig[$j]) $sig[$j] = $g;
           |  }
           |}
           |long[] $out = new long[$bands];
           |for (int $b = 0; $b < $bands; $b++) {
           |  long $acc = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt($b, 42L);
           |  for (int $r = 0; $r < $rowsPerBand; $r++) {
           |    $acc = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($sig[$b * $rowsPerBand + $r], $acc);
           |  }
           |  $out[$b] = $acc;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** SimHash-64: bit b set iff sum over elements of +-1 (bit b of h) > 0. */
  case class SimHash64FromHashes(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any): Any = {
      val in = a.asInstanceOf[ArrayData]
      val m = in.numElements()
      val votes = new Array[Int](64)
      var i = 0
      while (i < m) {
        val h = in.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.freshName("m")
        val votes = ctx.freshName("votes")
        val i = ctx.freshName("i")
        val b = ctx.freshName("b")
        val h = ctx.freshName("h")
        val sig = ctx.freshName("sig")
        s"""
           |int $m = $a.numElements();
           |int[] $votes = new int[64];
           |for (int $i = 0; $i < $m; $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $b = 0; $b < 64; $b++) {
           |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
           |  }
           |}
           |long $sig = 0L;
           |for (int $b = 0; $b < 64; $b++) {
           |  if ($votes[$b] > 0) $sig |= (1L << $b);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word-k-shingle hashes straight from PRE-HASHED tokens: out[i] is an
    * XXH64 chain over token hashes i..i+k-1 (order-sensitive, seed 42);
    * fewer than k tokens yield ONE hash over the whole sequence —
    * mirroring the string formulation `concat_ws(" ", slice(w, i, k))`
    * without ever materializing shingle strings. Distinct-set semantics
    * (Jaccard, MinHash) are preserved up to 64-bit hash collisions.
    */
  case class ShingleHashes(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(k >= 1, "shingle size must be >= 1")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any = {
      val in = a.asInstanceOf[ArrayData]
      val m = in.numElements()
      val nOut = if (m <= k) 1 else m - k + 1
      val span = if (m <= k) m else k
      val out = new Array[Long](nOut)
      var i = 0
      while (i < nOut) {
        var acc = 42L
        var t = 0
        while (t < span) { acc = XXH64.hashLong(in.getLong(i + t), acc); t += 1 }
        out(i) = acc
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.freshName("m")
        val nOut = ctx.freshName("nOut")
        val span = ctx.freshName("span")
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        val t = ctx.freshName("t")
        val acc = ctx.freshName("acc")
        s"""
           |int $m = $a.numElements();
           |int $nOut = ($m <= $k) ? 1 : $m - $k + 1;
           |int $span = ($m <= $k) ? $m : $k;
           |long[] $out = new long[$nOut];
           |for (int $i = 0; $i < $nOut; $i++) {
           |  long $acc = 42L;
           |  for (int $t = 0; $t < $span; $t++) {
           |    $acc = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($a.getLong($i + $t), $acc);
           |  }
           |  $out[$i] = $acc;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-set stopword occurrence counts in ONE pass over the token array:
    * out[j] = |{ i : tokens[i] ∈ sets(j) }| (occurrences, not distinct —
    * identical to `size(filter(tk, t => array_contains(set_j, t)))` with
    * null tokens contributing to no set). The HOF formulation is
    * interpreted and re-walks the array once per set; this is one compiled
    * loop over tokens with N small hash-set probes per token.
    */
  case class StopwordHits(child: Expression, sets: Seq[Seq[String]])
      extends UnaryExpression with ExpectsInputTypes {
    require(sets.nonEmpty, "need at least one stopword set")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    @transient private lazy val hashSets: Array[java.util.HashSet[UTF8String]] =
      sets.map { ws =>
        val s = new java.util.HashSet[UTF8String]()
        ws.foreach(w => s.add(UTF8String.fromString(w)))
        s
      }.toArray
    override def nullSafeEval(a: Any): Any = {
      val in = a.asInstanceOf[ArrayData]
      val m = in.numElements()
      val n = hashSets.length
      val out = new Array[Int](n)
      var i = 0
      while (i < m) {
        if (!in.isNullAt(i)) {
          val s = in.getUTF8String(i)
          var j = 0
          while (j < n) {
            if (hashSets(j).contains(s)) out(j) += 1
            j += 1
          }
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val setsRef = ctx.addReferenceObj("swSets", hashSets, "java.util.HashSet[]")
        val n = hashSets.length
        val m = ctx.freshName("m")
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val s = ctx.freshName("s")
        s"""
           |int $m = $a.numElements();
           |int[] $out = new int[$n];
           |for (int $i = 0; $i < $m; $i++) {
           |  if (!$a.isNullAt($i)) {
           |    org.apache.spark.unsafe.types.UTF8String $s = $a.getUTF8String($i);
           |    for (int $j = 0; $j < $n; $j++) {
           |      if ($setsRef[$j].contains($s)) $out[$j]++;
           |    }
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Document LM pricing in ONE compiled pass over the token array:
    * out = [n_pieces, logp] = [Σ np(w), Σ lp(w)] folded against a
    * vocabulary serve table (word → (piece count, summed piece log-prob)
    * of its best segmentation under a frozen unigram model — the
    * [[graft.operators.TextPipeline.unigramVocabServe]] rows, collected).
    * The table rides codegen as a reference-object java HashMap, so each
    * token is ONE O(1) probe — a `typedLit` map literal would linear-scan
    * its entries per lookup (O(tokens × vocab)), and the join formulation
    * pays a (doc, word) exchange per batch. Long sums are order-free, so
    * the fold is bit-identical to the vocabulary-join serve
    * (ExtensionsSpec pins it). A token absent from the table is an
    * invariant violation (the table must be built from a superset of the
    * priced documents' vocabulary) and throws loudly rather than
    * mis-pricing. NULL array → NULL out.
    */
  case class UnigramPriceTokens(child: Expression, stats: Map[String, (Long, Long)])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val table: java.util.HashMap[UTF8String, Array[Long]] = {
      val m = new java.util.HashMap[UTF8String, Array[Long]](stats.size * 2)
      stats.foreach { case (w, (np, lp)) =>
        m.put(UTF8String.fromString(w), Array(np, lp))
      }
      m
    }
    override def nullSafeEval(a: Any): Any =
      unigramPrice(a.asInstanceOf[ArrayData], table)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val ref = ctx.addReferenceObj("unigramServeTable", table,
          "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, long[]>")
        s"""
           |${ev.value} =
           |  org.apache.spark.sql.graftvec.TextExprs.unigramPrice($a, $ref);
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[UnigramPriceTokens]]'s kernel (static so codegen can call it). */
  def unigramPrice(
      in: ArrayData,
      table: java.util.HashMap[UTF8String, Array[Long]]): UnsafeArrayData = {
    val m = in.numElements()
    var np = 0L
    var lp = 0L
    var i = 0
    while (i < m) {
      if (!in.isNullAt(i)) {
        val w = in.getUTF8String(i)
        val s = table.get(w)
        if (s == null) throw new IllegalStateException(
          s"unigram price: token '$w' missing from the serve table — " +
            "the table must cover the priced documents' vocabulary")
        np += s(0)
        lp += s(1)
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(np, lp))
  }

  /** Fold a token-array column against a collected vocabulary serve
    * table: `[n_pieces, logp]`. */
  def unigramPriceTokensCol(toks: Column, stats: Map[String, (Long, Long)]): Column =
    ExpressionUtils.column(
      UnigramPriceTokens(ExpressionUtils.expression(toks), stats))

  /** The gopher-gate token counters in ONE compiled pass over the token
    * array: out = [n_words, sum_word_len, n_alpha_words] with
    * sum_word_len in CODEPOINTS (= Spark `length`) and n_alpha_words the
    * count of tokens containing at least one ASCII `a-z` byte —
    * bit-identical to the HOF formulation
    * `aggregate(w, 0L, (a, t) -> a + length(t))` +
    * `size(filter(w, t => t.rlike("[a-z]")))` over already-lowercased
    * tokens (a-z only ever appears in UTF-8 as the ASCII byte itself,
    * never inside a continuation sequence, so the byte scan IS the regex
    * match). The HOF chain is interpreted and dispatches a boxed lambda
    * plus a regex engine call per token — the dominant map-side cost of
    * the curation front door's stage-1 gate; this is one loop.
    * Null tokens count toward n_words with length 0, like the HOF path
    * (T.tokens never yields nulls, so the branch is defensive).
    */
  case class GopherTokenStats(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any = {
      val in = a.asInstanceOf[ArrayData]
      val m = in.numElements()
      var sumLen = 0L
      var nAlpha = 0L
      var i = 0
      while (i < m) {
        if (!in.isNullAt(i)) {
          val t = in.getUTF8String(i)
          sumLen += t.numChars()
          if (hasAsciiLower(t)) nAlpha += 1
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(Array(m.toLong, sumLen, nAlpha))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.freshName("m")
        val sumLen = ctx.freshName("sumLen")
        val nAlpha = ctx.freshName("nAlpha")
        val i = ctx.freshName("i")
        val t = ctx.freshName("t")
        s"""
           |int $m = $a.numElements();
           |long $sumLen = 0L;
           |long $nAlpha = 0L;
           |for (int $i = 0; $i < $m; $i++) {
           |  if (!$a.isNullAt($i)) {
           |    org.apache.spark.unsafe.types.UTF8String $t = $a.getUTF8String($i);
           |    $sumLen += $t.numChars();
           |    if (org.apache.spark.sql.graftvec.TextExprs.hasAsciiLower($t)) $nAlpha++;
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
           |  new long[] { (long) $m, $sumLen, $nAlpha });
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[GopherTokenStats]] straight from the RAW text — the tokenization
    * is fused in, so the token ARRAY is never materialized: lowercase
    * once (the same `UTF8String.toLowerCase` Spark's `lower()` calls, so
    * Unicode case edges agree bit-for-bit with the staged formulation),
    * then one byte walk over maximal non-whitespace runs. Equivalent to
    * `GopherTokenStats(tokens(text))` with
    * `tokens = filter(split(lower(trim(text)), "\\s+"), len > 0)`:
    * Java-regex `\s` is exactly {0x09..0x0D, 0x20} (no
    * UNICODE_CHARACTER_CLASS), all ASCII bytes that never occur inside a
    * multi-byte UTF-8 sequence, and the len>0 filter makes regex-split
    * semantics equal maximal-run semantics (CurationSpec pins equality
    * on the corpus + unicode edges). Codepoint count per token = count
    * of non-continuation bytes. This is the front door's stage-1 gate
    * as ONE pass over the document bytes.
    */
  def gopherTextStats(text: UTF8String): UnsafeArrayData = {
    val b = text.toLowerCase.getBytes
    var nWords = 0L
    var sumLen = 0L
    var nAlpha = 0L
    var i = 0
    var inTok = false
    var tokAlpha = false
    while (i < b.length) {
      val c = b(i)
      val ws = c == 0x20 || (c >= 0x09 && c <= 0x0D)
      if (ws) {
        if (inTok) { nWords += 1; if (tokAlpha) nAlpha += 1 }
        inTok = false
        tokAlpha = false
      } else {
        inTok = true
        if (c >= 0x61 && c <= 0x7a) tokAlpha = true
        // codepoint count: continuation bytes are 10xxxxxx (signed < -64)
        if ((c & 0xC0) != 0x80) sumLen += 1
      }
      i += 1
    }
    if (inTok) { nWords += 1; if (tokAlpha) nAlpha += 1 }
    UnsafeArrayData.fromPrimitiveArray(Array(nWords, sumLen, nAlpha))
  }

  case class GopherTextStats(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      gopherTextStats(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"${ev.value} = org.apache.spark.sql.graftvec.TextExprs.gopherTextStats($a);"
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** True iff the UTF-8 string contains a byte in [0x61, 0x7a] — exactly
    * `rlike("[a-z]")`, because those byte values never occur inside a
    * multi-byte UTF-8 sequence. Static so codegen calls it per element.
    */
  def hasAsciiLower(s: UTF8String): Boolean = {
    val b = s.getBytes
    var i = 0
    while (i < b.length) {
      if (b(i) >= 0x61 && b(i) <= 0x7a) return true
      i += 1
    }
    false
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** All md5 hex digests of the L-CODEPOINT character windows of `s` at
    * the given stride, in ONE linear pass: codepoint byte-offsets are
    * walked once, then each window digests its byte range directly —
    * identical output to `md5(substr(s, i, L))` per position i (md5 of
    * the window's UTF-8 bytes, lowercase hex) WITHOUT the O(position)
    * codepoint seek that makes per-position `substr` quadratic on large
    * documents (a 2 MB doc paid ~2 TB of byte scanning; this pays
    * ~n*L bytes of digesting). Fewer than L codepoints -> empty array.
    */
  def charGramMd5(s: UTF8String, gramLen: Int, stride: Int): ArrayData = {
    val bytes = s.getBytes
    val n = s.numChars()
    if (n < gramLen) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](n + 1)
    var b = 0
    var c = 0
    while (b < bytes.length) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    offs(n) = bytes.length
    val md = md5Digest.get()
    val nOut = (n - gramLen) / stride + 1
    val out = new Array[Any](nOut)
    var i = 0
    while (i < nOut) {
      val st = offs(i * stride)
      val en = offs(i * stride + gramLen)
      md.reset()
      md.update(bytes, st, en - st)
      val d = md.digest()
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexChars((d(j) >> 4) & 0xF).toByte
        hex(2 * j + 1) = hexChars(d(j) & 0xF).toByte
        j += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Content-defined-chunking boundary positions (the
    * `Dedup.cdcChunks` predicate as ONE compiled pass): position `i`
    * (1-based, `window <= i < numChars`) is a boundary iff the FIRST
    * BYTE of md5 over the UTF-8 bytes of codepoints [i−window+1 .. i]
    * is below `threshold` — exactly `substring(md5hex, 1, 2) <
    * boundaryHex` (two lowercase hex chars compare like the byte they
    * encode). The HOF formulation interpreted its lambda and built a
    * substring + 32-char hex string per character position; this walks
    * the codepoint byte offsets once and reuses one MessageDigest.
    * Returns array<int> of boundary END positions; `numChars <= window`
    * reads the empty array (the caller's degenerate-doc convention).
    */
  def cdcBoundaries(s: UTF8String, window: Int, threshold: Int): ArrayData = {
    val bytes = s.getBytes
    val n = s.numChars()
    if (n <= window) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](n + 1)
    var b = 0
    var c = 0
    while (b < bytes.length) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    offs(n) = bytes.length
    val md = md5Digest.get()
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var i = window // 1-based end position; window chars are [i-window, i)
    while (i < n) {
      val st = offs(i - window)
      val en = offs(i)
      md.reset()
      md.update(bytes, st, en - st)
      if ((md.digest()(0) & 0xFF) < threshold) out += i
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  case class CdcBoundaries(child: Expression, window: Int, threshold: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(window >= 2 && threshold >= 0 && threshold <= 255,
      "need window >= 2 and threshold in [0, 255]")
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      cdcBoundaries(a.asInstanceOf[UTF8String], window, threshold)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"${ev.value} = org.apache.spark.sql.graftvec.TextExprs.cdcBoundaries($a, $window, $threshold);"
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def cdcBoundariesCol(text: Column, window: Int, boundaryHex: String): Column =
    ExpressionUtils.column(CdcBoundaries(
      ExpressionUtils.expression(text), window,
      Integer.parseInt(boundaryHex, 16)))

  /** Portable n-permutation MinHash signature over STRING shingles in ONE
    * compiled pass: sig[j] = min over shingles s of md5hex(s || "_" || j)
    * — exactly the HOF formulation `transform(sequence(0, n-1), j ->
    * array_min(transform(sh, s -> md5(concat(s, '_', j)))))`, which pays
    * n×|sh| interpreted lambda dispatches and allocates a 32-char hex
    * string per (shingle, permutation). Fixed-width lowercase hex
    * compares exactly like the digest bytes, so the unsigned byte-wise
    * min IS the hex-string min and only the n winners are hex-encoded.
    * NULL shingles are skipped (array_min's null handling); a NULL,
    * empty or all-null input yields n NULL slots (array_min of nothing).
    */
  def minhashSigMd5(arr: ArrayData, n: Int): ArrayData = {
    val m = if (arr == null) 0 else arr.numElements()
    val out = new Array[Any](n)
    val mins = new Array[Array[Byte]](n)
    val md = md5Digest.get()
    val suffixes = new Array[Array[Byte]](n)
    var j = 0
    while (j < n) {
      suffixes(j) = ("_" + j)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      j += 1
    }
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val sb = arr.getUTF8String(i).getBytes
        j = 0
        while (j < n) {
          md.reset()
          md.update(sb)
          md.update(suffixes(j))
          val d = md.digest()
          val cur = mins(j)
          if (cur == null) mins(j) = d
          else {
            var k = 0
            var done = false
            while (!done && k < 16) {
              val c = (d(k) & 0xFF) - (cur(k) & 0xFF)
              if (c < 0) { mins(j) = d; done = true }
              else if (c > 0) done = true
              else k += 1
            }
          }
          j += 1
        }
      }
      i += 1
    }
    j = 0
    while (j < n) {
      val d = mins(j)
      if (d != null) {
        val hex = new Array[Byte](32)
        var k = 0
        while (k < 16) {
          hex(2 * k) = hexChars((d(k) >> 4) & 0xF).toByte
          hex(2 * k + 1) = hexChars(d(k) & 0xF).toByte
          k += 1
        }
        out(j) = UTF8String.fromBytes(hex)
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  case class MinHashSigMd5(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(n >= 1 && n <= 256, "n in [1, 256]")
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    // a NULL input still yields n NULL slots, as the HOF form does
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any =
      minhashSigMd5(child.eval(input).asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          org.apache.spark.sql.graftvec.TextExprs.minhashSigMd5(
            ${c.isNull} ? null : ${c.value}, $n);""", isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def minhashSigMd5Col(shingles: Column, n: Int): Column =
    ExpressionUtils.column(MinHashSigMd5(
      ExpressionUtils.expression(shingles), n))

  /** Codegen'd [[charGramMd5]]: array of per-window md5 hex strings.
    * Window index w (0-based) covers codepoints [w*stride, w*stride+L).
    */
  case class CharGramMd5(child: Expression, gramLen: Int, stride: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(gramLen >= 1 && stride >= 1, "need gramLen >= 1 and stride >= 1")
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      charGramMd5(a.asInstanceOf[UTF8String], gramLen, stride)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"${ev.value} = org.apache.spark.sql.graftvec.TextExprs.charGramMd5($a, $gramLen, $stride);"
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Unicode canonicalization core: normalize to `form` (NFC/NFD/NFKC/
    * NFKD), optionally folding accents (NFD-decompose, drop non-spacing
    * marks, recompose in `form`). Pure JDK `java.text.Normalizer` —
    * deterministic for a given Unicode version, no ICU dependency.
    * Static so codegen calls it directly.
    */
  def normalizeString(s: String, form: String, stripAccents: Boolean): String = {
    import java.text.Normalizer
    val f = Normalizer.Form.valueOf(form)
    val base = if (Normalizer.isNormalized(s, f)) s else Normalizer.normalize(s, f)
    if (!stripAccents) base
    else {
      val nfd = Normalizer.normalize(base, Normalizer.Form.NFD)
      var hasMark = false
      var i = 0
      while (i < nfd.length && !hasMark) {
        if (Character.getType(nfd.codePointAt(i)) == Character.NON_SPACING_MARK)
          hasMark = true
        i += Character.charCount(nfd.codePointAt(i))
      }
      if (!hasMark) base
      else {
        val sb = new java.lang.StringBuilder(nfd.length)
        i = 0
        while (i < nfd.length) {
          val cp = nfd.codePointAt(i)
          if (Character.getType(cp) != Character.NON_SPACING_MARK) sb.appendCodePoint(cp)
          i += Character.charCount(cp)
        }
        Normalizer.normalize(sb.toString, f)
      }
    }
  }

  /** Unicode text canonicalization as a codegen expression: the standard
    * pre-dedup/pre-fingerprint cleanup (NFC for byte-identity, NFKC +
    * accent fold for aggressive matching — full-width forms, ligatures,
    * diacritics all collapse). ASCII input short-circuits through
    * `isNormalized` (a table lookup, no allocation), so the common case
    * costs one scan.
    */
  case class NormalizeText(child: Expression, form: String, stripAccents: Boolean)
      extends UnaryExpression with ExpectsInputTypes {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form),
      s"form must be NFC/NFD/NFKC/NFKD, got $form")
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullSafeEval(a: Any): Any =
      UTF8String.fromString(
        normalizeString(a.asInstanceOf[UTF8String].toString, form, stripAccents))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |  org.apache.spark.sql.graftvec.TextExprs.normalizeString(
           |    $a.toString(), "$form", $stripAccents));""".stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Tracking query parameters every canonicalizer strips (the CCNet /
    * RefinedWeb recipe): analytics campaign tags that vary per click while
    * the fetched resource is identical.
    */
  private val TrackingParams = java.util.Set.of(
    "fbclid", "gclid", "msclkid", "ref", "mc_cid", "mc_eid")

  /** Canonical-URL normalization core (string-level, deliberately NOT
    * java.net.URI — URI's parser rejects/alters real-web URLs and its
    * behavior is not replicable in a SQL oracle). Steps, in order:
    *
    *   1. trim; drop the `#fragment`
    *   2. lowercase the `scheme://authority` prefix (path/query case is
    *      meaningful and preserved); a string without `://` returns after
    *      step 1 (not a URL shape — left as-is rather than guessed at)
    *   3. drop a leading `www.` on the host
    *   4. drop the scheme's default port (`:80` http, `:443` https)
    *   5. drop tracking query params (`utm_*`, fbclid, gclid, msclkid,
    *      ref, mc_cid, mc_eid — name compared case-insensitively);
    *      remaining params keep their original order; an emptied query
    *      loses its `?`
    *   6. drop ONE trailing `/` from the path (root `/` collapses onto
    *      the authority)
    *
    * Every step is a regex/list operation any engine can replay — the
    * DuckDB oracle applies the identical chain.
    */
  def canonicalizeUrl(in: UTF8String): UTF8String = {
    var s = in.toString.trim
    val hi = s.indexOf('#')
    if (hi >= 0) s = s.substring(0, hi).trim // strip may expose trailing ws
    val si = s.indexOf("://")
    if (si < 0) return UTF8String.fromString(s)
    var i = si + 3
    while (i < s.length && s.charAt(i) != '/' && s.charAt(i) != '?') i += 1
    val scheme = s.substring(0, si).toLowerCase(java.util.Locale.ROOT)
    var auth = s.substring(si + 3, i).toLowerCase(java.util.Locale.ROOT)
    val rest = s.substring(i)
    if (auth.startsWith("www.")) auth = auth.substring(4)
    if (scheme == "http" && auth.endsWith(":80"))
      auth = auth.substring(0, auth.length - 3)
    else if (scheme == "https" && auth.endsWith(":443"))
      auth = auth.substring(0, auth.length - 4)
    val qi = rest.indexOf('?')
    var path = if (qi >= 0) rest.substring(0, qi) else rest
    var query: String = if (qi >= 0) rest.substring(qi + 1) else null
    if (query != null) {
      val kept = query.split("&", -1).filter { p =>
        val ei = p.indexOf('=')
        val name = (if (ei >= 0) p.substring(0, ei) else p)
          .toLowerCase(java.util.Locale.ROOT)
        !(name.startsWith("utm_") || TrackingParams.contains(name))
      }
      query = if (kept.isEmpty) null else kept.mkString("&")
    }
    if (path.endsWith("/")) path = path.substring(0, path.length - 1)
    UTF8String.fromString(
      scheme + "://" + auth + path + (if (query == null) "" else "?" + query))
  }

  /** Codegen'd [[canonicalizeUrl]] — the pre-dedup URL key for web-scale
    * curation (dedupe by canonical URL BEFORE any content pass).
    */
  case class CanonicalizeUrl(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullSafeEval(a: Any): Any =
      canonicalizeUrl(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"${ev.value} = org.apache.spark.sql.graftvec.TextExprs.canonicalizeUrl($a);"
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def canonicalizeUrlCol(url: Column): Column =
    ExpressionUtils.column(CanonicalizeUrl(ExpressionUtils.expression(url)))

  def normalizeTextCol(text: Column, form: String = "NFKC", stripAccents: Boolean = false): Column =
    ExpressionUtils.column(NormalizeText(ExpressionUtils.expression(text), form, stripAccents))

  def charGramMd5Col(text: Column, gramLen: Int, stride: Int): Column =
    ExpressionUtils.column(CharGramMd5(ExpressionUtils.expression(text), gramLen, stride))

  def shingleHashCol(hashedTokens: Column, k: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(hashedTokens), k))

  def minhashCol(hashedShingles: Column, n: Int): Column =
    ExpressionUtils.column(MinHashFromHashes(ExpressionUtils.expression(hashedShingles), n))

  def minhashBandKeysCol(hashedShingles: Column, bands: Int, rowsPerBand: Int): Column =
    ExpressionUtils.column(
      MinHashBandKeys(ExpressionUtils.expression(hashedShingles), bands, rowsPerBand))

  def simhashCol(hashedTokens: Column): Column =
    ExpressionUtils.column(SimHash64FromHashes(ExpressionUtils.expression(hashedTokens)))

  def gopherTokenStatsCol(tokens: Column): Column =
    ExpressionUtils.column(GopherTokenStats(ExpressionUtils.expression(tokens)))

  def gopherTextStatsCol(text: Column): Column =
    ExpressionUtils.column(GopherTextStats(ExpressionUtils.expression(text)))

  def stopwordHitsCol(tokens: Column, sets: Seq[Seq[String]]): Column =
    ExpressionUtils.column(StopwordHits(ExpressionUtils.expression(tokens), sets))

  def md5LongHashesCol(strings: Column): Column =
    ExpressionUtils.column(Md5LongHashes(ExpressionUtils.expression(strings)))
}
