package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("sampleFrames: empty payload yields ZERO frames (no phantom sequence(0,-1))") {
    import spark.implicits._
    val docs = Seq((1L, "hello world, this is a payload"), (2L, "")).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(Multimodal.withBinary(docs), frameBytes = 8)
    val byDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.get(2L).isEmpty, "empty doc must produce no frames")
    assert(byDoc(1L) === math.ceil(30 / 8.0).toLong)
    assert(frames.filter(col("frame_idx") < 0).count() === 0)
    // frames reassemble to the original payload
    val reassembled = frames.filter(col("doc_id") === 1L)
      .orderBy("frame_idx").collect()
      .map(_.getAs[Array[Byte]]("frame")).reduce(_ ++ _)
    assert(new String(reassembled, "UTF-8") === "hello world, this is a payload")
  }

  test("withBinary meta matches payload length") {
    import spark.implicits._
    val docs = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val out = Multimodal.withBinary(docs)
      .select(col("doc_id"), octet_length(col("payload")).as("n"), col("media_meta.n_bytes"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
    out.foreach { case (_, n, meta) => assert(n === meta) }
  }

  test("dhashBits matches a MessageDigest replica; 56 bits, non-negative") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def refDhash(payload: String): Long = {
      val h0 = md5hex(payload)
      val ch = (0 until 4).map(i => md5hex(s"$h0:$i")).mkString
      val px = (0 until 64).map(j =>
        Integer.parseInt(ch.substring(2 * j, 2 * j + 2), 16))
      (for (r <- 0 until 8; c <- 0 until 7) yield
        if (px(8 * r + c) > px(8 * r + c + 1)) 1L << (7 * r + c) else 0L).sum
    }
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "zzz"))
      .toDF("doc_id", "t").withColumn("payload", encode(col("t"), "UTF-8"))
    val got = Multimodal.dhashBits(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === refDhash("hello world"))
    assert(got(1L) === got(2L))
    assert(got(3L) === refDhash("zzz"))
    got.values.foreach(h => assert(h >= 0L && h < (1L << 56)))
  }

  test("dhashNearDups: exact duplicates pair at hamming 0; banding equals " +
      "brute force on a small corpus; guard rejects maxHamming >= bands") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, s"payload ${i % 7}"))
      .toDF("doc_id", "t").withColumn("payload", encode(col("t"), "UTF-8"))
    val got = Multimodal.dhashNearDups(docs, "doc_id", maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force over the operator's own hashes
    val hashes = Multimodal.dhashBits(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      hm = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if hm <= 3
    } yield (a, b) -> hm.toLong).toMap
    assert(got === brute)
    // the i % 7 construction makes duplicate classes: all pairs hamming 0
    assert(got.nonEmpty && got.values.forall(_ === 0L))
    intercept[IllegalArgumentException] {
      Multimodal.dhashNearDups(docs, "doc_id", maxHamming = 4, bands = 4)
    }
  }

  /** Hand-build a canonical 16-bit mono PCM WAV with java.nio —
    * INDEPENDENT of the expression-side synthesizer, so the parser is
    * checked against a second implementation of the format. */
  private def wav(rate: Int, samples: Seq[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + samples.size * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.size * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(samples.size * 2)
    samples.foreach(s => bb.putShort(s.toShort))
    bb.array()
  }

  test("wavFeatures parses a hand-built java.nio WAV to hand-computed " +
      "features, and rejects malformed payloads with NULL features") {
    import spark.implicits._
    val good = wav(8000, Seq(100, -200, 300, -32768, 32767, 0, -1, 2))
    val stereo = { // channels=2 -> invalid under the mono contract
      val b = wav(8000, Seq(1, 2, 3, 4)); b(22) = 2; b
    }
    val rows = Seq(
      (1L, good),
      (2L, good.take(30)), // truncated header
      (3L, "RIFX".getBytes("US-ASCII") ++ good.drop(4)), // wrong magic
      (4L, stereo),
      (5L, { val b = good.clone(); b(40) = 99; b })) // odd/oversized data size
      .toDF("doc_id", "payload")
    val got = Multimodal.wavFeatures(rows, "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    val g = got(1L)
    assert(g.getBoolean(1) === true)
    assert(g.getLong(2) === 8000L) // sample_rate
    assert(g.getLong(3) === 8L) // n_samples
    assert(g.getLong(4) === 1000L) // 8 samples / 8000 Hz = 1000 us
    assert(g.getLong(5) === 32768L) // peak_abs
    // energy: (100^2+200^2+300^2+32768^2+32767^2+0+1+4) / 8
    val energy = (100L * 100 + 200L * 200 + 300L * 300 + 32768L * 32768 +
      32767L * 32767 + 0 + 1 + 4) / 8
    assert(g.getLong(6) === energy)
    // sign chain: +,-,+,-,+,0,-,+ -> crossings at 5 strict sign flips
    assert(g.getLong(7) === 5L)
    Seq(2L, 3L, 4L, 5L).foreach { d =>
      assert(got(d).getBoolean(1) === false, s"doc $d must be invalid")
      (2 to 7).foreach(i => assert(got(d).isNullAt(i), s"doc $d col $i"))
    }
    // a NULL payload must read valid = FALSE (not NULL): NULL would
    // escape both filter(valid) and filter(!valid), so the drop-reason
    // gate would silently pass the blob through neither branch
    val withNull = rows.unionByName(
      rows.filter(col("doc_id") === 1L)
        .select(lit(6L).as("doc_id"),
          lit(null).cast("binary").as("payload")))
    val n = Multimodal.wavFeatures(withNull, "doc_id")
      .filter(col("doc_id") === 6L).collect()(0)
    assert(!n.isNullAt(1) && n.getBoolean(1) === false)
    (2 to 7).foreach(i => assert(n.isNullAt(i), s"null payload col $i"))
  }

  /** Hand-build a canonical 24-bpp bottom-up BMP with java.nio —
    * INDEPENDENT of the expression-side synthesizer. `px(x, y)` gives
    * (r, g, b) for the pixel at column x, row y FROM THE TOP. */
  private def bmp(w: Int, h: Int)(px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val bb = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (rf <- 0 until h; x <- 0 until w) {
      val y = h - 1 - rf // bottom-up storage
      val (r, g, b) = px(x, y)
      bb.put(b.toByte).put(g.toByte).put(r.toByte)
      if (x == w - 1) (0 until stride - 3 * w).foreach(_ => bb.put(0.toByte))
    }
    bb.array()
  }

  test("bmpFeatures parses a hand-built java.nio BMP to hand-computed " +
      "features + dHash, and rejects malformed payloads") {
    import spark.implicits._
    val w = 11; val h = 9
    def pxf(x: Int, y: Int) = ((x * 20) % 256, (y * 25) % 256, (x + y) % 256)
    val good = bmp(w, h)(pxf)
    val badMagic = { val b = good.clone(); b(0) = 'X'.toByte; b }
    val bpp32 = { val b = good.clone(); b(28) = 32; b }
    val compressed = { val b = good.clone(); b(30) = 1; b }
    val topDown = { // negative height -> out of the canonical contract
      val b = good.clone()
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(22, -h); b
    }
    val truncated = good.take(54 + 10)
    val rows = Seq(1L -> good, 2L -> badMagic, 3L -> bpp32, 4L -> compressed,
      5L -> topDown, 6L -> truncated).toDF("doc_id", "payload")
      .unionByName(Seq(7L).toDF("doc_id")
        .withColumn("payload", lit(null).cast("binary")))
    val got = graft.operators.Multimodal.bmpFeatures(rows, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val g = got(1L)
    assert(g.getBoolean(1) === true)
    assert(g.getLong(2) === w.toLong && g.getLong(3) === h.toLong)
    assert(g.getLong(4) === (w * h).toLong)
    // hand-computed lumas, top-down row-major
    val lum = for (y <- 0 until h; x <- 0 until w) yield {
      val (r, gg, b) = pxf(x, y); 299L * r + 587L * gg + 114L * b
    }
    assert(g.getLong(5) === lum.sum / (w * h))
    assert(g.getLong(6) === lum.min && g.getLong(7) === lum.max)
    val expDhash = (for (r <- 0 until 8; c <- 0 until 7) yield {
      def cell(cc: Int) = lum((r * h / 8) * w + (cc * w / 8))
      if (cell(c) > cell(c + 1)) 1L << (7 * r + c) else 0L
    }).sum
    assert(g.getLong(8) === expDhash)
    Seq(2L, 3L, 4L, 5L, 6L).foreach { d =>
      assert(got(d).getBoolean(1) === false, s"doc $d must be invalid")
      (2 to 8).foreach(i => assert(got(d).isNullAt(i), s"doc $d col $i"))
    }
    assert(!got(7L).isNullAt(1) && got(7L).getBoolean(1) === false,
      "NULL payload must read valid=false, not NULL")
  }

  test("bmpBytes -> bmpFeatures round-trips the generator, and bmpDhash " +
      "over REAL pixels pairs near-identical images at small hamming") {
    import spark.implicits._
    val feats = graft.operators.Multimodal.bmpFeatures(
        (0L until 30L).toDF("doc_id")
          .withColumn("payload", graft.operators.Multimodal.bmpBytes(col("doc_id"))),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    (0L until 30L).foreach { id =>
      val w = (8 + id % 9).toInt; val h = (8 + id % 5).toInt
      val lum = for (y <- 0 until h; x <- 0 until w) yield
        299L * ((id * 3 + x * 29 + y * 19) % 256) +
          587L * ((id * 11 + x * 17 + y * 23) % 256) +
          114L * ((id * 7 + x * 13 + y * 31) % 256)
      val f = feats(id)
      assert(f.getBoolean(1) && f.getLong(2) === w.toLong &&
        f.getLong(3) === h.toLong, s"id $id")
      assert(f.getLong(5) === lum.sum / (w * h), s"id $id mean")
    }
    // near-dup over REAL pixel content: a flat image vs the same image
    // with one corner pixel changed (tiny dHash perturbation) vs an
    // unrelated gradient — only the first pair lands at small hamming
    val a = bmp(16, 16)((x, y) => (10 + x, 20 + y, 30))
    val b = bmp(16, 16)((x, y) => if (x == 0 && y == 0) (255, 255, 255) else (10 + x, 20 + y, 30))
    val c = bmp(16, 16)((x, y) => ((x * y * 7) % 256, (x * 31 + y) % 256, (y * 53) % 256))
    val hashes = graft.operators.Multimodal.bmpDhash(
      Seq(1L -> a, 2L -> b, 3L -> c).toDF("doc_id", "payload"), "doc_id")
    val pairs = graft.operators.Multimodal.dhashNearDupsFromBits(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"near-identical images must pair: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"unrelated image must not pair: $pairs")
  }

  private def pngPixel(id: Long, x: Int, y: Int): (Int, Int, Int) = (
    math.floorMod(id * 5 + x * 11 + y * 3, 256L).toInt,
    math.floorMod(id * 13 + x * 7 + y * 17, 256L).toInt,
    math.floorMod(id * 19 + x * 23 + y * 29, 256L).toInt)

  test("pngBytes -> pngFeatures round-trips the generator (all five " +
      "scanline filters), and ImageIO reads the synthesized payloads " +
      "to the identical pixels") {
    import spark.implicits._
    val ids = 0L until 30L // id%5 sweeps every filter phase, id%7/%6 dims
    val feats = graft.operators.Multimodal.pngFeatures(
        ids.toDF("doc_id")
          .withColumn("payload", graft.operators.Multimodal.pngBytes(col("doc_id"))),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val w = (8 + id % 7).toInt; val h = (8 + id % 6).toInt
      val lum = for (y <- 0 until h; x <- 0 until w) yield {
        val (r, g, b) = pngPixel(id, x, y); 299L * r + 587L * g + 114L * b
      }
      val f = feats(id)
      assert(f.getBoolean(1) && f.getLong(2) === w.toLong &&
        f.getLong(3) === h.toLong, s"id $id")
      assert(f.getLong(5) === lum.sum / (w * h), s"id $id mean")
      assert(f.getLong(6) === lum.min && f.getLong(7) === lum.max, s"id $id")
      val expDhash = (for (r <- 0 until 8; c <- 0 until 7) yield {
        def cell(cc: Int) = lum((r * h / 8) * w + (cc * w / 8))
        if (cell(c) > cell(c + 1)) 1L << (7 * r + c) else 0L
      }).sum
      assert(f.getLong(8) === expDhash, s"id $id dhash")
    }
    // the INDEPENDENT codec: javax.imageio reads our synthesized bytes to
    // the same pixels (proves the payloads are standard PNGs, not just
    // self-consistent)
    val payloads = ids.toDF("doc_id")
      .withColumn("payload", graft.operators.Multimodal.pngBytes(col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    Seq(0L, 7L, 13L, 29L).foreach { id =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payloads(id)))
      assert(img != null, s"ImageIO rejected id $id")
      val w = (8 + id % 7).toInt; val h = (8 + id % 6).toInt
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = pngPixel(id, x, y)
        assert((img.getRGB(x, y) & 0xFFFFFF) === ((r << 16) | (g << 8) | b),
          s"id $id pixel ($x,$y)")
      }
    }
  }

  test("pngFeatures decodes REAL-WORLD PNGs (ImageIO-encoded, its own " +
      "filter/deflate choices), rejects six malformed classes, and the " +
      "real-pixel dhash matches BMP renders of the same image") {
    import spark.implicits._
    // ImageIO encodes a deterministic pseudo-random truecolor image; our
    // decoder must recover its exact pixels through ImageIO's OWN
    // dynamic-huffman deflate + filter heuristics
    val rnd = new scala.util.Random(1616)
    val w = 23; val h = 17
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Array.tabulate(h, w)((_, _) =>
      (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(y)(x)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val real = bos.toByteArray
    val lum = for (y <- 0 until h; x <- 0 until w) yield {
      val (r, g, b) = px(y)(x); 299L * r + 587L * g + 114L * b
    }
    val good = Seq((1L, real)).toDF("doc_id", "payload")
    val gf = graft.operators.Multimodal.pngFeatures(good, "doc_id").collect()(0)
    assert(gf.getBoolean(1) === true, "ImageIO-encoded PNG must decode")
    assert(gf.getLong(2) === w.toLong && gf.getLong(3) === h.toLong)
    assert(gf.getLong(5) === lum.sum / (w * h))
    assert(gf.getLong(6) === lum.min && gf.getLong(7) === lum.max)
    // malformed classes
    val sigBad = { val b = real.clone(); b(0) = 0x42; b }
    val crcBad = { val b = real.clone(); b(40) = (b(40) ^ 0xFF).toByte; b }
    val truncated = real.take(real.length - 20)
    val synth7 = Seq(7L).toDF("doc_id")
      .withColumn("payload", graft.operators.Multimodal.pngBytes(col("doc_id")))
      .collect()(0).getAs[Array[Byte]]("payload")
    // corrupt a byte INSIDE the IDAT payload and refresh nothing: CRC
    // check must catch it before inflate is even attempted
    val rows = Seq(2L -> sigBad, 3L -> crcBad, 4L -> truncated)
      .toDF("doc_id", "payload")
      .unionByName(Seq(5L).toDF("doc_id")
        .withColumn("payload", lit(null).cast("binary")))
    val bad = graft.operators.Multimodal.pngFeatures(rows, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(2L, 3L, 4L, 5L).foreach { d =>
      assert(!bad(d).isNullAt(1) && bad(d).getBoolean(1) === false, s"doc $d")
      (2 to 8).foreach(i => assert(bad(d).isNullAt(i), s"doc $d col $i"))
    }
    require(synth7 != null) // keep the synthesized payload exercised above
    // cross-container dedup: a BMP render of the SAME pixels produces the
    // SAME real-pixel dhash (Hamming 0 through dhashNearDupsFromBits)
    val bmpRender = bmp(w, h)((x, y) => px(y)(x))
    val hashes = graft.operators.Multimodal.bmpDhash(
        Seq(10L -> bmpRender).toDF("doc_id", "payload"), "doc_id")
      .unionByName(graft.operators.Multimodal.pngDhash(
        Seq(11L -> real).toDF("doc_id", "payload"), "doc_id"))
    val pairs = graft.operators.Multimodal
      .dhashNearDupsFromBits(hashes, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs === Map((10L, 11L) -> 0L),
      s"BMP and PNG renders of one image must hash identically: $pairs")
  }

  test("pngDecode adversarial payloads (ADVICE r16): an FDICT zlib stream " +
      "returns null instead of spinning forever, and header-declared " +
      "giant dimensions are rejected BEFORE allocation") {
    import org.apache.spark.sql.graftvec.MediaExprs
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 4 + data.length + 4)
      bb.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(bb.array(), 4, 4 + data.length)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    def ihdr(w: Int, h: Int): Array[Byte] = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    // zlib header with FDICT set: CMF=0x78, FLG=0x20 ((0x7820 % 31) == 0,
    // bit 5 set), then a 4-byte DICTID + junk. Inflater.inflate() returns 0
    // with needsDictionary()=true and needsInput()=false on this stream —
    // the exact shape that used to loop forever.
    val fdictIdat = Array(0x78, 0x20, 0x01, 0x02, 0x03, 0x04, 0x00).map(_.toByte)
    val fdictPng = sig ++ chunk("IHDR", ihdr(8, 8)) ++
      chunk("IDAT", fdictIdat) ++ chunk("IEND", Array.emptyByteArray)
    val decoded = scala.concurrent.Await.result(
      scala.concurrent.Future(MediaExprs.pngDecode(fdictPng))(
        scala.concurrent.ExecutionContext.global),
      scala.concurrent.duration.Duration(30, "s"))
    assert(decoded == null, "FDICT stream must read as malformed")
    // w = h = 2^20 passes the per-dimension bound but h*(1+3w) ~ 3 TiB:
    // must be rejected in Long arithmetic before any buffer is allocated
    // (the old Int math wrapped, and a huge allocation OOMs the task)
    val giant = sig ++ chunk("IHDR", ihdr(1 << 20, 1 << 20)) ++
      chunk("IDAT", fdictIdat) ++ chunk("IEND", Array.emptyByteArray)
    assert(MediaExprs.pngDecode(giant) == null,
      "over-budget declared dimensions must read as malformed")
  }

  test("decoder differential fuzz: 12 random images through BOTH " +
      "containers (java.nio BMP + ImageIO PNG) recover identical features " +
      "from ground-truth pixels, incl. 1-pixel-wide/tall edge dims") {
    import spark.implicits._
    val rnd = new scala.util.Random(77416)
    // edge dims first (dhash grid degenerate axes, single-column
    // unfilter, every BMP padding residue), then random draws
    val dims = Seq((1, 1), (1, 13), (13, 1), (8, 8)) ++
      Seq.fill(8)((1 + rnd.nextInt(40), 1 + rnd.nextInt(40)))
    dims.zipWithIndex.foreach { case ((w, h), i) =>
      val px = Array.tabulate(h, w)((_, _) =>
        (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val lum = for (y <- 0 until h; x <- 0 until w) yield {
        val (r, g, b) = px(y)(x); 299L * r + 587L * g + 114L * b
      }
      val expDhash = (for (r <- 0 until 8; c <- 0 until 7) yield {
        def cell(cc: Int) = lum((r * h / 8) * w + (cc * w / 8))
        if (cell(c) > cell(c + 1)) 1L << (7 * r + c) else 0L
      }).sum
      val exp = (true, w.toLong, h.toLong, (w * h).toLong,
        lum.sum / (w * h), lum.min, lum.max, expDhash)
      // container 1: hand-built BMP through the byte-arithmetic decoder
      val viaBmp = graft.operators.Multimodal.bmpFeatures(
          Seq((1L, bmp(w, h)((x, y) => px(y)(x)))).toDF("doc_id", "payload"),
          "doc_id").collect()(0)
      // container 2: ImageIO-encoded PNG through the zlib decoder
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(y)(x)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      val viaPng = graft.operators.Multimodal.pngFeatures(
          Seq((1L, bos.toByteArray)).toDF("doc_id", "payload"),
          "doc_id").collect()(0)
      Seq("bmp" -> viaBmp, "png" -> viaPng).foreach { case (tag, f) =>
        val got = (f.getBoolean(1), f.getLong(2), f.getLong(3), f.getLong(4),
          f.getLong(5), f.getLong(6), f.getLong(7), f.getLong(8))
        assert(got === exp, s"draw $i ($tag) dims ${w}x$h")
      }
    }
  }

  test("gzipText -> gunzipText round-trips the corpus; interoperates " +
      "with the JDK replica; malformed members read NULL") {
    import spark.implicits._
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(100)
    val bad = docs.withColumn("payload",
        graft.operators.Multimodal.gzipText(col("text")))
      .withColumn("back", graft.operators.Multimodal.gunzipText(col("payload")))
      .filter(col("back").isNull || col("back") =!= col("text"))
      .count()
    assert(bad === 0L)
    // interop: a payload produced by a plain JDK GZIPOutputStream (not
    // our expression) decompresses; our payload decompresses with a
    // plain GZIPInputStream
    val txt = "interop check éß中文 12345"
    val jdkGz = {
      val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o)
      g.write(txt.getBytes("UTF-8")); g.close(); o.toByteArray
    }
    val viaExpr = Seq((1L, jdkGz)).toDF("doc_id", "payload")
      .select(graft.operators.Multimodal.gunzipText(col("payload")))
      .collect()(0).getString(0)
    assert(viaExpr === txt)
    val ourGz = Seq((1L, txt)).toDF("doc_id", "t")
      .select(graft.operators.Multimodal.gzipText(col("t")))
      .collect()(0).getAs[Array[Byte]](0)
    val back = new String(
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(ourGz)).readAllBytes(), "UTF-8")
    assert(back === txt)
    // malformed: wrong magic, truncated member, flipped CRC byte
    val malformed = Seq(
      2L -> "nonsense".getBytes("UTF-8"),
      3L -> jdkGz.take(jdkGz.length - 3),
      4L -> { val b = jdkGz.clone(); b(b.length - 5) = (b(b.length - 5) ^ 0x1).toByte; b })
      .toDF("doc_id", "payload")
    val nulls = malformed
      .select(graft.operators.Multimodal.gunzipText(col("payload")).as("t"))
      .collect().map(_.isNullAt(0))
    assert(nulls.forall(identity), "all malformed members must read NULL")
  }

  test("zipBytes -> zipEntries explodes members in archive order; JDK " +
      "interop both directions; malformed archives yield zero rows") {
    import spark.implicits._
    val got = graft.operators.Multimodal.zipEntries(
        Seq((7L, "hello zip wörld")).toDF("doc_id", "text")
          .withColumn("payload",
            graft.operators.Multimodal.zipBytes(col("doc_id"), col("text"))),
        "doc_id")
      .collect().map(r => (r.getLong(1), r.getString(2),
        new String(r.getAs[Array[Byte]]("data"), "UTF-8")))
    assert(got.toSeq === Seq((0L, "doc.txt", "hello zip wörld"),
      (1L, "meta.txt", "id=7")))
    // interop 1: plain java.util.zip reads our archive
    val payload = Seq((7L, "hello zip wörld")).toDF("doc_id", "text")
      .select(graft.operators.Multimodal.zipBytes(col("doc_id"), col("text")))
      .collect()(0).getAs[Array[Byte]](0)
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(payload))
    assert(zin.getNextEntry.getName === "doc.txt")
    assert(new String(zin.readAllBytes(), "UTF-8") === "hello zip wörld")
    assert(zin.getNextEntry.getName === "meta.txt")
    // interop 2: our exploder reads a THREE-member archive a plain
    // ZipOutputStream built (incl. an empty member and a nested path)
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    Seq("a/x.txt" -> "alpha", "empty.txt" -> "", "b.bin" -> "beta").foreach {
      case (n, c) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close()
    val three = graft.operators.Multimodal.zipEntries(
        Seq((1L, bos.toByteArray)).toDF("doc_id", "payload"), "doc_id")
      .collect().map(r => (r.getString(2), r.getLong(3)))
    assert(three.toSeq === Seq(("a/x.txt", 5L), ("empty.txt", 0L), ("b.bin", 4L)))
    // malformed: not a zip, truncated archive, NULL payload -> zero rows
    val badRows = Seq(
      2L -> "PKgarbage".getBytes("UTF-8"),
      3L -> bos.toByteArray.take(12),
      4L -> "not a zip at all".getBytes("UTF-8"))
      .toDF("doc_id", "payload")
      .unionByName(Seq(5L).toDF("doc_id")
        .withColumn("payload", lit(null).cast("binary")))
    assert(graft.operators.Multimodal.zipEntries(badRows, "doc_id").count() === 0L)
  }

  test("jpegBytes -> jpegFeatures: REAL ImageIO decode — exact dims, luma " +
      "stats within the documented lossy-tolerance band, dHash pairs with " +
      "the BMP render of the same gradient, malformed payloads read " +
      "valid=false") {
    import spark.implicits._
    def gradient(id: Long): (Int, Int, (Int, Int) => (Int, Int, Int)) = {
      val w = (8 + id % 7).toInt
      val h = (8 + id % 6).toInt
      (w, h, (x, y) => (
        255 * x / math.max(w - 1, 1),
        255 * y / math.max(h - 1, 1),
        255 * (x + y) / math.max(w + h - 2, 1)))
    }
    val docs = (0L until 24L).toDF("doc_id")
    val feats = graft.operators.Multimodal.jpegFeatures(
        docs.withColumn("payload",
          graft.operators.Multimodal.jpegBytes(col("doc_id"))),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    (0L until 24L).foreach { id =>
      val (w, h, px) = gradient(id)
      val f = feats(id)
      // EXACT invariants (the q297 oracle's columns)
      assert(f.getBoolean(1), s"id $id must decode")
      assert((f.getLong(2), f.getLong(3), f.getLong(4)) ===
        ((w.toLong, h.toLong, (w * h).toLong)), s"id $id dims")
      // lossy-tolerance band (the documented weaker-than-hash contract):
      // quality-1.0 DCT coding of a smooth gradient keeps mean luma
      // within a few luma units (1 unit = 1000 milli) of the true pixels
      val lum = for { y <- 0 until h; x <- 0 until w } yield {
        val (r, g, b) = px(x, y); 299L * r + 587L * g + 114L * b
      }
      val trueMean = lum.sum / (w * h)
      assert(math.abs(f.getLong(5) - trueMean) <= 8000L,
        s"id $id decoded mean ${f.getLong(5)} vs true $trueMean")
      assert(math.abs(f.getLong(6) - lum.min) <= 20000L, s"id $id min")
      assert(math.abs(f.getLong(7) - lum.max) <= 20000L, s"id $id max")
    }
    // cross-container near-dup: the JPEG render pairs with a LOSSLESS BMP
    // render of the same gradient at small Hamming distance
    val (w7, h7, px7) = gradient(7L)
    val hashes = graft.operators.Multimodal.bmpDhash(
        Seq(100L -> bmp(w7, h7)((x, y) => px7(x, y))).toDF("doc_id", "payload"),
        "doc_id")
      .unionByName(graft.operators.Multimodal.jpegDhash(
        Seq(101L).toDF("doc_id")
          .withColumn("payload", graft.operators.Multimodal.jpegBytes(lit(7L))),
        "doc_id"))
    val pairs = graft.operators.Multimodal
      .dhashNearDupsFromBits(hashes, maxHamming = 10, bands = 14)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((100L, 101L)),
      s"JPEG and BMP renders of one image must pair at small hamming: $pairs")
    assert(pairs((100L, 101L)) <= 10L)
    // malformed classes -> valid=false, NULL features
    val payload7 = Seq(7L).toDF("doc_id")
      .withColumn("payload", graft.operators.Multimodal.jpegBytes(col("doc_id")))
      .collect()(0).getAs[Array[Byte]]("payload")
    val bad = Seq(
      1L -> payload7.take(payload7.length / 2), // truncated entropy stream
      2L -> "not a jpeg".getBytes("UTF-8"),
      3L -> Array[Byte](0xFF.toByte, 0xD8.toByte, 0x00, 0x01)) // SOI then junk
      .toDF("doc_id", "payload")
      .unionByName(Seq(4L).toDF("doc_id")
        .withColumn("payload", lit(null).cast("binary")))
    val badF = graft.operators.Multimodal.jpegFeatures(bad, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L, 3L, 4L).foreach { d =>
      assert(!badF(d).isNullAt(1) && !badF(d).getBoolean(1), s"doc $d")
      (2 to 8).foreach(i => assert(badF(d).isNullAt(i), s"doc $d col $i"))
    }
  }

  test("jpegDecode decompression bomb (ADVICE r17): header-declared huge " +
      "dimensions are rejected from the SOF marker BEFORE any pixel " +
      "decode or allocation, and the budget matches the shared 64 MiB " +
      "discipline") {
    import org.apache.spark.sql.graftvec.MediaExprs
    // take a real small JPEG and patch the SOF dimensions in place: the
    // entropy stream stays tiny, but the header now declares a frame that
    // would allocate multi-GB if decoded (the exact crafted-payload class
    // the round-16 PNG advisory closed for zlib)
    def patched(newW: Int, newH: Int): Array[Byte] = {
      val b = MediaExprs.jpegSynth(7L).clone()
      var i = 2
      var sof = -1
      while (sof < 0 && i + 4 < b.length) {
        assert((b(i) & 0xFF) == 0xFF, s"marker walk derailed at $i")
        val m = b(i + 1) & 0xFF
        if (m == 0xC0 || m == 0xC1 || m == 0xC2) sof = i
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i += 2 // standalone
        else i += 2 + (((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF))
      }
      assert(sof > 0, "SOF marker not found in the synthesized JPEG")
      // SOF segment: FF Cx len(2) precision(1) height(2) width(2)
      b(sof + 5) = ((newH >> 8) & 0xFF).toByte
      b(sof + 6) = (newH & 0xFF).toByte
      b(sof + 7) = ((newW >> 8) & 0xFF).toByte
      b(sof + 8) = (newW & 0xFF).toByte
      b
    }
    // 60000x60000 = 3.6 Gpx: must read null fast — the header-only
    // ImageReader.getWidth/getHeight gate runs before ImageIO can
    // allocate the BufferedImage (whose OutOfMemoryError is an Error no
    // Exception gate catches); bounded-time via a Future
    val giant = scala.concurrent.Await.result(
      scala.concurrent.Future(MediaExprs.jpegDecode(patched(60000, 60000)))(
        scala.concurrent.ExecutionContext.global),
      scala.concurrent.duration.Duration(30, "s"))
    assert(giant == null, "bomb header must read as malformed")
    // 3000x3000 = 9 Mpx: fine under the old 2^24 budget, but over the
    // 64 MiB-aligned cap (~2.79 Mpx at 24 B/px of decode buffers) —
    // rejected from the header too
    assert(MediaExprs.jpegDecode(patched(3000, 3000)) == null,
      "over-budget dims must read as malformed under the aligned cap")
    // control: the unpatched payload still decodes
    assert(MediaExprs.jpegDecode(MediaExprs.jpegSynth(7L)) != null)
  }

  test("warcBytes -> warcRecords walks the .warc.gz container; hand-built " +
      "multi-record archives (incl. uncompressed) read back; malformed " +
      "classes yield zero rows") {
    import spark.implicits._
    // round-trip the synthesizer
    val got = graft.operators.Multimodal.warcRecords(
        Seq((9L, "crawled body wörds")).toDF("doc_id", "content")
          .withColumn("payload",
            graft.operators.Multimodal.warcBytes(col("doc_id"), col("content"))),
        "doc_id")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getString(3),
        new String(r.getAs[Array[Byte]]("content"), "UTF-8")))
    assert(got.toSeq === Seq(
      (0L, "response", "http://crawl.test/9", "crawled body wörds"),
      (1L, "metadata", "http://crawl.test/9", "id=9")))
    // interop 1: the synthesized payload is REAL concatenated gzip
    // members — a plain GZIPInputStream decompresses the whole file and
    // the plaintext starts with the spec's version line
    val payload = Seq((9L, "x")).toDF("doc_id", "content")
      .select(graft.operators.Multimodal.warcBytes(col("doc_id"), col("content")))
      .collect()(0).getAs[Array[Byte]](0)
    val plain = new String(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(payload)).readAllBytes(), "UTF-8")
    assert(plain.startsWith("WARC/1.0\r\n"))
    assert(plain.contains("\r\nContent-Length: 1\r\n"))
    assert("WARC/1\\.0".r.findAllIn(plain).length === 2, "both members decode")
    // interop 2: a hand-built THREE-record archive (one per-record gzip
    // member, an uncompressed-member mix is not legal .warc.gz so build
    // all three compressed), with case-funky header names, an extra
    // header to skip, and a warcinfo record WITHOUT a target URI
    def rec(typ: String, uri: Option[String], body: String, extra: String = ""): Array[Byte] = {
      val block = body.getBytes("UTF-8")
      val hdr = new StringBuilder("WARC/1.0\r\n")
      hdr.append(s"warc-TYPE: $typ\r\n")
      uri.foreach(u => hdr.append(s"WARC-Target-URI: $u\r\n"))
      if (extra.nonEmpty) hdr.append(extra)
      hdr.append(s"content-length: ${block.length}\r\n\r\n")
      val raw = hdr.toString.getBytes("UTF-8") ++ block ++ "\r\n\r\n".getBytes("UTF-8")
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      bos.toByteArray
    }
    val handBuilt = rec("warcinfo", None, "software: graft-test\r\n") ++
      rec("response", Some("http://h.test/a"), "alpha body",
        extra = "WARC-Concurrent-To: <urn:x>\r\n") ++
      rec("request", Some("http://h.test/a"), "")
    val hb = graft.operators.Multimodal.warcRecords(
        Seq((1L, handBuilt)).toDF("doc_id", "payload"), "doc_id")
      .collect().map(r => (r.getLong(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4)))
    assert(hb.toSeq === Seq(
      (0L, "warcinfo", None, 22L),
      (1L, "response", Some("http://h.test/a"), 10L),
      (2L, "request", Some("http://h.test/a"), 0L)))
    // an UNCOMPRESSED .warc also reads (gzip magic absent -> plain walk)
    val rawWarc =
      ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
        .getBytes("UTF-8")
    assert(graft.operators.Multimodal.warcRecords(
      Seq((2L, rawWarc)).toDF("doc_id", "payload"), "doc_id").count() === 1L)
    // malformed classes -> zero rows: truncated gzip, bad version line,
    // missing Content-Length, Content-Length past the end, a missing
    // CRLF CRLF separator, NULL payload
    def gz(raw: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(raw.getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    val bad = Seq(
      3L -> payload.take(20),
      4L -> gz("HTTP/1.1 200 OK\r\n\r\n"),
      5L -> gz("WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n"),
      6L -> gz("WARC/1.0\r\nWARC-Type: r\r\nContent-Length: 999\r\n\r\nhi\r\n\r\n"),
      7L -> gz("WARC/1.0\r\nWARC-Type: r\r\nContent-Length: 2\r\n\r\nhixx"))
      .toDF("doc_id", "payload")
      .unionByName(Seq(8L).toDF("doc_id")
        .withColumn("payload", lit(null).cast("binary")))
    assert(graft.operators.Multimodal.warcRecords(bad, "doc_id").count() === 0L)
  }

  test("tarBytes -> tarMembers walks POSIX ustar archives; GNU tar interop " +
      "BOTH directions; .tar.gz decodes; malformed archives yield zero rows") {
    import spark.implicits._
    import scala.sys.process._
    // round-trip the synthesizer
    val got = graft.operators.Multimodal.tarMembers(
        Seq((5L, "hello tar wörld")).toDF("doc_id", "text")
          .withColumn("payload",
            graft.operators.Multimodal.tarBytes(col("doc_id"), col("text"))),
        "doc_id")
      .collect().map(r => (r.getLong(1), r.getString(2),
        new String(r.getAs[Array[Byte]]("data"), "UTF-8")))
    assert(got.toSeq === Seq((0L, "doc.txt", "hello tar wörld"),
      (1L, "meta.txt", "id=5")))
    // interop 1: GNU tar lists AND extracts our archive byte-exactly
    val payload = Seq((5L, "hello tar wörld")).toDF("doc_id", "text")
      .select(graft.operators.Multimodal.tarBytes(col("doc_id"), col("text")))
      .collect()(0).getAs[Array[Byte]](0)
    val dir = java.nio.file.Paths.get(tempDir("graft-tar-"))
    val tf = dir.resolve("a.tar")
    java.nio.file.Files.write(tf, payload)
    val listed = Seq("tar", "-tf", tf.toString).!!.trim.split("\n").toSeq
    assert(listed === Seq("doc.txt", "meta.txt"), s"GNU tar listing: $listed")
    assert(Seq("tar", "-xf", tf.toString, "-C", dir.toString).! === 0)
    assert(new String(java.nio.file.Files.readAllBytes(
      dir.resolve("doc.txt")), "UTF-8") === "hello tar wörld")
    // interop 2: OUR walker reads a GNU-tar-built .tar.gz (different
    // header dialect: GNU magic, directory entries to skip)
    java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.write(dir.resolve("sub/x.txt"), "alpha".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("empty.bin"), Array.emptyByteArray)
    assert(Seq("tar", "-czf", dir.resolve("g.tar.gz").toString,
      "-C", dir.toString, "sub", "empty.bin").! === 0)
    val gnu = graft.operators.Multimodal.tarMembers(
        Seq((1L, java.nio.file.Files.readAllBytes(dir.resolve("g.tar.gz"))))
          .toDF("doc_id", "payload"), "doc_id")
      .collect().map(r => (r.getString(2), r.getLong(3)))
    assert(gnu.toSeq === Seq(("sub/x.txt", 5L), ("empty.bin", 0L)),
      s"GNU .tar.gz walk: ${gnu.toSeq} (directory entry must be skipped)")
    // malformed classes -> zero rows: corrupted header checksum, bad
    // magic, truncated data block, not-a-tar, NULL payload
    val badCk = payload.clone(); badCk(148) = '7'
    val badMagic = payload.clone(); badMagic(257) = 'X'
    val bad = Seq(
      2L -> badCk,
      3L -> badMagic,
      4L -> payload.take(520), // header promises more data than present
      5L -> ("x" * 600).getBytes("UTF-8"))
      .toDF("doc_id", "payload")
      .unionByName(Seq(6L).toDF("doc_id")
        .withColumn("payload", lit(null).cast("binary")))
    assert(graft.operators.Multimodal.tarMembers(bad, "doc_id").count() === 0L)
  }

  test("wavBytes -> wavFeatures round-trips against a driver-side replica " +
      "and the payloads are well-formed RIFF files") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    val feats = Multimodal.wavFeatures(
        docs.withColumn("payload", Multimodal.wavBytes(col("doc_id"))),
        "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    (0L until 40L).foreach { id =>
      val rate = 8000 + (id % 3) * 4000
      val s = (0 until (50 + id % 50).toInt).map { i =>
        val u = (id * 6151 + i * 2917) % 65536
        (u - (if (u >= 32768) 65536 else 0)).toInt
      }
      val zc = s.zip(s.tail).count { case (a, b) => a.toLong * b < 0 }
      val exp = (true, rate, s.size.toLong, s.map(x => math.abs(x).toLong).max,
        s.map(x => x.toLong * x).sum / s.size, zc.toLong)
      assert(feats(id) === exp, s"id $id")
    }
    // the synthesized payload also parses with the independent replica's
    // layout assumptions (magics + length bookkeeping)
    val one = docs.withColumn("payload", Multimodal.wavBytes(col("doc_id")))
      .filter(col("doc_id") === 7L).collect()(0).getAs[Array[Byte]]("payload")
    assert(new String(one.take(4), "US-ASCII") === "RIFF")
    assert(new String(one.slice(8, 16), "US-ASCII") === "WAVEfmt ")
    assert(one.length === 44 + 2 * (50 + 7 % 50))
  }
}
