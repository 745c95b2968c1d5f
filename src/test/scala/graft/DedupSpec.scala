package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Pins the hash-dependent dedup paths (MinHash-LSH, SimHash, bucketed
  * embedding) to their exact counterparts — the properties the driver's
  * rows-only check can't see.
  */
class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.table(spark, sfDir, "documents").cache()

  test("exact dedup keeps one representative per text and counts copies") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val nDocs = docs.count()
    assert(out.agg(sum(col("n_copies"))).head().getLong(0) === nDocs)
    // keep_id must be a real doc_id of a row with that text
    val bad = out.join(docs, out("keep_id") === docs("doc_id"), "left_anti").count()
    assert(bad === 0L)
  }

  test("exactRows equals the semi-join onto exact, NULL text and NULL ids included") {
    import spark.implicits._
    val d = Seq[(java.lang.Long, String)](
      (3L, "a"), (1L, "a"), (2L, "b"), (4L, null), (6L, null), (null, "b"),
      (null, "c"), (7L, "c"), (8L, "d"))
      .toDF("doc_id", "text")
    val semi = d.join(Dedup.exact(d, "text", "doc_id").select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val rows = Dedup.exactRows(d, "text", "doc_id")
    assert(rows.columns === d.columns)
    assert(rows.exceptAll(semi).count() === 0L && semi.exceptAll(rows).count() === 0L)
    assert(rows.count() === 5L) // 1 (a), 2 (b), 4 (NULL), 7 (c), 8 (d)
  }

  test("MinHash-LSH near-dups are a subset of exact Jaccard pairs with high recall") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", shingleK = 5, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, "text", "doc_id",
        shingleK = 5, threshold = 0.8, bands = 16, rowsPerBand = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification stage guarantees precision = 1 (every LSH pair passes exact Jaccard)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // 16 bands x 4 rows at t=0.8: collision prob >= 1-(1-0.8^4)^16 ~ 0.9996
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.9, s"recall $recall over ${exact.size} exact pairs")
    }
  }

  test("sourceOverlapMatrix: hand case — shared shingles counted once per source") {
    import spark.implicits._
    val d = Seq(
      (1L, "X", "a b c"),  // X shingles(k=2): {a b, b c}
      (2L, "X", "a b c"),  // duplicate doc: must not double-count postings
      (3L, "Y", "b c d"),  // Y shingles: {b c, c d}
      (4L, "Z", "x y z"))  // Z disjoint: no output rows with Z
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlapMatrix(d, "text", "source", shingleK = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet === Set(("X", "Y")))
    assert(got(("X", "Y")) === ((1L, 2L, 2L, 0.333333)))
  }

  test("minhashNearDupsAgainstBase: equals the batch pair set restricted to the delta") {
    val base = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") < 250), "text", "doc_id", 5)
    val delta = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") >= 250), "text", "doc_id", 5)
    val inc = Dedup.minhashNearDupsAgainstBase(base, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashNearDups(docs, "text", "doc_id")
      .filter(col("id_b") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Dedup.releaseCaches()
    // same LSH parameters, same verify threshold: the incremental result
    // must be EXACTLY the batch result minus base×base pairs — identical
    // jaccard values included
    assert(inc === full, s"only-inc: ${inc -- full}; only-batch: ${full -- inc}")
    // and the split must actually exercise both collision kinds at this
    // corpus (delta×base and delta×delta) or the test is vacuous
    assert(inc.nonEmpty, "corpus produced no delta-touching near-dup pairs")
  }

  test("pre-banded index (v2): stored band keys reproduce the unbanded " +
      "pair frame bit-for-bit, incl. mixed v1/v2 null-bands fallback") {
    val base = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") < 250), "text", "doc_id", 5)
    val delta = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") >= 250), "text", "doc_id", 5)
    def pairSet(b: org.apache.spark.sql.DataFrame,
        d: org.apache.spark.sql.DataFrame) = {
      val s = Dedup.minhashNearDupsAgainstBase(b, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Dedup.releaseCaches()
      s
    }
    val plain = pairSet(base, delta)
    // both sides pre-banded (the stored-index front-door shape)
    val banded = pairSet(
      Dedup.buildBandedIndex(base), Dedup.buildBandedIndex(delta))
    assert(banded === plain,
      s"only-banded: ${banded -- plain}; only-plain: ${plain -- banded}")
    // mixed v1/v2 store: rows whose bands column reads NULL (a v1
    // partition under a v2 schema) must fall back to computed keys, not
    // silently vanish from candidate generation
    val mixed = Dedup.buildBandedIndex(base)
      .withColumn("bands",
        when(col("doc") % 2 === 0, col("bands"))) // odd docs: bands = NULL
    assert(pairSet(mixed, delta) === plain)
    assert(plain.nonEmpty, "corpus produced no delta-touching pairs")
  }

  test("banded index geometry guard (v3): a store built under a DIFFERENT " +
      "(bands, rowsPerBand) is not trusted — consumers fall back to " +
      "computed keys and reproduce the plain pair frame") {
    val base = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") < 250), "text", "doc_id", 5)
    val delta = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") >= 250), "text", "doc_id", 5)
    def pairSet(b: org.apache.spark.sql.DataFrame,
        d: org.apache.spark.sql.DataFrame) = {
      val s = Dedup.minhashNearDupsAgainstBase(b, d) // consumer geometry 16x4
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Dedup.releaseCaches()
      s
    }
    val plain = pairSet(base, delta)
    assert(plain.nonEmpty, "corpus produced no delta-touching pairs")
    // v3 store stamped with 8x8 geometry: same sigLen (64 hashes), same
    // `bands`-array-of-longs shape BUT wrong key layout — without the
    // stamp check the consumer would silently use the stale keys and
    // (LSH only prunes) silently MISS pairs. With it, results are exact.
    val stale8x8 = Dedup.buildBandedIndex(base, bands = 8, rowsPerBand = 8)
    assert(pairSet(stale8x8, delta) === plain, "v3 stamp mismatch must fall back")
    // legacy v2 store (no bands_geom column) with a wrong band COUNT:
    // the size(bands) check catches this half of the geometry
    val staleV2 = Dedup.buildBandedIndex(base, bands = 8, rowsPerBand = 8)
      .drop("bands_geom")
    assert(pairSet(staleV2, delta) === plain, "v2 band-count mismatch must fall back")
    // and a MATCHING v3 stamp is still trusted (bit-equal fast path)
    assert(pairSet(Dedup.buildBandedIndex(base), delta) === plain)
  }

  test("nearDupBlame: earliest collider wins with ITS pair's jaccard, " +
      "counts match the pair frame") {
    val base = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") < 250), "text", "doc_id", 5)
    val delta = Dedup.buildShingleIndex(
      docs.filter(col("doc_id") >= 250), "text", "doc_id", 5)
    val pairs = Dedup.minhashNearDupsAgainstBase(base, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val blame = Dedup.nearDupBlame(base, delta)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    Dedup.releaseCaches()
    assert(pairs.nonEmpty && blame.nonEmpty)
    val byVictim = pairs.groupBy(_._2)
    assert(blame.keySet === byVictim.keySet)
    byVictim.foreach { case (victim, ps) =>
      val earliest = ps.minBy(_._1)
      assert(blame(victim) === ((earliest._1, earliest._3, ps.length.toLong)),
        s"victim $victim")
    }
  }

  test("SimHash near-dups: banding finds all pairs with hamming <= 3 (vs brute force)") {
    import graft.functions.{TextFunctions => T}
    val sigs = docs.select(col("doc_id"), T.simhash64(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val banded = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("connected components: large-star/small-star finds dedup clusters") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (7L, 3L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L && comps(7L) === 1L)
    assert(comps(10L) === 10L && comps(11L) === 10L)
  }

  test("connected components: 50-node chain converges within the default round budget") {
    import spark.implicits._
    // diameter 49 — min-label propagation needed ~49 rounds and could not
    // converge inside maxIter=20; large-star/small-star is O(log n) rounds
    val edges = (1L until 50L).map(i => (i, i + 1)).toDF("src", "dst")
    val comps = Dedup.starComponents(edges, maxIter = 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 50)
    assert(comps.values.forall(_ == 1L), "every chain node labels to the minimum")
  }

  test("connected components: self-loops label once, even mixed with real edges") {
    import spark.implicits._
    val pairs = Seq((5L, 5L), (1L, 2L), (2L, 2L), (9L, 9L)).toDF("id_a", "id_b")
    val rows = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // node 2 has a self-loop AND a real edge: exactly ONE label row, the star's
    assert(rows.sorted === Seq(1L -> 1L, 2L -> 1L, 5L -> 5L, 9L -> 9L))
  }

  test("connected components: the pair frame is evaluated once") {
    import spark.implicits._
    val evaluated = spark.sparkContext.longAccumulator("cc-pair-rows")
    val touch = udf { (a: Long) => evaluated.add(1); a }.asNondeterministic()
    // repartitioned so the projection runs in tasks, not folded into a
    // local relation on the driver
    val raw = Seq((5L, 5L), (1L, 2L), (2L, 3L), (2L, 2L), (9L, 9L), (1L, 2L))
      .toDF("a", "id_b").repartition(2)
    val pairs = raw.select(touch(col("a")).as("id_a"), col("id_b"))
    val rows = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(rows.sorted === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 9L -> 9L))
    assert(evaluated.value === 6L, "each pair row is computed once")
  }

  test("connected components match driver-side union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: classic union-find, then relabel every root to the
      // component MINIMUM (the contract connectedComponents promises)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val want = parent.keys.map(x => x -> x).toMap.keys
        .groupBy(find).flatMap { case (_, members) =>
          val m = members.min; members.map(_ -> m)
        }
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"trial $trial with ${edges.size} edges")
      // the distributed star rounds on the same bigint edges
      val stars = Dedup.starComponents(edges.distinct.toDF("src", "dst"), maxIter = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stars === want, s"star rounds, trial $trial")
    }
  }

  test("star invariant check rejects non-star edge sets the signature could miss") {
    import spark.implicits._
    // a star forest: roots 0 and 10, leaves point straight at them
    val star = Seq((1L, 0L), (2L, 0L), (11L, 10L)).toDF("src", "dst")
    assert(Dedup.isStarForest(star))
    // a chain: 2 -> 1 -> 0; node 1 is on both sides, so a signature
    // collision declaring convergence here would emit split labels
    val chain = Seq((2L, 1L), (1L, 0L)).toDF("src", "dst")
    assert(!Dedup.isStarForest(chain))
  }

  test("releaseCaches frees the persisted shingle indexes") {
    Dedup.releaseCaches() // clear anything earlier tests left behind
    docs.count() // materialize the suite-level docs cache so base includes it
    val base = spark.sparkContext.getPersistentRDDs.keySet
    // consume a dedup query so its tracked shingle index materializes
    Dedup.ngramJaccardPairs(docs, "text", "doc_id", shingleK = 5, threshold = 0.8).count()
    assert(spark.sparkContext.getPersistentRDDs.size > base.size,
      "shingle index should be cached while the result is consumed")
    Dedup.releaseCaches()
    // set difference, not a count: unrelated persistent RDDs (e.g. cc's
    // localCheckpoints) may be GC-released concurrently — the contract is
    // that NOTHING NEW outlives releaseCaches
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(leftover.isEmpty,
      s"releaseCaches must unpersist every tracked index; leaked RDDs: $leftover")
  }

  test("scoped caches: one pipeline's release cannot unpersist the other's") {
    Dedup.releaseAllCaches()
    docs.count() // materialize the suite-level docs cache into the baseline
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val scopeA = Dedup.newScope()
    val scopeB = Dedup.newScope()
    // two concurrent pipelines over DIFFERENT corpora — distinct logical
    // plans, so distinct cache entries (same-plan frames share ONE Spark
    // cache entry by design; that caveat is pinned by the FromIndex test)
    val corpusB = docs.limit(200)
    Dedup.inScope(scopeA) {
      Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleK = 5, threshold = 0.8).count()
    }
    val cachedA = spark.sparkContext.getPersistentRDDs.keySet -- base
    Dedup.inScope(scopeB) {
      Dedup.ngramJaccardPairs(corpusB, "text", "doc_id",
        shingleK = 5, threshold = 0.8).count()
    }
    val cachedB = spark.sparkContext.getPersistentRDDs.keySet -- base -- cachedA
    assert(cachedA.nonEmpty && cachedB.nonEmpty,
      "both pipelines should have live tracked indexes")
    // pipeline A tears down; pipeline B's index must stay cached
    Dedup.releaseScope(scopeA)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert((cachedB -- live).isEmpty,
      s"scope A's release dropped scope B's index: ${cachedB -- live}")
    assert((cachedA & live).isEmpty,
      s"scope A's entries must be freed: ${cachedA & live}")
    Dedup.releaseScope(scopeB)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(leftover.isEmpty, s"leaked after both releases: $leftover")
  }

  test("fuzzyKeyPairs: finds substitution/insertion/deletion neighbors " +
      "at dist <= 1, excludes dist 2, folds exact dups at dist 0, the " +
      "variant df cap drops hot blocks, determinism") {
    import spark.implicits._
    val keys = Seq(
      (1L, "banana"), (2L, "banan"),   // deletion: dist 1
      (3L, "banxna"),                  // substitution vs banana: dist 1
      (4L, "bananas"),                 // insertion vs banana: dist 1
      (5L, "banana"),                  // exact dup of 1: dist 0
      (6L, "orange"))                  // dist >= 2 from everything
    def read(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    val got = read(Dedup.fuzzyKeyPairs(keys.toDF("id", "key"), "key", "id"))
    // every dist-2 combination (banan/banxna, banan/bananas,
    // banxna/bananas, everything vs orange) must be absent
    assert(got === Map(
      (1L, 2L) -> 1L, (1L, 3L) -> 1L, (1L, 4L) -> 1L, (1L, 5L) -> 0L,
      (2L, 5L) -> 1L, (3L, 5L) -> 1L, (4L, 5L) -> 1L))
    // determinism under repartition
    assert(read(Dedup.fuzzyKeyPairs(
      keys.toDF("id", "key").repartition(5), "key", "id")) === got)
    // df cap: 50 identical keys share every variant -> capped away at
    // maxDf 10, nothing pairs (the documented recall trade)
    val hot = (1L to 50L).map(i => (i, "same")).toDF("id", "key")
    assert(Dedup.fuzzyKeyPairs(hot, "key", "id", maxDf = 10).count() === 0L)
    // and rare keys beside the hot block still pair
    val mixed = hot.union(Seq((100L, "rarekey"), (101L, "rarekeys")).toDF("id", "key"))
    val m = read(Dedup.fuzzyKeyPairs(mixed, "key", "id", maxDf = 10))
    assert(m === Map((100L, 101L) -> 1L))
  }

  test("ngramJaccardPairs: df cap prevents the f^2 stop-shingle bucket") {
    import spark.implicits._
    // 1,000 docs all sharing one stop shingle ("a b c d e") plus one unique
    // shingle each; without the cap the self-join would build a 10^6-pair
    // bucket. With maxDf=100 the stop shingle's postings are dropped, no
    // candidates survive, and the query finishes in bounded time.
    val docs = (1L to 1000L).map(i => (i, s"a b c d e u$i")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleK = 5, threshold = 0.8, maxDf = 100)
    assert(pairs.count() === 0L, "all shared shingles above the cap -> documented recall cost")
    // and the cap leaves genuinely rare shingles alone: two real dups still found
    val withDup = docs.union(Seq((2001L, "x y z w v q r"), (2002L, "x y z w v q r")).toDF("doc_id", "text"))
    val found = Dedup.ngramJaccardPairs(withDup, "text", "doc_id",
        shingleK = 5, threshold = 0.8, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === Set((2001L, 2002L)))
  }

  test("keepRepresentatives keeps exactly one doc per near-dup cluster") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", shingleK = 5, threshold = 0.8)
    val kept = Dedup.keepRepresentatives(docs, "doc_id", pairs)
    val total = docs.count()
    assert(kept.count() === total) // annotation, not a filter
    val perComponent = kept.filter(col("keep"))
      .groupBy("component").count().filter(col("count") =!= 1).count()
    assert(perComponent === 0L, "exactly one keeper per component")
    // the pair graph's nodes minus clusters = docs dropped
    val clustered = kept.filter(col("component") =!= col("doc_id")).count()
    val dropped = kept.filter(!col("keep")).count()
    assert(dropped === clustered)
  }

  test("bucketed embedding near-dups have no false positives vs exact cosine") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val exact = Dedup.embeddingNearDups(emb, "embedding", "vec_id", threshold = 0.25, bucketed = false)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Dedup.embeddingNearDups(emb, "embedding", "vec_id", threshold = 0.25, bucketed = true, lshBits = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(exact))
  }

  test("shared shingle index: FromIndex variants equal the self-building paths") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = Dedup.buildShingleIndex(docs, "text", "doc_id", shingleK = 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val jacBefore = pairSet(Dedup.ngramJaccardPairsFromIndex(index, threshold = 0.8))
      val mhBefore = pairSet(Dedup.minhashNearDupsFromIndex(index, threshold = 0.8))
      assert(jacBefore === pairSet(Dedup.ngramJaccardPairs(docs, "text", "doc_id", 5, 0.8)))
      assert(mhBefore === pairSet(Dedup.minhashNearDups(docs, "text", "doc_id", 5, 0.8)))
      // Spark cache identity is LOGICAL-PLAN-based: releaseCaches() on the
      // self-building paths' registry entries also drops this identical-plan
      // caller index (the documented same-plan caveat that scoping cannot
      // isolate — see the scoped-caches test for the distinct-plan
      // guarantee). Pin what the contract actually guarantees: results stay
      // CORRECT — the index silently rebuilds on next use.
      Dedup.releaseCaches()
      assert(pairSet(Dedup.ngramJaccardPairsFromIndex(index, threshold = 0.8)) === jacBefore)
      assert(pairSet(Dedup.minhashNearDupsFromIndex(index, threshold = 0.8)) === mhBefore)
    } finally index.unpersist(blocking = false)
  }

  test("shingle index written to storage serves FromIndex and survives releaseCaches") {
    // the documented production shape: materialize the index as a TABLE
    // (new scan plan — immune to the plan-based cache identity that lets
    // releaseCaches drop a same-plan persisted frame)
    val dir = tempDir("graft-shidx-")
    Dedup.buildShingleIndex(docs, "text", "doc_id", shingleK = 5)
      .write.parquet(s"$dir/index")
    val index = spark.read.parquet(s"$dir/index")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = pairSet(Dedup.minhashNearDups(docs, "text", "doc_id", 5, 0.8))
      Dedup.releaseCaches()
      assert(pairSet(Dedup.minhashNearDupsFromIndex(index, threshold = 0.8)) === want)
      // the written-table cache really does survive the global release
      assert(index.storageLevel.useMemory || index.storageLevel.useDisk)
    } finally index.unpersist(blocking = false)
  }

  test("composed dedup pipeline over one index: jaccard + minhash + components") {
    // the q31+q32+q39 composition the way a production pipeline runs it:
    // ONE corpus scan builds the index; all three passes consume it
    val index = Dedup.buildShingleIndex(docs, "text", "doc_id", shingleK = 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      index.count() // materialize once
      val jac = Dedup.ngramJaccardPairsFromIndex(index, threshold = 0.8)
      val mh = Dedup.minhashNearDupsFromIndex(index, threshold = 0.8)
      val reps = Dedup.keepRepresentatives(docs, "doc_id", mh)
      // independent reference: the self-building operators
      val jacRef = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 5, 0.8)
      val mhRef = Dedup.minhashNearDups(docs, "text", "doc_id", 5, 0.8)
      val repsRef = Dedup.keepRepresentatives(docs, "doc_id", mhRef)
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet(jac) === pairSet(jacRef))
      assert(pairSet(mh) === pairSet(mhRef))
      assert(reps.filter(col("keep")).count() === repsRef.filter(col("keep")).count())
      Dedup.releaseCaches()
    } finally index.unpersist(blocking = false)
  }

  test("fuzzyJoinEd1 matches the brute-force levenshtein<=1 cross join") {
    import spark.implicits._
    val a = Seq("cat", "cart", "dog", "house", "mouse", "ab", "a", "hello").toDF("w")
    val b = Seq("cot", "cat", "carts", "dig", "mouse", "ba", "b", "jello", "zzz").toDF("w")
    val fast = Dedup.fuzzyJoinEd1(a, b, "w", "w")
      .select("w1", "w2").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val brute = a.crossJoin(b.withColumnRenamed("w", "w2"))
      .filter(levenshtein(col("w"), col("w2")) <= 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fast === brute, s"fast=${fast}, brute=${brute}")
    // the known distance-2 false-positive shape is rejected by the verify
    assert(!fast.contains(("ab", "ba")))
    // substitutions, insert/delete, and exact matches are all present
    assert(fast.contains(("cat", "cot")) && fast.contains(("cart", "carts"))
      && fast.contains(("mouse", "mouse")) && fast.contains(("a", "b")))
  }

  test("tfidfCosinePairs: identical docs pass at cos=1, disjoint vocab never pairs") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // identical to 1 -> cos = 1
      (3L, "epsilon zeta eta theta"), // disjoint vocab -> no pair
      (4L, "alpha beta something else")) // partial overlap, below 0.8
      .toDF("doc_id", "text")
    val got = Dedup.tfidfCosinePairs(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    Dedup.releaseCaches()
    assert(got.map(t => (t._1, t._2)).toSet === Set((1L, 2L)))
    // identical vectors: S == SSa == SSb (cos exactly 1)
    val (_, _, dot, ssa, ssb) = got.head
    assert(dot === ssa && ssa === ssb && dot > 0L)
  }

  test("tfidfCosinePairs: q > 8 is rejected up front (decimal(38,0) window)") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.tfidfCosinePairs(d, "text", "doc_id", thresholdP = 9, thresholdQ = 10)
    }
    assert(ex.getMessage.contains("p, q <= 8"),
      s"expected the numeric-window guard, got: ${ex.getMessage}")
  }

  test("tfidfCosinePairs: ubiquitous terms leave both numerator and norms") {
    import spark.implicits._
    // "common" appears in every doc -> idf_milli = round(1000*ln(4/4)) = 0,
    // dropped; docs 1/2 then share NOTHING and must not pair even though
    // they share the stopword
    val d = Seq(
      (1L, "common aaa"), (2L, "common bbb"), (3L, "common ccc"))
      .toDF("doc_id", "text")
    val got = Dedup.tfidfCosinePairs(d, "text", "doc_id").collect()
    Dedup.releaseCaches()
    assert(got.isEmpty)
  }

  test("tfidfCosinePairs matches a driver-side exact reference on the corpus sample") {
    import spark.implicits._
    val sample = docs.filter(col("doc_id") < 120)
    val got = Dedup.tfidfCosinePairs(sample, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.releaseCaches()
    // reference: same integer weights, brute-force all pairs
    val rows = sample.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase
        .split("\\s+").filter(_.nonEmpty).groupBy(identity).view
        .mapValues(ts => math.min(ts.length, 255).toLong).toMap)
    val n1 = rows.length + 1.0
    val dfm = rows.flatMap(_._2.keys).groupBy(identity).view.mapValues(_.size).toMap
    val idf = dfm.collect { case (t, df) if df <= 1000 =>
      t -> math.round(1000.0 * math.log(n1 / (df + 1))) }.filter(_._2 > 0)
    val w = rows.map { case (id, tfs) =>
      id -> tfs.collect { case (t, tf) if idf.contains(t) => t -> tf * idf(t) } }.toMap
    val want = (for {
      (a, wa) <- w.toSeq; (b, wb) <- w.toSeq if a < b
      s = wa.keySet.intersect(wb.keySet).toSeq.map(t => BigInt(wa(t)) * wb(t)).sum
      ssa = wa.values.map(x => BigInt(x) * x).sum
      ssb = wb.values.map(x => BigInt(x) * x).sum
      if s > 0 && 25 * s * s >= 16 * ssa * ssb
    } yield (a, b)).toSet
    assert(got === want)
    assert(want.nonEmpty, "corpus sample should contain at least one near-dup pair")
  }

  // ---------------------------------------------------- minhashEstimateErrors

  test("minhashEstimateErrors matches an exact driver-side md5 replica") {
    import spark.implicits._
    // two 21-token docs differing in the last token: 17 5-gram shingles
    // each, 16 shared -> J = 16/18 = 0.888889; plus an identical pair
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, s"$base alpha"), (2L, s"$base beta"),
      (3L, "same text here repeated exactly five times ok"),
      (4L, "same text here repeated exactly five times ok"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashEstimateErrors(d, "text", "doc_id",
        shingleK = 5, threshold = 0.8, nHashes = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    Dedup.releaseCaches()

    def shingles(text: String): Seq[String] = {
      val w = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      (if (w.length <= 5) Seq(w.mkString(" "))
       else w.sliding(5).map(_.mkString(" ")).toSeq).distinct
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sig(text: String): Seq[String] =
      (0 until 16).map(j => shingles(text).map(s => md5hex(s"${s}_$j")).min)
    def expected(ta: String, tb: String): (Long, Long, Long) = {
      val (sa, sb) = (shingles(ta).toSet, shingles(tb).toSet)
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      // round(j, 6) then * 1e6, replicating the engine's rounded-double path
      val exactPpm = math.round(BigDecimal(j).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
      val matches = sig(ta).zip(sig(tb)).count { case (x, y) => x == y }
      (exactPpm, 1000000L * matches / 16, math.abs(1000000L * matches / 16 - exactPpm))
    }
    val texts = Map(1L -> s"$base alpha", 2L -> s"$base beta",
      3L -> "same text here repeated exactly five times ok",
      4L -> "same text here repeated exactly five times ok")
    assert(got.keySet === Set((1L, 2L), (3L, 4L)))
    got.foreach { case ((a, b), v) => assert(v === expected(texts(a), texts(b)),
      s"pair ($a,$b)") }
    // identical docs: estimate must be exactly 1e6 with zero error
    assert(got((3L, 4L)) === ((1000000L, 1000000L, 0L)))
  }

  test("containmentPairs: embedded doc scores C=1 where Jaccard misses it") {
    import spark.implicits._
    // doc 1 (8 words -> 4 distinct 5-shingles) is verbatim inside doc 2's
    // much longer text; filler words are all distinct so extra shingles
    // never collide with doc 1's
    val small = "w1 w2 w3 w4 w5 w6 w7 w8"
    val filler = (1 to 60).map(i => s"f$i").mkString(" ")
    val d = Seq(
      (1L, small),
      (2L, s"$filler $small"),
      (3L, "totally different text with its own words entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "text", "doc_id",
        shingleK = 5, thresholdPpm = 900000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // doc1: 4 shingles, all inside doc2 -> c_ab = 1e6 exactly; doc2 has
    // 64 shingles (68 words) of which 4 shared -> c_ba = 62500
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L)) === ((4L, 1000000L, 62500L)))
    // symmetric Jaccard on the same pair is 4/64 = 0.0625 — far below any
    // dedup threshold; the pair is invisible to ngramJaccardPairs
    val jac = Dedup.ngramJaccardPairs(d, "text", "doc_id",
      shingleK = 5, threshold = 0.5)
    assert(jac.count() === 0L)
  }

  test("keepBestRepresentatives: highest score wins, ties break to min id, " +
      "singletons keep themselves") {
    import spark.implicits._
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 30L), (9L, 5L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.keepBestRepresentatives(scored, "doc_id", "score", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // cluster {1,2,3}: scores 10/30/30 -> tie 2 vs 3 -> doc 2 wins
    assert(got(1L) === ((1L, false)) && got(2L) === ((1L, true))
      && got(3L) === ((1L, false)))
    assert(got(9L) === ((9L, true)))   // singleton
    // exactly one keeper per component
    val keepers = got.values.groupBy(_._1).view.mapValues(_.count(_._2)).toMap
    assert(keepers.values.forall(_ === 1))
  }

  test("shingleNovelty: first doc owns its shingles, a verbatim copy owns none") {
    import spark.implicits._
    val text = "a b c d e f g h i j"   // 10 words -> 6 distinct 5-shingles
    val d = Seq(
      (1L, text),                       // first occurrence of everything
      (2L, text),                       // exact copy -> novelty 0
      (3L, s"$text k l m n o")          // shares 6, adds 5 new shingles
    ).toDF("doc_id", "text")
    val got = Dedup.shingleNovelty(d, "text", "doc_id", shingleK = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((6L, 6L, 1000000L)))
    assert(got(2L) === ((6L, 0L, 0L)))
    // doc 3: 15 words -> 11 shingles, 6 seen in doc 1, 5 novel
    assert(got(3L) === ((11L, 5L, 454545L)))
  }

  test("shingleNovelty: total novel shingles equals the distinct shingle count") {
    val out = Dedup.shingleNovelty(docs, "text", "doc_id", shingleK = 5)
    val totalNovel = out.agg(sum(col("n_novel"))).head().getLong(0)
    val distinctShingles = Dedup.buildShingleIndex(docs, "text", "doc_id", 5)
      .select(explode(col("sh"))).distinct().count()
    assert(totalNovel === distinctShingles)
  }

  test("containmentPairs matches a driver-side exact reference on the corpus") {
    val ref = {
      val texts = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def shingles(t: String): Set[String] = {
        val w = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        if (w.length <= 5) Set(w.mkString(" "))
        else w.sliding(5).map(_.mkString(" ")).toSet
      }
      val sets = texts.map { case (id, t) => id -> shingles(t) }
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size.toLong if inter > 0
        cab = 1000000L * inter / sa.size
        cba = 1000000L * inter / sb.size
        if math.max(cab, cba) >= 600000L
      } yield (a, b) -> ((inter, cab, cba))).toMap
    }
    val got = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleK = 5, thresholdPpm = 600000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === ref)
  }
}
